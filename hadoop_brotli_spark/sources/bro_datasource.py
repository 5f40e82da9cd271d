"""``.bro`` as a first-class Spark data source:
``spark.read.format("bro")`` / ``df.write.format("bro")`` /
``readStream`` / ``writeStream`` via the PySpark 4 Python DataSource
API. This module is the only ``.bro`` I/O path: the batch reader and
writer and the streaming reader and writer all live here, and the
function-style helpers in ``bro_spark.py`` are thin wrappers over it.

This is the closest Spark-native analog of the reference's codec SPI
registration (`BroCodec` listed in ``io.compression.codecs`` +
extension dispatch, `BroCodec.java:56-59`): after one
``spark.dataSource.register(BroDataSource)`` call, any reader in the
session opens ``.bro`` files by format name with the same
``bro.quality`` / ``bro.buffer-size`` options the reference exposes
through Hadoop conf.

Reference-semantics notes:
- extension dispatch: only ``*.bro`` files are listed (§2a #4); a
  path (or glob match) that is a directory contributes the ``*.bro``
  files directly inside it
- legacy v1 files are non-splittable: one file ⇒ one InputPartition ⇒
  one task (§4), exactly like the reference's one-map-task-per-file
  deployment (`BroCodec.java:18` never implements
  SplittableCompressionCodec)
- framed BRO2 files (the default write path, ``bro.framed``) ARE
  splittable: independently compressed line-aligned blocks + a footer
  index ⇒ one InputPartition PER BLOCK — this removes the codec
  layer's only real 100 TB ceiling
- streaming bounded-memory decode/encode inside each task
- the writer emits one file per task and commits via task messages
  (atomic rename publish), so failed tasks never leave partial files
  visible

Scale notes (100 TB): read parallelism = block count for framed files
(``bro.block-size`` uncompressed bytes per block, default 4 MiB) and
file count for legacy files; the writer inherits upstream partitioning
(``df.repartition(n)`` sizes the files). Driver-side listing cost is
one glob + one footer read per file — the same metadata cost Parquet
pays.
"""

from __future__ import annotations

import glob
import os
import struct
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    WriterCommitMessage,
)

from .bro_codec import (
    BRO_EXTENSION,
    Bro2Block,
    Bro2Header,
    Bro2Writer,
    BroConfig,
    BroCorruptError,
    compress_stream,
    decompress_stream,
    is_bro2_file,
    read_bro2_block,
    read_bro2_index,
)


class BroFilePartition(InputPartition):
    """Legacy unframed v1 file: non-splittable, whole file = one task
    (mirrors the reference's `CompressionCodec`-only semantics)."""

    def __init__(self, path: str) -> None:
        self.path = path


class BroBlockPartition(InputPartition):
    """One independently-compressed BRO2 block = one task. This is the
    splittability the reference lacks (`BroCodec.java:18` never
    implements SplittableCompressionCodec): a single multi-block file
    fans out to as many tasks as it has blocks."""

    def __init__(self, path: str, header: Bro2Header, block: Bro2Block) -> None:
        self.path = path
        self.header = header
        self.block = block


class BroCommit(WriterCommitMessage):
    def __init__(self, tmp: str, final: str) -> None:
        self.tmp = tmp
        self.final = final


def _list_bro_files(path: str, skip_dir: str | None = None) -> list[str]:
    """``*.bro`` files named by ``path``: a file, a directory, or a glob
    whose matches are either. A matched directory contributes the
    ``*.bro`` files directly inside it, unless it is ``skip_dir``."""
    skip = os.path.abspath(skip_dir) if skip_dir else None
    files: list[str] = []
    for p in [path] if os.path.isdir(path) else glob.glob(path):
        if os.path.isdir(p):
            if os.path.abspath(p) != skip:
                files += glob.glob(os.path.join(glob.escape(p), f"*{BRO_EXTENSION}"))
        elif p.endswith(BRO_EXTENSION):
            files.append(p)
    return sorted(files)


def _file_partitions(path: str) -> list[InputPartition]:
    """Framed BRO2 files split into one partition PER BLOCK (the footer
    index read here is the only driver-side I/O — same O(metadata) cost
    as a Parquet footer). Legacy v1 files keep the reference's
    non-splittable 1-file-1-task semantics. Shared by the batch reader
    and the streaming reader's partition planner."""
    if is_bro2_file(path):
        header, blocks = read_bro2_index(path)
        return [BroBlockPartition(path, header, b) for b in blocks]
    return [BroFilePartition(path)]


def _partition_rows(
    partition: InputPartition, config: BroConfig
) -> Iterator[tuple]:
    """Decode one partition into (line, path) rows. Runs on EXECUTORS
    for both the batch reader and the streaming reader — the driver
    never touches block bytes."""
    path = partition.path

    if isinstance(partition, BroBlockPartition):
        # One block, decoded and crc-verified independently of
        # every other task. Blocks are line-aligned by the writer,
        # so no cross-partition record stitching is needed.
        data = read_bro2_block(path, partition.block, partition.header, config)
        lines = data.split(b"\n")
        if lines and lines[-1] == b"":
            lines.pop()  # writer terminates blocks with "\n"
        for line in lines:
            yield (line.decode("utf-8"), path)
        return

    def chunks() -> Iterator[bytes]:
        with open(path, "rb") as f:
            while True:
                b = f.read(config.buffer_size)
                if not b:
                    return
                yield b

    tail = b""
    for block in decompress_stream(chunks(), config):
        buf = tail + block
        lines = buf.split(b"\n")
        tail = lines.pop()
        for line in lines:
            yield (line.decode("utf-8"), path)
    if tail:
        yield (tail.decode("utf-8"), path)


class BroReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("bro source requires a path")
        self.config = BroConfig.from_options(dict(options))

    def partitions(self) -> Sequence[InputPartition]:
        parts: list[InputPartition] = []
        for p in _list_bro_files(self.path):
            parts.extend(_file_partitions(p))
        return parts

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        return _partition_rows(partition, self.config)


def _write_lines(rows: Iterator, tmp: str, config: BroConfig) -> bool:
    """Encode each row's first column as one newline-terminated line
    into ``tmp``, in line-aligned chunks of ``bro.block-size`` (framed)
    or ``bro.buffer-size`` (v1) bytes. Runs on executors for both
    sinks. Returns whether any row was consumed: the v1 flush tail is
    a few bytes even for zero input, so emitted bytes cannot tell."""
    consumed = False
    chunk_size = config.block_size if config.framed else config.buffer_size

    def line_chunks() -> Iterator[bytes]:
        nonlocal consumed
        batch: list[str] = []
        size = 0
        for row in rows:
            consumed = True
            v = row[0]
            batch.append("" if v is None else str(v))
            size += len(batch[-1]) + 1
            if size >= chunk_size:
                yield ("\n".join(batch) + "\n").encode("utf-8")
                batch, size = [], 0
        if batch:
            yield ("\n".join(batch) + "\n").encode("utf-8")

    if config.framed:
        # Splittable BRO2: each line-aligned chunk becomes one
        # independently compressed block; the footer index makes a
        # big task output fan back out to N read tasks.
        with Bro2Writer(tmp, config) as w:
            for chunk in line_chunks():
                w.write_block(chunk)
            if not consumed:
                w.write_block(b"")
    else:
        with open(tmp, "wb") as f:
            for block in compress_stream(line_chunks(), config):
                f.write(block)
    return consumed


def _publish(tmp: str, final: str) -> None:
    """Atomic publish on the driver. Bump mtime to publish time before
    the rename: os.replace preserves the temp file's mtime (set when
    the executor wrote it, possibly seconds earlier), and the stream
    reader's (mtime_ns, name) watermark would otherwise see a key that
    predates visibility — a concurrent poll could advance past it and
    skip the file forever. Explicit ns (not UTIME_NOW) — the kernel's
    coarse clock can lag time_ns by a tick."""
    import time

    now = time.time_ns()
    os.utime(tmp, ns=(now, now))
    os.replace(tmp, final)


def _remove_all(pattern: str) -> None:
    """Sweep temp files from failed/speculative task attempts: those
    never deliver a commit message, so abort() alone cannot reclaim
    them. Sinks are single-writer (see BroStreamWriter), so any temp
    left at commit/abort time is dead."""
    for leftover in glob.glob(pattern):
        try:
            os.remove(leftover)
        except OSError:
            pass


class BroWriter(DataSourceWriter):
    """Batch ``.bro`` sink: one ``part-<partition>.bro`` per task,
    published by ``commit()`` only on job success. Empty partitions
    still publish a (zero-line) file."""

    def __init__(self, options: dict, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("bro sink requires a path")
        self.config = BroConfig.from_options(dict(options))
        self.overwrite = overwrite

    def write(self, rows: Iterator) -> BroCommit:
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        os.makedirs(self.path, exist_ok=True)
        final = os.path.join(self.path, f"part-{pid:05d}{BRO_EXTENSION}")
        tmp = f"{final}.{uuid.uuid4().hex}.tmp"
        _write_lines(rows, tmp, self.config)
        return BroCommit(tmp=tmp, final=final)

    def commit(self, messages: list[BroCommit]) -> None:
        for m in messages:
            if m is not None:
                _publish(m.tmp, m.final)
        self._sweep_stale_tmps()

    def abort(self, messages: list[BroCommit]) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.tmp):
                os.remove(m.tmp)
        self._sweep_stale_tmps()

    def _sweep_stale_tmps(self) -> None:
        _remove_all(os.path.join(self.path, f"part-*{BRO_EXTENSION}.*.tmp"))


class _BroEmptyPartition(InputPartition):
    """Planned when a replayed offset range matches no surviving files
    (e.g. manual deletion between restart offsets) — yields nothing but
    keeps the micro-batch plan non-degenerate."""

    def __init__(self) -> None:
        super().__init__(None)


def _file_key(path: str) -> list:
    """Watermark key for a published file: (mtime_ns, basename).
    JSON-serializable (offsets are opaque dicts) and totally ordered —
    list comparison gives (int, str) lexicographic order."""
    return [os.stat(path).st_mtime_ns, os.path.basename(path)]


class BroStreamReader(DataSourceStreamReader):
    """Streaming ``format("bro")``: new ``.bro`` files are the
    micro-batch unit. Production-shaped (r7):

    - **Executor-side reads.** ``partitions(start, end)`` plans one
      task per legacy file / per BRO2 block and ``read()`` decodes on
      executors — the driver only globs and reads BRO2 footers
      (O(metadata), same as Parquet). The previous
      ``SimpleDataSourceStreamReader`` materialized every micro-batch
      on the driver; at 100 TB ingest that was THE bottleneck.
    - **O(1) offsets.** An offset is a single ``(mtime_ns, name)``
      watermark, not the processed-file list. A file belongs to batch
      ``(start, end]`` iff ``start.wm < key(file) <= end.wm``; files
      are immutable once published, so replays between checkpointed
      offsets are deterministic (exactly-once with a checkpointed
      sink).
    - **In-flight files are deferred, not fatal.** ``latestOffset``
      probes each candidate: a framed BRO2 file is ready when its
      footer parses (magic + index crc — a half-written file fails
      the probe and is retried next trigger); a legacy v1 file is
      ready once its mtime is older than ``bro.stream.settle-ms``
      (default 200, writers bump mtime on every write). The watermark
      only advances to the largest ready key that is *below every
      not-ready key*, so a slow writer cannot be skipped by a faster
      neighbor — GIVEN one publisher per directory (next point).
    - **One publisher per directory (r9).** The no-skip guarantee
      assumes a single publisher process per directory: this module's
      sinks bump each file's mtime immediately before its own rename
      and after every earlier rename, so a key can never predate its
      visibility. With two INDEPENDENT publishers, a poll landing in
      one publisher's utime-to-rename gap could advance the watermark
      past the other's not-yet-visible key and skip it. Run multiple
      writers into separate directories (a glob path reads them all),
      or accept that a concurrent publisher must keep its
      utime-to-rename gap shorter than the poll interval.

    Publish contract (the sinks in this module follow it): write to a
    temp name, bump mtime to publish time (``os.utime``), then
    ``os.replace`` to ``*.bro``. The utime step matters — a bare
    rename PRESERVES the temp file's write-time mtime, so a file
    could become visible carrying a key that predates visibility and
    a concurrent poll could advance the watermark past it (silent,
    permanent skip). External publishers must either touch-before-
    rename the same way or write in place (mtime advances with every
    write, and the settle window defers the file until writes stop).
    A *completed* file that still fails decode is data corruption and
    fails the query loudly on the executor (silently skipping it
    would break exactly-once).

    Per-trigger driver cost is O(new files), not O(directory):
    candidates at/below the cached monotonic watermark are skipped
    before the readiness probe (the probe parses a BRO2 footer —
    real I/O), and the optional ``bro.stream.clean-source``
    (``off``/``delete``/``archive``) retires committed files at
    ``commit()`` so the glob itself stays bounded at sustained
    100 TB ingest. The watermark floor is re-seeded from every
    offset Spark hands back (``partitions(start, end)`` on replay,
    ``commit(end)`` on restart-with-committed-batch), so a restart
    can never emit an offset below one already checkpointed — even
    if retention deleted every file the glob would have rediscovered
    it from.
    """

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("bro stream source requires a path")
        self.config = BroConfig.from_options(dict(options))
        self.settle_ns = (
            int(options.get("bro.stream.settle-ms", "200")) * 1_000_000
        )
        self.clean_source = options.get("bro.stream.clean-source", "off")
        if self.clean_source not in ("off", "delete", "archive"):
            raise ValueError(
                "bro.stream.clean-source must be off|delete|archive, got "
                f"{self.clean_source!r}"
            )
        self.archive_dir = options.get("bro.stream.archive-dir", "")
        if not self.archive_dir:
            # The default <path>/_archive only makes sense when path
            # is a plain directory: for a glob pattern it would name
            # a literal '*.bro/_archive' directory that the glob can
            # then rediscover as a candidate (r9 — ADVICE). Require
            # an explicit archive-dir for pattern paths.
            if self.clean_source == "archive" and glob.has_magic(self.path):
                raise ValueError(
                    "bro.stream.archive-dir must be set explicitly when "
                    "path is a glob pattern (the <path>/_archive default "
                    "would live inside the pattern)"
                )
            self.archive_dir = os.path.join(self.path, "_archive")
        # Listing skips archive_dir even when a glob path matches it:
        # archived files keep their (mtime, name) keys, so a replayed
        # batch would plan them a second time.
        self._wm: list | None = None  # driver-side monotonic cache

    def _floor(self, *offsets: dict) -> None:
        """Raise the monotonic watermark floor to every offset Spark
        has shown us (checkpointed starts/ends). Keeps latestOffset
        from regressing after a restart where retention deleted the
        files the watermark was derived from."""
        for off in offsets:
            key = list(off["wm"])
            if self._wm is None or key > self._wm:
                self._wm = key

    def initialOffset(self) -> dict:
        return {"wm": [-1, ""]}

    def _ready(self, path: str, now_ns: int) -> bool:
        # BRO2 candidates are admitted the moment their footer parses
        # — no settle wait — so raising bro.stream.settle-ms for slow
        # legacy writers never delays framed ingest. The cost is a
        # single-publisher-per-directory assumption (r9 — ADVICE):
        # with TWO independent publishers, a poll landing inside one
        # publisher's utime->os.replace gap could see the other's
        # later-keyed file as ready and advance the watermark past
        # the not-yet-visible key. One publisher is safe by loop
        # ordering (each file's mtime bump precedes its own rename
        # and follows every earlier rename); see the class docstring.
        if is_bro2_file(path):
            try:
                read_bro2_index(path)
                return True
            except (BroCorruptError, OSError, ValueError, struct.error):
                return False  # footer not landed yet — retry next poll
        try:
            return now_ns - os.stat(path).st_mtime_ns >= self.settle_ns
        except OSError:
            return False

    def latestOffset(self) -> dict:
        import time

        now_ns = time.time_ns()
        ready: list[list] = []
        in_flight: list[list] = []
        for p in _list_bro_files(self.path, self.archive_dir):
            try:
                key = _file_key(p)
            except OSError:
                continue  # vanished between glob and stat
            if self._wm is not None and key <= self._wm:
                # Already inside a planned batch — never re-probe
                # (the probe parses the BRO2 footer, real I/O; at
                # millions of accumulated files this is the
                # difference between O(new) and O(directory) driver
                # work per trigger).
                continue
            (ready if self._ready(p, now_ns) else in_flight).append(key)
        # Never advance past an in-flight file: a later-keyed ready
        # file must wait, or membership-by-key would sweep the
        # half-written one into the batch.
        cutoff = min(in_flight) if in_flight else None
        eligible = [k for k in ready if cutoff is None or k < cutoff]
        wm = max(eligible) if eligible else None
        if wm is not None and (self._wm is None or wm > self._wm):
            self._wm = wm
        return {"wm": self._wm} if self._wm is not None else {"wm": [-1, ""]}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._floor(start, end)  # replayed offsets re-seed the floor
        lo, hi = list(start["wm"]), list(end["wm"])
        parts: list[InputPartition] = []
        for p in _list_bro_files(self.path, self.archive_dir):
            try:
                key = _file_key(p)
            except OSError:
                continue
            if lo < key <= hi:
                parts.extend(_file_partitions(p))
        # Deterministic: published files are immutable and the range is
        # fixed by the checkpointed offsets, so a replay re-plans the
        # same file set (block grain included — footers are immutable).
        return parts or [_BroEmptyPartition()]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        if isinstance(partition, _BroEmptyPartition):
            return iter(())
        return _partition_rows(partition, self.config)

    def commit(self, end: dict) -> None:
        # Spark calls this once a batch's sink commit lands — and on
        # restart for the last committed batch, which makes it the
        # floor-seeding path that covers "restart straight into
        # latestOffset" (partitions() is never called for committed
        # batches).
        self._floor(end)
        if self.clean_source == "off":
            return
        hi = list(end["wm"])
        for p in _list_bro_files(self.path, self.archive_dir):
            try:
                key = _file_key(p)
            except OSError:
                continue
            if key > hi:
                continue
            try:
                if self.clean_source == "delete":
                    os.remove(p)
                else:  # archive: rename preserves name + mtime
                    os.makedirs(self.archive_dir, exist_ok=True)
                    os.replace(
                        p,
                        os.path.join(self.archive_dir, os.path.basename(p)),
                    )
            except OSError:
                pass  # best-effort retirement; retried next commit


class BroStreamWriter(DataSourceStreamWriter):
    """Streaming ``.bro`` sink: one file per partition per epoch,
    published atomically at epoch commit.

    Exactly-once with a checkpointed query: file names are
    deterministic in (batchId, partitionId), so a replayed epoch
    rewrites the same files (idempotent ``os.replace``) instead of
    duplicating data; aborted epochs leave only ``.tmp`` files that
    never become visible. This is the sink-side twin of the
    file-list-offset stream reader above — together they give the
    codec path end-to-end streaming with the same at-least-once →
    exactly-once upgrade Spark's own file sink provides.

    Scope note: commit()/abort() run on the DRIVER and os.replace the
    task-written temp files, so the guarantee assumes a filesystem
    both driver and executors see (local FS in this repo's single-
    node scope, or NFS/shared mounts). On object stores you'd swap
    the rename for a manifest commit. The sink dir is assumed
    single-writer (one streaming query), which makes the stale-temp
    sweep at commit/abort safe.
    """

    def __init__(self, options: dict) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("bro stream sink requires a path")
        self.config = BroConfig.from_options(dict(options))

    def write(self, iterator) -> BroCommit:
        import uuid

        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx else 0
        # batchId is not exposed to the executor-side write();
        # name the temp uniquely and let commit() place it under the
        # epoch-deterministic final name.
        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(
            self.path, f".epoch-{uuid.uuid4().hex}-{pid:05d}.tmp"
        )
        if not _write_lines(iterator, tmp, self.config):
            os.remove(tmp)  # empty partition: publish nothing
            return BroCommit(tmp="", final="")
        return BroCommit(tmp=tmp, final=f"{pid:05d}")

    def commit(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.tmp:
                final = f"part-{batchId:08d}-{m.final}{BRO_EXTENSION}"
                _publish(m.tmp, os.path.join(self.path, final))
        self._sweep_stale_tmps()

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.tmp and os.path.exists(m.tmp):
                os.remove(m.tmp)
        self._sweep_stale_tmps()

    def _sweep_stale_tmps(self) -> None:
        # Epochs are serial per query, so a temp left at commit/abort
        # belongs to a dead task attempt.
        _remove_all(os.path.join(self.path, ".epoch-*.tmp"))


class BroDataSource(DataSource):
    """``format("bro")``: newline-delimited text in ``.bro`` files.

    Schema is fixed at ``value string, path string`` on read (the
    reference codec is schema-free byte streams; lines + provenance
    is the text-source view). On write, the first column is the line.
    """

    @classmethod
    def name(cls) -> str:
        return "bro"

    def schema(self) -> str:
        return "value string, path string"

    def reader(self, schema) -> BroReader:
        return BroReader(dict(self.options))

    def writer(self, schema, overwrite: bool) -> BroWriter:
        return BroWriter(dict(self.options), overwrite)

    def streamReader(self, schema) -> BroStreamReader:
        return BroStreamReader(dict(self.options))

    def streamWriter(self, schema, overwrite: bool) -> BroStreamWriter:
        return BroStreamWriter(dict(self.options))


def register_bro_source(spark) -> None:
    """One-call SPI registration (the ``io.compression.codecs`` analog)."""
    spark.dataSource.register(BroDataSource)
