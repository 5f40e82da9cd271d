"""Codec round-trip property tests, mirroring the reference's test
strategy (SURVEY.md §5 / FIXTURES.md §A): the TestBro.java parameter
grid with PINNED seeds (the reference seeds from wall-clock,
TestBro.java:27-29 — we fix that), plus the TestBroCodec end-to-end
file test, strengthened to assert content (the reference never does).
"""

from __future__ import annotations

import os
import zlib

import pytest

from hadoop_brotli_spark.sources.bro_codec import (
    BroConfig,
    BroCorruptError,
    compress_stream,
    decompress_stream,
    is_bro_path,
    read_bro_bytes,
    write_bro_bytes,
)


def gen_payload(seed: int, n_chunks: int, chunk_size: int, entropy: int) -> bytes:
    """Deterministic payload shaped like TestBro.java:40-49:
    b[i] = abs(rand) % entropy + ascii_offset."""
    import random

    rng = random.Random(seed)
    out = bytearray()
    for _ in range(n_chunks):
        out.extend((rng.randrange(0, 256) % entropy + 48) % 256 for _ in range(chunk_size))
    return bytes(out)


def roundtrip(payload: bytes, quality: int, buffer_size: int) -> bytes:
    cfg = BroConfig(quality=quality, buffer_size=buffer_size)
    chunks = [
        payload[i : i + buffer_size] for i in range(0, len(payload), buffer_size)
    ]
    compressed = b"".join(compress_stream(chunks, cfg))
    comp_chunks = [
        compressed[i : i + buffer_size] for i in range(0, len(compressed), buffer_size)
    ]
    return b"".join(decompress_stream(comp_chunks, cfg))


# TestBro.java:74-92 grid, reduced for runtime but covering each axis
@pytest.mark.parametrize("chunk_size", [3333, 4096, 8192])
@pytest.mark.parametrize("entropy", [1, 10, 208])
@pytest.mark.parametrize("n_chunks", [0, 1, 3, 30])
def test_roundtrip_grid(chunk_size, entropy, n_chunks):
    payload = gen_payload(42, n_chunks, chunk_size, entropy)
    assert roundtrip(payload, quality=6, buffer_size=2 * 1024 * 1024) == payload


@pytest.mark.parametrize("quality", [1, 5, 11])  # TestBro.java:84-86
def test_quality_sweep(quality):
    payload = gen_payload(7, 8, 4096, 32)
    assert roundtrip(payload, quality=quality, buffer_size=2 * 1024 * 1024) == payload


def test_tiny_stream_buffer():
    """333-byte buffer forces many partial drains (TestBro.java:78)."""
    payload = gen_payload(11, 5, 3333, 10)
    assert roundtrip(payload, quality=6, buffer_size=333) == payload


def test_empty_stream():
    """chunkNumber=0 edge case (BroCompressor.java:96-98)."""
    assert roundtrip(b"", quality=6, buffer_size=333) == b""


def test_large_stream_bounded_memory():
    """Large payload streamed in blocks (TestBro 82 MB cell, scaled)."""
    payload = gen_payload(3, 200, 8192, 208)  # ~1.6 MB
    assert roundtrip(payload, quality=5, buffer_size=64 * 1024) == payload


def test_file_roundtrip(tmp_path):
    payload = gen_payload(9, 10, 4096, 32)
    p = str(tmp_path / "data.bro")
    n = write_bro_bytes(payload, p, BroConfig(quality=6))
    assert 0 < n < len(payload)  # low entropy compresses
    assert b"".join(read_bro_bytes(p)) == payload


def test_corrupt_stream_raises(tmp_path):
    """Reference decode result 0 ⇒ IOException("Corrupted")
    (BroDecompressor.java:105-111)."""
    p = str(tmp_path / "bad.bro")
    with open(p, "wb") as f:
        f.write(b"\x00this is not a valid stream\xff\xfe")
    with pytest.raises(BroCorruptError):
        b"".join(read_bro_bytes(p))


def test_extension_dispatch():
    assert is_bro_path("/x/y/part-0.bro")
    assert not is_bro_path("/x/y/part-0.gz")


def test_e2e_repeated_ascii_spark(spark, tmp_path):
    """TestBroCodec.java:38-52 equivalent through Spark: the 44-byte
    ASCII string repeated, written via write_bro_text and read back
    via read_bro_text — asserting content, unlike the reference."""
    from hadoop_brotli_spark.sources import read_bro_text, write_bro_text

    line = "gfi23weniogajn2o3ir4e2o3mta23krt23;'lkg'3a;r"
    n_lines = 5000  # reference uses 100k; scaled for test runtime
    df = spark.range(n_lines).select(F_col("id")).withColumn(
        "value", F_lit(line)
    ).select("value")
    out = str(tmp_path / "bro_out")
    n_files = write_bro_text(df.repartition(4), out)
    assert n_files == 4
    assert all(f.endswith(".bro") for f in os.listdir(out))

    back = read_bro_text(spark, out)
    assert back.count() == n_lines
    distinct = [r.value for r in back.select("value").distinct().collect()]
    assert distinct == [line]


def test_spark_roundtrip_real_table(spark, sf_dir, tmp_path):
    """documents.text through the .bro path survives byte-exact."""
    from hadoop_brotli_spark.catalog import load_table
    from hadoop_brotli_spark.sources import read_bro_text, write_bro_text

    docs = load_table(spark, sf_dir, "documents").select(
        F_col("text").alias("value")
    )
    out = str(tmp_path / "docs_bro")
    write_bro_text(docs, out, options={"bro.quality": 9})
    back = read_bro_text(spark, out)
    orig = sorted(r.value for r in docs.collect())
    got = sorted(r.value for r in back.select("value").collect())
    assert got == orig


from pyspark.sql.functions import col as F_col, lit as F_lit  # noqa: E402


def test_bro_csv_typed_roundtrip(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from hadoop_brotli_spark.catalog import load_table
    from hadoop_brotli_spark.sources.bro_spark import (
        read_bro_csv,
        write_bro_text,
    )

    nation = load_table(spark, sf_dir, "nation")
    n_ref = nation.count()
    csv_lines = nation.select(
        F.concat_ws(",", "n_nationkey", "n_name", "n_regionkey").alias("value")
    )
    out = str(tmp_path / "nation_bro_csv")
    write_bro_text(csv_lines, out)
    back = read_bro_csv(
        spark, out, "n_nationkey int, n_name string, n_regionkey int"
    )
    assert back.count() == n_ref
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in nation.collect()
    )


def test_bro_jsonl_typed_roundtrip(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from hadoop_brotli_spark.catalog import load_table
    from hadoop_brotli_spark.sources.bro_spark import (
        read_bro_jsonl,
        write_bro_text,
    )

    region = load_table(spark, sf_dir, "region")
    json_lines = region.select(F.to_json(F.struct("r_regionkey", "r_name")).alias("value"))
    out = str(tmp_path / "region_bro_jsonl")
    write_bro_text(json_lines, out)
    back = read_bro_jsonl(spark, out, "r_regionkey int, r_name string")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in region.collect()
    )


def test_bro_python_datasource_roundtrip(spark, sf_dir, tmp_path):
    """spark.read.format('bro') / write.format('bro'): registered
    Python data source round-trips lines with quality options, one
    file per partition, one partition per file on read."""
    from pyspark.sql import functions as F

    from hadoop_brotli_spark.catalog import load_table
    from hadoop_brotli_spark.sources.bro_datasource import register_bro_source

    register_bro_source(spark)
    docs = load_table(spark, sf_dir, "documents").select(
        F.concat_ws("\t", "doc_id", "text").alias("value")
    )
    out = str(tmp_path / "ds_bro")
    docs.repartition(3).write.format("bro").option("bro.quality", "5").mode(
        "append"
    ).save(out)
    import glob

    files = glob.glob(f"{out}/*.bro")
    assert len(files) == 3
    back = spark.read.format("bro").load(out)
    assert back.columns == ["value", "path"]
    # framed default: these small files are one block each, so one
    # partition per file (multi-block splitting covered in TestBro2Framed)
    assert back.rdd.getNumPartitions() == 3
    assert sorted(r.value for r in back.collect()) == sorted(
        r.value for r in docs.collect()
    )
    # a glob match that is a directory contributes the .bro files
    # directly inside it, next to the files the glob matched itself
    docs.coalesce(1).write.format("bro").mode("append").save(f"{out}/wave2")
    both = spark.read.format("bro").load(f"{out}/*")
    assert sorted(r.value for r in both.collect()) == sorted(
        2 * [r.value for r in docs.collect()]
    )


def test_bro_datasource_streaming(spark, sf_dir, tmp_path):
    """Streaming format('bro'): files present at start are one batch;
    a file landing later is picked up as a new batch; a glob over the
    directory and a later subdirectory streams both waves, the same
    rows as the batch read of that glob."""
    import glob

    from pyspark.sql import functions as F

    import os

    from hadoop_brotli_spark.catalog import load_table
    from hadoop_brotli_spark.sources.bro_codec import Bro2Writer, BroConfig
    from hadoop_brotli_spark.sources.bro_datasource import register_bro_source
    from hadoop_brotli_spark.sources.bro_spark import (
        read_bro_text,
        write_bro_text,
    )

    register_bro_source(spark)
    out = str(tmp_path / "stream_bro")
    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("value")
    )
    nation.repartition(2).write.format("bro").mode("append").save(out)

    stream = spark.readStream.format("bro").load(out)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_ds_bro")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        first = sorted(r.value for r in nation.collect())
        got_first = sorted(
            r.value for r in spark.sql("SELECT value FROM t_ds_bro").collect()
        )
        assert got_first == first
        # late-arriving file → next micro-batch. Published atomically
        # (tmp + os.replace, framed) — the source's publish contract;
        # the footer probe admits it on the first poll after rename.
        cfg = BroConfig.from_options(None)
        tmp = f"{out}/late-00000.bro.tmp"
        with Bro2Writer(tmp, cfg) as w:
            w.write_block(b"extra_row\n")
        os.replace(tmp, f"{out}/late-00000.bro")
        q.processAllAvailable()
        n2 = spark.sql("SELECT COUNT(*) c FROM t_ds_bro").first().c
        assert n2 == len(first) + 1
    finally:
        q.stop()
    assert len(glob.glob(f"{out}/*.bro")) == 3

    # second wave in a subdirectory; a new query over the glob drains
    # both waves
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("text").alias("value")
    )
    assert write_bro_text(docs.coalesce(1), os.path.join(out, "wave2")) == 1
    q2 = (
        spark.readStream.format("bro")
        .load(out + "/*")
        .select("value")
        .writeStream.format("memory")
        .queryName("t_ds_bro_waves")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(60)
    expected = sorted(first + ["extra_row"] + [r.value for r in docs.collect()])
    batch_all = sorted(r.value for r in read_bro_text(spark, out + "/*").collect())
    assert batch_all == expected
    got_all = sorted(
        r.value for r in spark.sql("SELECT value FROM t_ds_bro_waves").collect()
    )
    assert got_all == batch_all


def test_bro_stream_watermark_defers_inflight(tmp_path):
    """Driver-side planner unit test (no Spark): the watermark must
    never advance past an in-flight file, even when a newer completed
    file exists — otherwise membership-by-key would sweep the
    half-written file into a batch. A complete framed file is admitted
    by the footer probe regardless of age; a footer-less (in-flight)
    file falls to the settle window and is deferred while recent."""
    import os
    import time

    from hadoop_brotli_spark.sources.bro_codec import Bro2Writer, BroConfig
    from hadoop_brotli_spark.sources.bro_datasource import (
        BroStreamReader,
        _file_key,
    )

    cfg = BroConfig()
    now = time.time()

    def publish(name: str, payload: bytes, mtime_s: float) -> str:
        p = str(tmp_path / name)
        with Bro2Writer(p + ".tmp", cfg) as w:
            w.write_block(payload)
        os.replace(p + ".tmp", p)
        os.utime(p, (mtime_s, mtime_s))
        return p

    # settle window 100s: only the footer probe can admit a fresh file
    reader = BroStreamReader(
        {"path": str(tmp_path), "bro.stream.settle-ms": "100000"}
    )
    a = publish("a.bro", b"a\n", now)
    # probe admits a complete framed file instantly (no settle wait)
    assert reader.latestOffset() == {"wm": _file_key(a)}

    # half-written framed file (footer truncated) — sniffs as legacy,
    # mtime is fresh → deferred by the settle window
    b = publish("b.bro", b"b\n", now + 5)
    with open(b, "r+b") as f:
        f.truncate(os.path.getsize(b) - 10)
    os.utime(b, (now + 5, now + 5))
    # completed file NEWER than the in-flight one
    c = publish("c.bro", b"c\n", now + 10)
    # wm must hold at a: c is ready but sits above in-flight b
    assert reader.latestOffset() == {"wm": _file_key(a)}

    # b completes (atomic re-publish) → wm advances past both
    publish("b.bro", b"b\n", now + 7)
    assert reader.latestOffset() == {"wm": _file_key(c)}

    # membership (a, c] picks up exactly b and c
    parts = reader.partitions({"wm": _file_key(a)}, {"wm": _file_key(c)})
    assert sorted({p.path for p in parts}) == [b, c]

    # executor fan-out: a multi-block framed file plans one partition
    # PER BLOCK inside its micro-batch (the whole point of replacing
    # the driver-side SimpleDataSourceStreamReader)
    d = str(tmp_path / "d.bro")
    with Bro2Writer(d + ".tmp", cfg) as w:
        for i in range(3):
            w.write_block(f"d{i}\n".encode())
    os.replace(d + ".tmp", d)
    os.utime(d, (now + 20, now + 20))
    parts = reader.partitions({"wm": _file_key(c)}, {"wm": _file_key(d)})
    assert [p.path for p in parts] == [d, d, d]
    rows = [row for p in parts for row in reader.read(p)]
    assert sorted(v for v, _ in rows) == ["d0", "d1", "d2"]


def test_bro_streaming_inflight_stress_exactly_once(spark, tmp_path):
    """r7 verdict task 1 'done' test: start the query, concurrently
    publish files NON-atomically (incremental writes, both framed and
    legacy layouts), and require (a) the query never dies on a
    half-written file and (b) every row arrives exactly once."""
    import glob
    import json
    import os
    import threading
    import time

    from hadoop_brotli_spark.sources.bro_codec import (
        Bro2Writer,
        BroConfig,
        compress_stream,
    )
    from hadoop_brotli_spark.sources.bro_datasource import register_bro_source

    register_bro_source(spark)
    out = str(tmp_path / "stress_bro")
    os.makedirs(out)
    ckpt = str(tmp_path / "ckpt_stress")
    cfg = BroConfig()

    n_framed, n_legacy, rows_per_file = 4, 2, 5
    expected = {
        f"f{i}_r{j}"
        for i in range(n_framed + n_legacy)
        for j in range(rows_per_file)
    }

    def slow_publish_framed(i: int) -> None:
        # Bro2Writer writes header+blocks as it goes and the footer at
        # close — writing straight to the final name with sleeps is a
        # maximally non-atomic publish (visible half-written for ~30ms).
        p = f"{out}/f-{i:03d}.bro"
        with Bro2Writer(p, cfg) as w:
            for j in range(rows_per_file):
                w.write_block(f"f{i}_r{j}\n".encode())
                time.sleep(0.01)

    def slow_publish_legacy(i: int) -> None:
        payload = "".join(
            f"f{i}_r{j}\n" for j in range(rows_per_file)
        ).encode()
        blocks = list(compress_stream(iter([payload]), cfg))
        p = f"{out}/l-{i:03d}.bro"
        with open(p, "wb") as f:
            half = max(1, len(blocks[0]) // 2)
            f.write(blocks[0][:half])
            f.flush()
            time.sleep(0.05)
            f.write(blocks[0][half:])
            for b in blocks[1:]:
                f.write(b)

    stream = (
        spark.readStream.format("bro")
        .option("bro.stream.settle-ms", "150")
        .load(out)
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_stress_bro")
        .option("checkpointLocation", ckpt)
        .start()
    )

    def writer() -> None:
        for i in range(n_framed):
            slow_publish_framed(i)
            time.sleep(0.02)
        for i in range(n_legacy):
            slow_publish_legacy(n_framed + i)
            time.sleep(0.02)

    t = threading.Thread(target=writer)
    try:
        t.start()
        deadline = time.time() + 60
        while time.time() < deadline:
            q.processAllAvailable()
            got = [
                r.value
                for r in spark.sql("SELECT value FROM t_stress_bro").collect()
            ]
            if set(got) == expected and not t.is_alive():
                break
            time.sleep(0.1)
        assert q.exception() is None, q.exception()
        got = [
            r.value
            for r in spark.sql("SELECT value FROM t_stress_bro").collect()
        ]
        assert sorted(got) == sorted(expected)  # exactly once: no dupes/loss
    finally:
        t.join(timeout=10)
        q.stop()

    # offsets are O(1) watermarks, not file lists: every checkpointed
    # offset fits in one small json with a "wm" key
    offset_files = sorted(glob.glob(f"{ckpt}/offsets/*"))
    assert offset_files
    for of in offset_files:
        lines = open(of).read().splitlines()
        payload = json.loads(lines[-1])
        if isinstance(payload, str):  # engine may double-encode
            payload = json.loads(payload)
        assert set(payload) == {"wm"}
        # the offset itself (not Spark's file header/conf) is O(1)
        assert len(lines[-1]) < 256


def test_bro_streaming_restart_from_checkpoint(spark, tmp_path):
    """Exactly-once across a stop/restart: the (mtime, name) watermark
    checkpoint must resume without re-reading or skipping files."""
    import os

    from hadoop_brotli_spark.sources.bro_codec import Bro2Writer, BroConfig
    from hadoop_brotli_spark.sources.bro_datasource import register_bro_source

    register_bro_source(spark)
    out = str(tmp_path / "restart_bro")
    os.makedirs(out)
    ckpt = str(tmp_path / "ckpt_restart")
    cfg = BroConfig()

    def publish(name: str, lines: list) -> None:
        p = f"{out}/{name}"
        with Bro2Writer(p + ".tmp", cfg) as w:
            w.write_block(("".join(x + "\n" for x in lines)).encode())
        os.replace(p + ".tmp", p)

    publish("one.bro", ["r1", "r2"])
    sink = str(tmp_path / "sink_restart")

    def run_once() -> list:
        # parquet sink: supports checkpoint recovery and upgrades the
        # source's deterministic replays to end-to-end exactly-once
        stream = spark.readStream.format("bro").load(out)
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return [r.value for r in spark.read.parquet(sink).collect()]

    got1 = run_once()
    assert sorted(got1) == ["r1", "r2"]
    # files landing while the query is DOWN are picked up on restart;
    # the committed watermark excludes the already-processed file
    publish("two.bro", ["r3"])
    got2 = run_once()
    assert sorted(got2) == ["r1", "r2", "r3"]  # no dupes, no loss


def test_bro_publish_bumps_mtime_to_commit_time(tmp_path):
    """r8 (advice-high): os.replace preserves the temp file's mtime, so
    a published file's (mtime_ns, name) watermark key could predate its
    visibility — a concurrent latestOffset poll between write and
    rename would advance the watermark past it and the file would never
    be read. Both sinks must utime the temp to publish time right
    before the rename."""
    import os
    import time

    from hadoop_brotli_spark.sources.bro_datasource import (
        BroStreamWriter,
        BroWriter,
    )

    # batch sink
    out = str(tmp_path / "batch_sink")
    w = BroWriter({"path": out}, overwrite=False)
    msg = w.write(iter([("hello",), ("world",)]))
    # simulate the write→commit gap (executor finished seconds ago)
    past = time.time() - 3600
    os.utime(msg.tmp, (past, past))
    t_before_commit = time.time_ns()
    w.commit([msg])
    assert os.stat(msg.final).st_mtime_ns >= t_before_commit

    # streaming sink
    out2 = str(tmp_path / "stream_sink")
    sw = BroStreamWriter({"path": out2})
    msg2 = sw.write(iter([("row",)]))
    os.utime(msg2.tmp, (past, past))
    t_before_commit = time.time_ns()
    sw.commit([msg2], batchId=7)
    final2 = f"{out2}/part-00000007-{msg2.final}.bro"
    assert os.stat(final2).st_mtime_ns >= t_before_commit


def test_bro_stream_probe_cost_is_o_new_files(tmp_path, monkeypatch):
    """r8 verdict task 1 'done' test: latestOffset must not re-probe
    files at/below the cached watermark — per-trigger footer I/O is
    O(new files), not O(directory)."""
    import os
    import time

    from hadoop_brotli_spark.sources import bro_datasource as ds
    from hadoop_brotli_spark.sources.bro_codec import Bro2Writer, BroConfig

    cfg = BroConfig()
    now = time.time()

    def publish(name: str, mtime_s: float) -> str:
        p = str(tmp_path / name)
        with Bro2Writer(p + ".tmp", cfg) as w:
            w.write_block(f"{name}\n".encode())
        os.replace(p + ".tmp", p)
        os.utime(p, (mtime_s, mtime_s))
        return p

    for i in range(20):
        publish(f"old-{i:03d}.bro", now + i)

    calls = {"n": 0}
    real_index = ds.read_bro2_index

    def counting_index(path, *a, **kw):
        calls["n"] += 1
        return real_index(path, *a, **kw)

    monkeypatch.setattr(ds, "read_bro2_index", counting_index)

    reader = ds.BroStreamReader({"path": str(tmp_path)})
    reader.latestOffset()  # first poll probes everything
    assert calls["n"] == 20

    calls["n"] = 0
    reader.latestOffset()  # steady-state poll, nothing new
    assert calls["n"] == 0

    publish("new-000.bro", now + 100)
    calls["n"] = 0
    reader.latestOffset()  # one new file → exactly one probe
    assert calls["n"] == 1


def test_bro_stream_watermark_restart_floor(tmp_path):
    """r8 (advice-medium): the watermark floor is in-memory; after a
    restart where retention deleted the committed files, latestOffset
    must not emit a key below an offset Spark already checkpointed —
    commit(end) and partitions(start, end) both re-seed the floor."""
    from hadoop_brotli_spark.sources.bro_datasource import BroStreamReader

    committed = {"wm": [1_000_000_000_000_000_000, "gone.bro"]}

    # restart path A: last batch committed → Spark calls commit(end)
    r = BroStreamReader({"path": str(tmp_path)})  # empty dir
    r.commit(committed)
    assert r.latestOffset() == committed  # no regression to [-1, ""]

    # restart path B: last batch uncommitted → Spark replays via
    # partitions(start, end)
    r2 = BroStreamReader({"path": str(tmp_path)})
    r2.partitions({"wm": [-1, ""]}, committed)
    assert r2.latestOffset() == committed


def test_bro_stream_clean_source(tmp_path):
    """Opt-in retirement of committed files bounds the glob at
    sustained ingest: delete removes them, archive moves them out of
    the watched directory (name + mtime preserved)."""
    import os
    import time

    from hadoop_brotli_spark.sources.bro_datasource import (
        BroStreamReader,
        _file_key,
    )
    from hadoop_brotli_spark.sources.bro_codec import Bro2Writer, BroConfig

    cfg = BroConfig()
    now = time.time()

    def publish(d, name: str, mtime_s: float) -> str:
        p = str(d / name)
        with Bro2Writer(p + ".tmp", cfg) as w:
            w.write_block(f"{name}\n".encode())
        os.replace(p + ".tmp", p)
        os.utime(p, (mtime_s, mtime_s))
        return p

    # delete mode: files at/below the committed watermark go away,
    # newer files survive
    d1 = tmp_path / "del"
    os.makedirs(d1)
    a = publish(d1, "a.bro", now)
    b = publish(d1, "b.bro", now + 10)
    r = BroStreamReader(
        {"path": str(d1), "bro.stream.clean-source": "delete"}
    )
    r.commit({"wm": _file_key(a)})
    assert not os.path.exists(a) and os.path.exists(b)

    # archive mode: moved under _archive/, invisible to the glob
    d2 = tmp_path / "arch"
    os.makedirs(d2)
    c = publish(d2, "c.bro", now)
    key_c = _file_key(c)
    r2 = BroStreamReader(
        {"path": str(d2), "bro.stream.clean-source": "archive"}
    )
    r2.commit({"wm": key_c})
    assert not os.path.exists(c)
    moved = d2 / "_archive" / "c.bro"
    assert moved.exists()
    assert _file_key(str(moved)) == key_c  # mtime + name preserved

    # archive-dir matched by a glob path: the reader must not list the
    # files it archived
    d3 = tmp_path / "glob"
    os.makedirs(d3)
    e = publish(d3, "e.bro", now)
    key_e = _file_key(e)
    r3 = BroStreamReader({
        "path": f"{d3}/*",
        "bro.stream.clean-source": "archive",
        "bro.stream.archive-dir": str(d3 / "_archive"),
    })
    assert r3.latestOffset() == {"wm": key_e}
    r3.commit({"wm": key_e})
    assert (d3 / "_archive" / "e.bro").exists()
    parts = r3.partitions({"wm": [-1, ""]}, {"wm": key_e})
    assert [type(p).__name__ for p in parts] == ["_BroEmptyPartition"]

    import pytest

    with pytest.raises(ValueError, match="clean-source"):
        BroStreamReader(
            {"path": str(d2), "bro.stream.clean-source": "bogus"}
        )


def test_codec_stats_real_counters():
    """The reference stubs getBytesRead/getBytesWritten to 0
    (BroCompressor.java:83-91); our counters must be real and
    symmetric across the round trip."""
    from hadoop_brotli_spark.sources.bro_codec import (
        CodecStats,
        compress_stream,
        decompress_stream,
    )

    payload = (b"engine " * 5000, b"stats " * 3000)
    c_stats, d_stats = CodecStats(), CodecStats()
    compressed = b"".join(compress_stream(iter(payload), stats=c_stats))
    raw = b"".join(decompress_stream(iter([compressed]), stats=d_stats))
    n_raw = sum(len(p) for p in payload)
    assert raw == b"".join(payload)
    assert c_stats.bytes_read == n_raw
    assert c_stats.bytes_written == len(compressed) > 0
    assert d_stats.bytes_read == len(compressed)
    assert d_stats.bytes_written == n_raw
    assert 0 < c_stats.ratio < 1  # compressible payload


# ------------------------------------------------------------------
# Dictionary support — the reference's declared-but-empty TODO
# (BroCompressor.setDictionary no-op, BroCompressor.java:78-81;
# README.md:4-5 "Custom dictionary support"). We implement it.

DICT = b"select from where group by order limit join table scan " * 8
DICT_PAYLOAD = (
    b"select value from table where key group by value order by key " * 500
)


def test_dictionary_roundtrip_and_benefit(tmp_path):
    from hadoop_brotli_spark.sources.bro_codec import (
        BroConfig,
        read_bro_bytes,
        write_bro_bytes,
    )

    plain_cfg = BroConfig()
    dict_cfg = BroConfig.from_options({"bro.dictionary": DICT})

    p_plain = str(tmp_path / "plain.bro")
    p_dict = str(tmp_path / "dict.bro")
    n_plain = write_bro_bytes(DICT_PAYLOAD, p_plain, plain_cfg)
    n_dict = write_bro_bytes(DICT_PAYLOAD, p_dict, dict_cfg)

    assert b"".join(read_bro_bytes(p_dict, dict_cfg)) == DICT_PAYLOAD
    # a dictionary of the payload's vocabulary must not hurt
    assert n_dict <= n_plain


def test_dictionary_file_option(tmp_path):
    from hadoop_brotli_spark.sources.bro_codec import (
        BroConfig,
        read_bro_bytes,
        write_bro_bytes,
    )

    dict_path = tmp_path / "vocab.dict"
    dict_path.write_bytes(DICT)
    cfg = BroConfig.from_options({"bro.dictionary-file": str(dict_path)})
    p = str(tmp_path / "f.bro")
    write_bro_bytes(b"payload " * 1000, p, cfg)
    assert b"".join(read_bro_bytes(p, cfg)) == b"payload " * 1000


def test_wrong_or_missing_dictionary_is_corruption(tmp_path):
    from hadoop_brotli_spark.sources.bro_codec import (
        BroConfig,
        BroCorruptError,
        read_bro_bytes,
        write_bro_bytes,
    )

    # zlib backend: FDICT checksum makes wrong/missing dictionaries
    # loud even on unframed v1 streams
    cfg = BroConfig.from_options(
        {"bro.dictionary": DICT, "bro.backend": "zlib"}
    )
    p = str(tmp_path / "d.bro")
    write_bro_bytes(DICT_PAYLOAD, p, cfg)

    with pytest.raises(BroCorruptError):
        b"".join(
            read_bro_bytes(p, BroConfig(backend="zlib"))
        )  # missing dict
    with pytest.raises(BroCorruptError):
        bad = BroConfig.from_options(
            {"bro.dictionary": b"unrelated words", "bro.backend": "zlib"}
        )
        b"".join(read_bro_bytes(p, bad))  # wrong dict


def test_brotli_dictionary_corruption_via_bro2_crc(tmp_path):
    """Brotli raw dictionaries carry no checksum (unlike zlib FDICT),
    so the detection layer is the BRO2 container: the per-block crc32
    of the UNCOMPRESSED bytes turns wrong-dictionary garbage into
    BroCorruptError, and the header dictionary flag makes a missing
    dictionary a clear error before decode."""
    from hadoop_brotli_spark.sources.bro_codec import (
        BroConfig,
        BroCorruptError,
        has_brotli_encoder,
        read_bro2_bytes,
        write_bro2_bytes,
    )

    if not has_brotli_encoder():
        pytest.skip("no brotli encoder (wheel or system libbrotli)")
    cfg = BroConfig.from_options(
        {"bro.dictionary": DICT, "bro.backend": "brotli"}
    )
    p = str(tmp_path / "d2.bro")
    write_bro2_bytes(DICT_PAYLOAD, p, cfg)
    assert b"".join(read_bro2_bytes(p, cfg)) == DICT_PAYLOAD

    with pytest.raises(BroCorruptError):  # missing dict: header flag
        b"".join(read_bro2_bytes(p, BroConfig(backend="brotli")))
    with pytest.raises(BroCorruptError):  # wrong dict: block crc
        bad = BroConfig.from_options(
            {"bro.dictionary": b"unrelated words", "bro.backend": "brotli"}
        )
        b"".join(read_bro2_bytes(p, bad))


def test_bro_datasource_stream_writer(spark, sf_dir, tmp_path):
    """Streaming sink: rate-free end-to-end — .bro files in, stream
    transform, .bro files out, all through format('bro'); epoch files
    publish atomically and read back losslessly."""
    from pyspark.sql import functions as F

    from hadoop_brotli_spark.catalog import load_table
    from hadoop_brotli_spark.sources.bro_datasource import register_bro_source

    register_bro_source(spark)
    src = str(tmp_path / "in_bro")
    dst = str(tmp_path / "out_bro")

    nation = load_table(spark, sf_dir, "nation").select(
        F.col("n_name").alias("value")
    )
    nation.repartition(2).write.format("bro").mode("append").save(src)

    stream = (
        spark.readStream.format("bro")
        .load(src)
        .select(F.upper("value").alias("value"))
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("bro")
        .option("path", dst)
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    back = spark.read.format("bro").load(dst)
    got = sorted(r.value for r in back.collect())
    want = sorted(r.value.upper() for r in nation.collect())
    assert got == want
    # epoch-deterministic names, no temp residue — os.listdir, not
    # glob("*"): the sink's temp names start with ".epoch-" and
    # glob's dotfile exclusion would hide a leaked temp forever
    entries = os.listdir(dst)
    assert entries and all(e.endswith(".bro") for e in entries), entries


# ---------------------------------------------------------------- brotli
# Backend self-activation (VERDICT task 6): when a brotli wheel is
# present, run the full TestBro grid through the REAL brotli backend
# explicitly (not via the module-level default), so bitstream interop
# with the reference codec is covered the moment the environment
# allows it. Offline this is skipped-not-failed.

from hadoop_brotli_spark.sources.bro_codec import (  # noqa: E402
    HAS_BROTLI,
    BroCorruptError,
    _BrotliCompressor,
    _BrotliDecompressor,
    has_brotli_encoder,
    looks_like_zlib,
)


@pytest.mark.skipif(
    not has_brotli_encoder(),
    reason="no brotli encoder (wheel or system libbrotli)",
)
@pytest.mark.parametrize("entropy", [1, 10, 208])
@pytest.mark.parametrize("n_chunks", [0, 1, 3, 30])
def test_brotli_backend_grid(entropy, n_chunks):
    payload = gen_payload(42, n_chunks, 4096, entropy)
    comp = _BrotliCompressor(quality=6)
    compressed = comp.compress(payload) + comp.finish()
    dec = _BrotliDecompressor()
    out = dec.decompress(compressed)
    dec.finish()
    assert out == payload


def test_zlib_header_sniff():
    import zlib as z

    assert looks_like_zlib(z.compress(b"hello")[:2])
    # brotli streams (and arbitrary bytes) fail the RFC1950 check
    assert not looks_like_zlib(b"\x1b\x00")
    assert not looks_like_zlib(b"")
    assert not looks_like_zlib(b"\x8b\x1f")  # gzip magic reversed


def test_reference_bitstream_reads_transparently(tmp_path):
    """A brotli bitstream exactly as the reference codec writes it
    (raw stream under `.bro`) DECODES under backend=auto — the r3
    verdict's last interop gap, closed by the wheel -> ctypes ->
    pure-Python RFC 7932 decode chain. The fixed bytes are genuine
    brotli output (libbrotli q6 w22 for b"hello"), so this runs with
    no wheel and no system library."""
    from hadoop_brotli_spark.sources.bro_codec import read_bro_bytes

    p = tmp_path / "ref.bro"
    p.write_bytes(bytes.fromhex("0b028068656c6c6f03"))
    assert b"".join(read_bro_bytes(str(p))) == b"hello"


def test_reference_bitstream_fails_loudly_under_zlib_backend(tmp_path):
    """Same file forced through the EXPLICIT zlib backend must raise
    a clear backend-mismatch message, not a cryptic zlib error."""
    from hadoop_brotli_spark.sources.bro_codec import (
        BroConfig,
        read_bro_bytes,
    )

    p = tmp_path / "ref.bro"
    p.write_bytes(bytes.fromhex("0b028068656c6c6f03"))
    with pytest.raises(BroCorruptError, match="brotli bitstream"):
        b"".join(read_bro_bytes(str(p), BroConfig(backend="zlib")))


# ---------------------------------------------------------------------------
# BRO2 splittable framed container (exceeds the reference — the
# reference is non-splittable by design, BroCodec.java:18)
# ---------------------------------------------------------------------------


class TestBro2Framed:
    def test_roundtrip_multiblock(self, tmp_path):
        from hadoop_brotli_spark.sources.bro_codec import (
            read_bro2_bytes,
            read_bro2_index,
            write_bro2_bytes,
        )

        payload = b"".join(
            f"line-{i:06d} {'x' * (i % 37)}\n".encode() for i in range(4000)
        )
        p = str(tmp_path / "multi.bro")
        blocks = write_bro2_bytes(payload, p, block_size=8192)
        assert len(blocks) > 4  # genuinely multi-block
        header, idx = read_bro2_index(p)
        assert header.backend in ("zlib", "brotli")
        assert [(b.offset, b.clen) for b in idx] == [
            (b.offset, b.clen) for b in blocks
        ]
        assert sum(b.ulen for b in idx) == len(payload)
        assert b"".join(read_bro2_bytes(p)) == payload

    def test_read_bro_bytes_sniffs_both_layouts(self, tmp_path):
        """read_bro_bytes transparently reads v2 AND legacy v1."""
        from hadoop_brotli_spark.sources.bro_codec import (
            read_bro_bytes,
            write_bro2_bytes,
            write_bro_bytes,
        )

        payload = b"alpha\nbeta\ngamma\n" * 500
        v1 = str(tmp_path / "v1.bro")
        v2 = str(tmp_path / "v2.bro")
        write_bro_bytes(payload, v1)
        write_bro2_bytes(payload, v2, block_size=1024)
        assert b"".join(read_bro_bytes(v1)) == payload
        assert b"".join(read_bro_bytes(v2)) == payload

    def test_block_corruption_is_isolated(self, tmp_path):
        """Flip a byte mid-file: only that block fails; every other
        block decodes (the failure unit is the block, not the file —
        exactly what makes the format safe to split)."""
        from hadoop_brotli_spark.sources.bro_codec import (
            read_bro2_block,
            read_bro2_index,
            write_bro2_bytes,
        )

        payload = b"".join(
            f"row-{i:05d} payload {'y' * 50}\n".encode() for i in range(2000)
        )
        p = str(tmp_path / "corrupt.bro")
        blocks = write_bro2_bytes(payload, p, block_size=4096)
        assert len(blocks) >= 3
        victim = blocks[len(blocks) // 2]
        raw = bytearray(open(p, "rb").read())
        raw[victim.offset + victim.clen // 2] ^= 0xFF
        open(p, "wb").write(bytes(raw))

        header, idx = read_bro2_index(p)  # index itself untouched
        ok, failed = 0, 0
        for b in idx:
            try:
                read_bro2_block(p, b, header)
                ok += 1
            except BroCorruptError:
                failed += 1
        assert failed == 1
        assert ok == len(idx) - 1

    def test_trailer_and_index_corruption_fail_loudly(self, tmp_path):
        from hadoop_brotli_spark.sources.bro_codec import (
            BRO2_TRAILER_LEN,
            is_bro2_file,
            read_bro2_index,
            write_bro2_bytes,
        )

        p = str(tmp_path / "t.bro")
        write_bro2_bytes(b"abc\n" * 1000, p, block_size=512)
        raw = bytearray(open(p, "rb").read())
        # corrupt one index byte (not the trailer): crc must catch it
        raw[-BRO2_TRAILER_LEN - 3] ^= 0x01
        open(p, "wb").write(bytes(raw))
        assert is_bro2_file(p)  # magic intact
        with pytest.raises(BroCorruptError, match="index crc"):
            read_bro2_index(p)
        # truncate the trailer: file no longer sniffs as v2
        open(p, "wb").write(bytes(raw[:-8]))
        assert not is_bro2_file(p)

    def test_empty_and_dictionary_blocks(self, tmp_path):
        from hadoop_brotli_spark.sources.bro_codec import (
            read_bro2_block,
            read_bro2_bytes,
            read_bro2_index,
            write_bro2_bytes,
        )

        # empty payload → one empty block, valid file
        p = str(tmp_path / "empty.bro")
        blocks = write_bro2_bytes(b"", p)
        assert len(blocks) == 1 and blocks[0].ulen == 0
        assert b"".join(read_bro2_bytes(p)) == b""

        # dictionary round-trip + loud failure without the dict
        d = str(tmp_path / "dict.bro")
        cfg = BroConfig(dictionary=b"the quick brown fox jumps")
        payload = b"the quick brown fox jumps over the lazy dog\n" * 200
        write_bro2_bytes(payload, d, cfg, block_size=2048)
        assert b"".join(read_bro2_bytes(d, cfg)) == payload
        header, idx = read_bro2_index(d)
        assert header.has_dictionary
        with pytest.raises(BroCorruptError, match="dictionary"):
            read_bro2_block(d, idx[0], header, BroConfig())

    def test_datasource_one_file_many_partitions(self, spark, sf_dir, tmp_path):
        """THE splittability proof: a single framed .bro file fans out
        to one Spark partition per block (the reference: always 1)."""
        from pyspark.sql import functions as F

        from hadoop_brotli_spark.catalog import load_table
        from hadoop_brotli_spark.sources.bro_datasource import (
            register_bro_source,
        )

        register_bro_source(spark)
        docs = load_table(spark, sf_dir, "documents").select(
            F.concat_ws("\t", "doc_id", "text").alias("value")
        )
        out = str(tmp_path / "split_bro")
        # ONE task writes ONE file with tiny blocks
        docs.coalesce(1).write.format("bro").option(
            "bro.block-size", "4096"
        ).mode("append").save(out)
        import glob

        files = glob.glob(f"{out}/*.bro")
        assert len(files) == 1
        from hadoop_brotli_spark.sources.bro_codec import read_bro2_index

        _, blocks = read_bro2_index(files[0])
        assert len(blocks) > 1

        back = spark.read.format("bro").load(out)
        assert back.rdd.getNumPartitions() == len(blocks)
        assert sorted(r.value for r in back.collect()) == sorted(
            r.value for r in docs.collect()
        )

    def test_datasource_legacy_unframed_option(self, spark, sf_dir, tmp_path):
        """bro.framed=false keeps the reference's exact non-splittable
        v1 stream layout; reads still work (sniff falls through)."""
        from pyspark.sql import functions as F

        from hadoop_brotli_spark.catalog import load_table
        from hadoop_brotli_spark.sources.bro_codec import is_bro2_file
        from hadoop_brotli_spark.sources.bro_datasource import (
            register_bro_source,
        )

        register_bro_source(spark)
        nation = load_table(spark, sf_dir, "nation").select(
            F.col("n_name").alias("value")
        )
        out = str(tmp_path / "legacy_bro")
        nation.coalesce(1).write.format("bro").option(
            "bro.framed", "false"
        ).mode("append").save(out)
        import glob

        files = glob.glob(f"{out}/*.bro")
        assert len(files) == 1 and not is_bro2_file(files[0])
        back = spark.read.format("bro").load(out)
        assert back.rdd.getNumPartitions() == 1
        assert back.count() == nation.count()


# ---------------------------------------------------------------------------
# Stored-mode brotli bitstream (RFC 7932 §9.2 interop without a wheel)
# ---------------------------------------------------------------------------


class TestStoredBrotli:
    def test_roundtrip(self):
        import os as _os

        from hadoop_brotli_spark.sources.bro_codec import (
            decode_brotli_stored,
            encode_brotli_stored,
            looks_like_brotli_stored,
            looks_like_zlib,
        )

        for payload in (b"", b"a", b"hello world\n" * 100, _os.urandom(200_000)):
            enc = encode_brotli_stored(payload)
            assert decode_brotli_stored(enc) == payload
            assert looks_like_brotli_stored(enc[:2])
            assert not looks_like_zlib(enc[:2])

    def test_bit_layout_matches_spec(self):
        """Independent bit-level check of the emitted stream against
        RFC 7932 hand-computed values (guards symmetric bugs the
        roundtrip can't see): for payload b'hi' —
        bit 0:   WBITS '0' (window 16)
        bit 1:   ISLAST 0
        bits 2-3: MNIBBLES '00' (4 nibbles)
        bits 4-19: MLEN-1 = 1
        bit 20:  ISUNCOMPRESSED 1
        pad to byte 3, then raw 'hi', then terminator byte '11' = 0x03.
        """
        from hadoop_brotli_spark.sources.bro_codec import encode_brotli_stored

        enc = encode_brotli_stored(b"hi")
        bits = [(enc[i >> 3] >> (i & 7)) & 1 for i in range(24)]
        assert bits[0] == 0  # WBITS -> 16
        assert bits[1] == 0  # ISLAST
        assert bits[2:4] == [0, 0]  # MNIBBLES code 0 -> 4 nibbles
        mlen_minus_1 = sum(b << i for i, b in enumerate(bits[4:20]))
        assert mlen_minus_1 == 1
        assert bits[20] == 1  # ISUNCOMPRESSED
        assert bits[21:24] == [0, 0, 0]  # pad to byte boundary
        assert enc[3:5] == b"hi"
        assert enc[5] == 0b00000011  # ISLAST=1, ISLASTEMPTY=1
        assert len(enc) == 6

    def test_empty_stream_is_one_byte(self):
        from hadoop_brotli_spark.sources.bro_codec import encode_brotli_stored

        # WBITS '0' + ISLAST 1 + ISLASTEMPTY 1 -> 0b110
        assert encode_brotli_stored(b"") == b"\x06"

    @pytest.mark.skipif(
        not has_brotli_encoder(),
        reason="no real brotli implementation (wheel or system libbrotli)",
    )
    def test_real_brotli_decodes_our_streams(self):
        """THE interop proof (self-activating): a conformant decoder
        (the same C library the reference codec binds, via wheel or
        ctypes) must read our stored-mode streams byte-for-byte."""
        from hadoop_brotli_spark.sources.bro_codec import (
            _BrotliDecompressor,
            encode_brotli_stored,
        )

        for payload in (b"", b"hello", b"payload " * 50_000):
            d = _BrotliDecompressor()
            assert d.decompress(encode_brotli_stored(payload)) + d.finish() \
                == payload

    def test_golden_vector_decode(self):
        """Checked-in golden brotli stream (libbrotli q6 output) — the
        cross-implementation decode check, now met by the pure-Python
        decoder in every environment."""
        from hadoop_brotli_spark.sources.brotli_pure import brotli_decompress

        golden = bytes.fromhex("0b028068656c6c6f03")
        assert brotli_decompress(golden) == b"hello"

    def test_datasource_stored_backend(self, spark, sf_dir, tmp_path):
        """format('bro') with bro.backend=stored-brotli writes framed
        files whose blocks are genuine brotli bitstreams; reads
        round-trip through the stored decoder."""
        from pyspark.sql import functions as F

        from hadoop_brotli_spark.catalog import load_table
        from hadoop_brotli_spark.sources.bro_codec import (
            decode_brotli_stored,
            read_bro2_index,
        )
        from hadoop_brotli_spark.sources.bro_datasource import (
            register_bro_source,
        )

        register_bro_source(spark)
        nation = load_table(spark, sf_dir, "nation").select(
            F.col("n_name").alias("value")
        )
        out = str(tmp_path / "stored_bro")
        nation.coalesce(1).write.format("bro").option(
            "bro.backend", "stored-brotli"
        ).mode("append").save(out)
        import glob

        files = glob.glob(f"{out}/*.bro")
        header, blocks = read_bro2_index(files[0])
        assert header.backend == "stored-brotli"
        # every block is a standalone valid brotli stream
        with open(files[0], "rb") as f:
            f.seek(blocks[0].offset)
            raw = f.read(blocks[0].clen)
        assert decode_brotli_stored(raw)  # decodes, non-empty
        back = spark.read.format("bro").load(out)
        assert sorted(r.value for r in back.collect()) == sorted(
            r.n_name for r in load_table(spark, sf_dir, "nation").collect()
        )
