"""The benchmark's workloads. Each one generates its inputs from the seed,
computes the expected outputs before timing, and yields the operations
of one pass in a seeded order. An operation times its own calls into
the engine's public functions and returns whether the output checked.

Layer names follow the modules they time: ``queries`` (the registered
builder ``fn(spark, sf_dir)``), ``plans`` (physical planning and the
``plans.inspect`` census), ``exec`` (running the plan),
``bro_datasource`` (``format("bro")``), ``bro_spark``
(``write_bro_text``/``read_bro_text``) and ``bro_codec`` (in-process
codec calls).
"""

from __future__ import annotations

import os
import random
import shutil
import time
from collections import defaultdict
from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from checks import (
    checksum_frame,
    columns_of,
    lines_checksum_frame,
    oracle_checksum,
)
from datagen import write_corpus, write_tables
from status import StageCounters, StageCursor, StatusStore
from spans import Tracer

MIB = float(1 << 20)


@dataclass
class Context:
    spark: object
    specs: dict
    tracer: Tracer
    store: StatusStore
    cursor: StageCursor | None = None

    def stages(self, span) -> StageCounters:
        """Counters of the stages run since the previous call, also kept
        on ``span`` (traced passes only)."""
        c = self.cursor.take()
        span.counters = vars(c)
        return c


@dataclass
class PassStats:
    """Counters summed over one pass (traced passes only)."""

    counts: dict = field(default_factory=lambda: defaultdict(float))

    def add(self, name: str, value: float) -> None:
        self.counts[name] += value

    def add_stages(self, prefix: str, c: StageCounters) -> None:
        for k, v in vars(c).items():
            self.add(f"{prefix}.{k}", v)


Op = Callable[[Context, PassStats | None], bool]


class QueryWorkload:
    """Registered queries over generated star-schema tables. One
    operation builds the DataFrame, plans the per-row hash aggregate
    over all its columns, executes it and compares the checksum with
    the one computed from the DuckDB oracle's rows."""

    def __init__(self, name: str, queries: list[str], sf: float, nominal_pass_s: float,
                 settle_passes: int) -> None:
        self.name = name
        self.queries = queries
        self.sf = sf
        self.nominal_pass_s = nominal_pass_s
        self.settle_passes = settle_passes
        self.sf_dir = ""
        self.oracle_rows: dict[str, tuple[list[str], list[tuple]]] = {}
        self.expected: dict[str, tuple] = {}
        self.excluded_s = 0.0

    def generate(self, work: str, seed: int) -> dict:
        self.sf_dir = os.path.join(work, "data")
        rows = write_tables(self.sf_dir, seed, self.sf)
        return {"sf": self.sf, "rows": rows}

    def prepare(self, ctx: Context) -> None:
        """Run every query's DuckDB oracle. Its checksum needs the
        engine's column types, so it is taken at the first check."""
        from hadoop_brotli_spark.oracle import duckdb_conn

        con = duckdb_conn(self.sf_dir)
        try:
            for q in self.queries:
                cur = con.execute(ctx.specs[q].oracle)
                self.oracle_rows[q] = ([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()

    def pass_ops(self, rng: random.Random) -> list[tuple[str, Op]]:
        order = list(self.queries)
        rng.shuffle(order)
        return [(q, lambda ctx, st, q=q: self._run(ctx, st, q)) for q in order]

    def _run(self, ctx: Context, st: PassStats | None, q: str) -> bool:
        tr = ctx.tracer
        with tr.span("queries.build") as build:
            df = ctx.specs[q].fn(ctx.spark, self.sf_dir)
        if st is not None:
            st.add("queries.build_stages", ctx.stages(build).stages)
        cdf = checksum_frame(df)
        with tr.span("plans.plan"):
            cdf._jdf.queryExecution().executedPlan()
        with tr.span("exec.exec") as ex:
            row = tuple(cdf.collect()[0])
        if st is not None:
            st.add_stages("exec", ctx.stages(ex))
            self._census(df, st)
            ctx.cursor.take()  # any stage the census planning ran is not the next op's
        if q not in self.expected:
            t = time.perf_counter()
            self.expected[q] = oracle_checksum(ctx.spark, columns_of(df), *self.oracle_rows[q])
            self.excluded_s += time.perf_counter() - t
        with tr.span("bench.verify"):
            return row == self.expected[q]

    @staticmethod
    def _census(df, st: PassStats) -> None:
        from hadoop_brotli_spark.plans.inspect import exchange_count, executed_plan

        st.add("plans.exchanges", exchange_count(df))
        st.add("plans.sort_merge_joins", executed_plan(df).count("SortMergeJoin"))

    def cleanup(self) -> None:
        pass

    def probe(self, ctx: Context, layers: dict) -> None:
        pass


class BroIoWorkload:
    """A seeded text corpus written and read back through both ``.bro``
    paths: ``format("bro")`` (BRO2 container) and ``write_bro_text`` /
    ``read_bro_text`` (binaryFile). Every read checks the line count and
    xxhash64 sums against those of the corpus."""

    FILES = 8
    nominal_pass_s = 4.0
    settle_passes = 1

    def __init__(self, name: str, corpus_mib: float, probe_mib: float) -> None:
        self.name = name
        self.corpus_mib = corpus_mib
        self.probe_mib = probe_mib
        self.corpus = ""
        self.lines = 0
        self.bytes = 0
        self.expected: tuple = ()
        self.excluded_s = 0.0
        self._n = 0

    def generate(self, work: str, seed: int) -> dict:
        os.makedirs(os.path.join(work, "bro"), exist_ok=True)
        self.corpus = os.path.join(work, "corpus.parquet")
        self.lines, self.bytes = write_corpus(self.corpus, seed, self.corpus_mib)
        return {"corpus_lines": self.lines, "corpus_bytes": self.bytes}

    def prepare(self, ctx: Context) -> None:
        df = ctx.spark.read.parquet(self.corpus)
        self.expected = tuple(lines_checksum_frame(df).collect()[0])
        if self.expected[0] != self.lines:
            raise RuntimeError("corpus line count differs from generated")

    def _source(self, ctx: Context):
        return ctx.spark.read.parquet(self.corpus).repartition(self.FILES)

    def pass_ops(self, rng: random.Random) -> list[tuple[str, Op]]:
        self._n += 1
        base = os.path.join(os.path.dirname(self.corpus), "bro", f"pass-{self._n}")
        ds, text = f"{base}-ds", f"{base}-text"
        pairs = [
            [("ds_write", lambda c, s: self._ds_write(c, s, ds)),
             ("ds_read", lambda c, s: self._ds_read(c, s, ds))],
            [("text_write", lambda c, s: self._text_write(c, s, text)),
             ("text_read", lambda c, s: self._text_read(c, s, text))],
        ]
        rng.shuffle(pairs)
        return pairs[0] + pairs[1]

    def cleanup(self) -> None:
        shutil.rmtree(os.path.join(os.path.dirname(self.corpus), "bro"), ignore_errors=True)
        os.makedirs(os.path.join(os.path.dirname(self.corpus), "bro"), exist_ok=True)

    def stored_bytes(self, path: str) -> int:
        return sum(e.stat().st_size for e in os.scandir(path) if e.name.endswith(".bro"))

    def _ds_write(self, ctx: Context, st: PassStats | None, path: str) -> bool:
        with ctx.tracer.span("bro_datasource.write") as sp:
            self._source(ctx).write.format("bro").mode("overwrite").save(path)
        if st is not None:
            ctx.stages(sp)
            st.add("bro_datasource.stored_bytes", self.stored_bytes(path))
        return True

    def _ds_read(self, ctx: Context, st: PassStats | None, path: str) -> bool:
        with ctx.tracer.span("bro_datasource.read") as sp:
            df = ctx.spark.read.format("bro").load(path)
            row = tuple(lines_checksum_frame(df).collect()[0])
        if st is not None:
            ctx.stages(sp)
            from hadoop_brotli_spark.sources.bro_datasource import BroReader

            st.add("bro_datasource.read_partitions", len(BroReader({"path": path}).partitions()))
        with ctx.tracer.span("bench.verify"):
            return row == self.expected

    def _text_write(self, ctx: Context, st: PassStats | None, path: str) -> bool:
        from hadoop_brotli_spark.sources.bro_spark import write_bro_text

        with ctx.tracer.span("bro_spark.write") as sp:
            write_bro_text(self._source(ctx), path)
        if st is not None:
            ctx.stages(sp)
        return True

    def _text_read(self, ctx: Context, st: PassStats | None, path: str) -> bool:
        from hadoop_brotli_spark.sources.bro_spark import read_bro_text

        with ctx.tracer.span("bro_spark.read") as sp:
            row = tuple(lines_checksum_frame(read_bro_text(ctx.spark, path)).collect()[0])
        if st is not None:
            ctx.stages(sp)
            st.add("bro_spark.read_partitions", sum(1 for e in os.scandir(path) if e.name.endswith(".bro")))
        with ctx.tracer.span("bench.verify"):
            return row == self.expected

    def _probe_bytes(self) -> bytes:
        """The first ``probe_mib`` MiB of corpus lines, newline-joined."""
        out, size = [], 0
        limit = self.probe_mib * MIB
        for batch in pq.ParquetFile(self.corpus).iter_batches(columns=["value"]):
            for line in batch.column(0).to_pylist():
                out.append(line)
                size += len(line) + 1
                if size >= limit:
                    return ("\n".join(out) + "\n").encode()
        return ("\n".join(out) + "\n").encode()

    def probe(self, ctx: Context, layers: dict) -> None:
        """In-process codec calls on corpus bytes (traced runs only)."""
        from hadoop_brotli_spark.sources.bro_codec import (
            DEFAULT_BUFFER_SIZE,
            BroConfig,
            compress_stream,
            decompress_stream,
            read_bro2_bytes,
            write_bro2_bytes,
        )

        data = self._probe_bytes()
        mib = len(data) / MIB
        cfg = BroConfig()
        step = DEFAULT_BUFFER_SIZE

        def chunks(b: bytes):
            return (b[i : i + step] for i in range(0, len(b), step))

        tr = ctx.tracer
        path = os.path.join(os.path.dirname(self.corpus), "probe.bro")
        t = time.perf_counter()
        with tr.span("bro_codec.encode"):
            comp = b"".join(compress_stream(chunks(data), cfg))
        t, enc = time.perf_counter(), time.perf_counter() - t
        with tr.span("bro_codec.decode"):
            back = b"".join(decompress_stream(chunks(comp), cfg))
        t, dec = time.perf_counter(), time.perf_counter() - t
        with tr.span("bro_codec.bro2_write"):
            write_bro2_bytes(data, path, cfg)
        t, w2 = time.perf_counter(), time.perf_counter() - t
        with tr.span("bro_codec.bro2_read"):
            back2 = b"".join(read_bro2_bytes(path, cfg))
        r2 = time.perf_counter() - t
        if back != data or back2 != data:
            raise RuntimeError("in-process codec round trip differs")
        layers["bro_codec.encode_mib_s"] = mib / enc
        layers["bro_codec.decode_mib_s"] = mib / dec
        layers["bro_codec.bro2_write_mib_s"] = mib / w2
        layers["bro_codec.bro2_read_mib_s"] = mib / r2


RELATIONAL = [
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q06_revenue_forecast",
    "q20_agg_distinct",
    "q40_window_topk_per_group",
    "q56_sessionization",
]
LLM = [
    "q80_token_stats",
    "q253_exact_substring_dup",
    "q406_label_propagation",
]


def make(name: str, toy: bool):
    """The named workload at benchmark size, or at self-test size. The
    nominal pass seconds (settled, 4 CPUs) set how many passes a run
    measures. The settle passes run untimed after the warm-up pass: the
    JIT keeps speeding passes up until the fourth (an ``llm_pipeline``
    run measured 6.3, 6.3, 5.7, 4.4, 4.5, 4.5 s), and a single pass
    taken on that slope spread 0.36 (IQR/median) over ten seeds. Two
    settle passes and the median of three measured ones leave the slope
    behind."""
    if name == "relational_sf1":
        wl = QueryWorkload(name, RELATIONAL, 0.001 if toy else 0.05, 5.0, 2)
    elif name == "llm_pipeline":
        wl = QueryWorkload(name, LLM, 0.001 if toy else 0.01, 3.5, 2)
    elif name == "bro_io":
        wl = BroIoWorkload(name, 1.0 if toy else 4.0, 1.0 if toy else 4.0)
    else:
        raise SystemExit(f"unknown workload {name!r}")
    if toy:
        wl.settle_passes = 0
    return wl


WORKLOADS = ("relational_sf1", "llm_pipeline", "bro_io")
