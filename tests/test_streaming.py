"""Structured Streaming validation: each streaming job, driven to
completion over the finite events fixture (memory sink +
processAllAvailable), must agree with its batch twin."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from hadoop_brotli_spark.catalog import load_table
from hadoop_brotli_spark.registry import load_all_queries
from hadoop_brotli_spark.streaming import (
    read_events_stream,
    session_aggregate,
    sliding_counts,
    stateful_user_counts,
    tumbling_counts,
)

SPECS = load_all_queries()


def run_to_completion(stream_df, name: str, mode: str):
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_matches_batch(spark, sf_dir):
    stream = tumbling_counts(read_events_stream(spark, sf_dir))
    run_to_completion(stream, "t_tumble", "complete")
    got = rows(spark.sql("SELECT * FROM t_tumble"))
    want = rows(SPECS["q54_tumbling_window"].fn(spark, sf_dir))
    assert got == want


def test_sliding_matches_batch(spark, sf_dir):
    stream = sliding_counts(read_events_stream(spark, sf_dir))
    run_to_completion(stream, "t_slide", "complete")
    got = rows(spark.sql("SELECT * FROM t_slide"))
    want = rows(SPECS["q55_sliding_window"].fn(spark, sf_dir))
    assert got == want


def test_session_window_matches_batch(spark, sf_dir):
    """Native session_window sessions == batch lag/cumsum sessions
    (same gap): compare per-user session counts and event totals."""
    stream = session_aggregate(read_events_stream(spark, sf_dir), gap="30 minutes")
    run_to_completion(stream, "t_sess", "complete")
    got = rows(
        spark.sql(
            "SELECT user_id, session_start, n_events, sum_value FROM t_sess"
        )
    )
    want = rows(
        SPECS["q56_sessionization"]
        .fn(spark, sf_dir)
        .select("user_id", "session_start", "n_events", "sum_value")
    )
    assert got == want


def test_stateful_user_counts(spark, sf_dir):
    stream = stateful_user_counts(read_events_stream(spark, sf_dir))
    run_to_completion(stream, "t_state", "update")
    # update mode emits one row per user per batch; final state = last emit
    got = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rk
          FROM t_state
        ) WHERE rk = 1
        """
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,2)")) .cast("double")).alias("total_value"),
        )
    )
    assert rows(got.select("user_id", "n_events", "total_value")) == rows(batch)


def test_late_data_dropped_with_watermark(spark, tmp_path):
    """Watermark semantics: an event older than watermark - delay is
    dropped in append mode. Construct a two-file stream where file 2
    advances the watermark past file 1's window, then a third file
    delivers a late event."""
    import pandas as pd

    d = tmp_path / "late_events"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 00:00:00")

    def write(name, ts_list):
        pdf = pd.DataFrame(
            {
                "event_id": range(len(ts_list)),
                "ts": [pd.Timestamp(t) for t in ts_list],
                "user_id": [1] * len(ts_list),
                "event_type": ["click"] * len(ts_list),
                "value": [1.0] * len(ts_list),
                "props": ["{}"] * len(ts_list),
            }
        )
        pdf.to_parquet(d / name)

    write("events.parquet", [base, base + pd.Timedelta(hours=3)])

    stream = tumbling_counts(
        read_events_stream(spark, str(d)), watermark="30 minutes"
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late")
        .start()
    )
    try:
        q.processAllAvailable()
        # late event: hour-0 window is far behind the watermark now
        write("events2.parquet", [base + pd.Timedelta(minutes=5)])
        q.processAllAvailable()
    finally:
        q.stop()
    emitted = spark.sql(
        "SELECT sum(n_events) AS n FROM t_late "
        "WHERE window_start = timestamp'2024-01-01 00:00:00'"
    ).collect()[0].n
    # the on-time event counted once; the late one was dropped
    assert emitted == 1


def test_streaming_dedup(spark, sf_dir, tmp_path):
    """Duplicated input files → dropDuplicates-with-watermark keeps
    exactly one row per event_id (== the batch distinct count)."""
    import shutil
    from hadoop_brotli_spark.streaming import dedup_events

    src = f"{sf_dir}/events.parquet"
    d = tmp_path / "dup_events"
    d.mkdir()
    shutil.copy(src, d / "events_a.parquet")
    shutil.copy(src, d / "events_b.parquet")

    stream = dedup_events(read_events_stream(spark, str(d))).select(
        "event_id", "event_type"
    )
    run_to_completion(stream, "t_dedup", "append")
    got = spark.sql("SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM t_dedup").first()
    want = load_table(spark, sf_dir, "events").count()
    assert got.n == want == got.d


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates arriving inside the
    watermark delay (same micro-batch replayed twice) collapse to one
    row per event_id, matching both the batch distinct count and the
    dropDuplicates variant — while exercising the first-seen-clock
    state contract (Spark 3.5+/4 API surface)."""
    import shutil
    from hadoop_brotli_spark.streaming import dedup_events_within_watermark

    src = f"{sf_dir}/events.parquet"
    d = tmp_path / "dup_events_wm"
    d.mkdir()
    shutil.copy(src, d / "events_a.parquet")
    shutil.copy(src, d / "events_b.parquet")

    stream = dedup_events_within_watermark(
        read_events_stream(spark, str(d))
    ).select("event_id", "event_type")
    run_to_completion(stream, "t_dedup_wm", "append")
    got = spark.sql(
        "SELECT COUNT(*) AS n, COUNT(DISTINCT event_id) AS d FROM t_dedup_wm"
    ).first()
    want = load_table(spark, sf_dir, "events").count()
    assert got.n == want == got.d


def test_stream_stream_join_matches_batch(spark, sf_dir):
    """Stream-stream time-interval join == the same join in batch."""
    from hadoop_brotli_spark.streaming import click_purchase_join

    stream = click_purchase_join(
        read_events_stream(spark, sf_dir), read_events_stream(spark, sf_dir)
    )
    run_to_completion(stream, "t_ssj", "append")
    got = rows(spark.sql("SELECT * FROM t_ssj"))

    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    want = rows(
        c.join(
            p,
            F.expr(
                "c_user = p_user AND "
                "click_ts BETWEEN purchase_ts - INTERVAL 1 HOUR AND purchase_ts"
            ),
        ).select(
            F.col("c_user").alias("user_id"),
            "click_id",
            "purchase_id",
            "click_ts",
            "purchase_ts",
            "purchase_value",
        )
    )
    assert len(got) > 0 and got == want


def test_stateful_user_counts_transform_with_state(spark, sf_dir):
    """transformWithStateInPandas twin agrees with the batch
    aggregate (same final per-user state as the
    applyInPandasWithState operator)."""
    # the TWS runtime ships state protos over protobuf, absent here
    pytest.importorskip("google.protobuf.descriptor")
    from hadoop_brotli_spark.streaming import stateful_user_counts_tws

    stream = stateful_user_counts_tws(read_events_stream(spark, sf_dir))
    run_to_completion(stream, "t_tws", "update")
    got = spark.sql(
        """
        SELECT user_id, n_events, total_value FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n_events DESC) rk
          FROM t_tws
        ) WHERE rk = 1
        """
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(F.col("value").cast("decimal(18,2)")).cast("double")).alias(
                "total_value"
            ),
        )
    )
    assert rows(got.select("user_id", "n_events", "total_value")) == rows(batch)


def test_streaming_parquet_sink_checkpointed(spark, sf_dir, tmp_path):
    """File-sink exactly-once: tumbling counts stream into parquet
    with a checkpoint; the committed files equal the batch result."""
    stream = tumbling_counts(read_events_stream(spark, sf_dir), watermark="0 seconds")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    want = SPECS["q54_tumbling_window"].fn(spark, sf_dir)
    # append mode only emits windows closed by the watermark; with the
    # finite fixture every window except the last is closed
    assert rows(got) == rows(
        want.filter(F.col("window_start") < F.lit("2024-01-30 23:00:00").cast("timestamp"))
    )


def test_foreach_batch_upsert_matches_batch(spark, sf_dir, tmp_path):
    """The foreachBatch upsert target must converge to the same rows
    as the batch aggregate over the full input (exactly-once merge,
    keys replaced not appended)."""
    from hadoop_brotli_spark.catalog import load_table
    from hadoop_brotli_spark.streaming.jobs import (
        foreach_batch_upsert,
        read_events_stream,
    )

    import shutil

    d = tmp_path / "ev_in"
    d.mkdir()
    # the stream source globs events*.parquet (driver layout)
    shutil.copy(f"{sf_dir}/events.parquet", d / "events.parquet")
    events_dir = str(d)

    stream = read_events_stream(spark, events_dir)
    agg = stream.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    target = str(tmp_path / "upsert_target")
    q = foreach_batch_upsert(
        agg, target, str(tmp_path / "ckpt_up"), ["user_id", "event_type"]
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        map(tuple, spark.read.parquet(target).collect())
    )
    want = sorted(
        map(
            tuple,
            load_table(spark, sf_dir, "events")
            .groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect(),
        )
    )
    assert got == want


def test_streaming_cms_partials_merge_to_batch_sketch(spark, sf_dir, tmp_path):
    """Incrementally-maintained CMS partials must MERGE (by counter
    addition) to exactly the sketch a batch job builds over the full
    input — the mergeability property that makes sketches the right
    streaming state. maxFilesPerTrigger=1 forces multiple batches so
    the merge is actually exercised."""
    import glob
    import shutil

    from hadoop_brotli_spark.catalog import load_table
    from hadoop_brotli_spark.functions.columns import cms_bucket
    from hadoop_brotli_spark.streaming.jobs import (
        read_cms,
        streaming_cms_partials,
    )

    d = tmp_path / "ev_in"
    d.mkdir()
    # two input directories of part files -> multiple micro-batches
    full = load_table(spark, sf_dir, "events")
    full.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(str(d / "a"))
    full.filter(F.col("user_id") % 2 == 1).coalesce(1).write.parquet(str(d / "b"))

    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(str(d))
    )

    target = str(tmp_path / "cms_target")
    q = streaming_cms_partials(
        stream, target, str(tmp_path / "ckpt_cms")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    assert len(glob.glob(f"{target}/batch=*")) >= 2, "expected multiple partials"

    got = sorted(map(tuple, read_cms(spark, target).collect()))

    keyed = full.select(F.col("user_id").cast("string").alias("k"))
    want_parts = None
    for r in range(4):
        p = (
            keyed.groupBy(cms_bucket("k", r, 64).alias("bucket"))
            .agg(F.count(F.lit(1)).alias("c"))
            .select(F.lit(r).alias("row"), "bucket", "c")
        )
        want_parts = p if want_parts is None else want_parts.unionAll(p)
    want = sorted(map(tuple, want_parts.collect()))
    assert got == want


def test_stream_static_enrich_matches_batch(spark, sf_dir):
    """Stream-static left join == the same join in batch, including
    preserved no-match events."""
    from hadoop_brotli_spark.streaming.jobs import (
        enrich_events,
        read_events_stream,
    )

    dim = spark.range(0, 10).select(
        F.col("id").alias("user_id"), (F.col("id") % 3).alias("tier")
    )
    stream = enrich_events(read_events_stream(spark, sf_dir), dim).select(
        "event_id", "user_id", "tier"
    )
    run_to_completion(stream, "t_enrich", "append")
    got = rows(spark.sql("SELECT event_id, user_id, tier FROM t_enrich"))
    want = rows(
        enrich_events(load_table(spark, sf_dir, "events"), dim).select(
            "event_id", "user_id", "tier"
        )
    )
    assert got == want
    # no-match events must survive with NULL tier
    assert any(r[2] is None for r in got)


def test_stream_stream_left_join_matches_batch(spark, sf_dir, tmp_path):
    """Left-outer stream-stream join: matched rows == batch inner
    join; null-padded rows appear exactly for purchases the
    watermark has proven click-less (and never spuriously)."""
    import pandas as pd

    from hadoop_brotli_spark.streaming import purchase_click_left_join

    # split the fixture into two time-halves so the second micro-batch
    # runs with a watermark advanced by the first (null emission needs
    # watermark movement between batches)
    ev_pdf = (
        load_table(spark, sf_dir, "events").toPandas().sort_values("ts")
    )
    half = len(ev_pdf) // 2
    d = tmp_path / "halves"
    d.mkdir()
    ev_pdf.iloc[:half].to_parquet(d / "events_a.parquet", index=False)
    ev_pdf.iloc[half:].to_parquet(d / "events_b.parquet", index=False)

    stream = purchase_click_left_join(
        read_events_stream(spark, str(d), max_files_per_trigger=1),
        read_events_stream(spark, str(d), max_files_per_trigger=1),
    )
    run_to_completion(stream, "t_ssl", "append")
    got = spark.sql("SELECT * FROM t_ssl")

    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
        F.col("event_id").alias("click_id"),
    )
    cond = F.expr(
        "p_user = c_user AND "
        "click_ts BETWEEN purchase_ts - INTERVAL 1 HOUR AND purchase_ts"
    )
    batch_inner = rows(
        p.join(c, cond).select(
            F.col("p_user").alias("user_id"),
            "purchase_id",
            "purchase_ts",
            "purchase_value",
            "click_id",
            "click_ts",
        )
    )
    # 1) matched rows agree exactly with the batch inner join
    assert rows(got.filter(F.col("click_id").isNotNull())) == batch_inner

    # 2) null rows are a SUBSET of the batch click-less purchases …
    batch_nulls = {
        r.purchase_id for r in p.join(c, cond, "left_anti").collect()
    }
    got_nulls = {
        r.purchase_id for r in got.filter(F.col("click_id").isNull()).collect()
    }
    assert got_nulls <= batch_nulls

    # 3) … and every click-less purchase old enough that the first
    # batch's watermark already closed it MUST have emitted
    first_half_max = pd.Timestamp(ev_pdf.iloc[:half]["ts"].max())
    closed_before = first_half_max - pd.Timedelta(hours=2)
    must_emit = {
        r.purchase_id
        for r in p.join(c, cond, "left_anti")
        .filter(F.col("purchase_ts") <= F.lit(closed_before))
        .collect()
    }
    assert must_emit <= got_nulls


def test_streaming_kmv_partials_match_batch_estimator(spark, sf_dir, tmp_path):
    """Streaming KMV partials merged at read time == the batch
    bottom-k construction over the same keys (k-min union is the
    sketch merge), estimate included."""
    import pandas as pd

    from hadoop_brotli_spark.streaming.jobs import (
        read_kmv,
        streaming_kmv_partials,
    )

    # two half-files -> two micro-batches -> two partial sketches
    ev_pdf = load_table(spark, sf_dir, "events").toPandas().sort_values("ts")
    half = len(ev_pdf) // 2
    d = tmp_path / "halves"
    d.mkdir()
    ev_pdf.iloc[:half].to_parquet(d / "events_a.parquet", index=False)
    ev_pdf.iloc[half:].to_parquet(d / "events_b.parquet", index=False)

    target = str(tmp_path / "kmv")
    q = streaming_kmv_partials(
        read_events_stream(spark, str(d), max_files_per_trigger=1),
        target,
        str(tmp_path / "ckpt"),
        k=64,
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = read_kmv(spark, target, k=64).first()

    # batch reference: same hash, same k over the whole table
    ev = load_table(spark, sf_dir, "events")
    batch = (
        ev.select(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("bk:"), F.col("user_id").cast("string")
                        ).cast("binary")
                    ),
                    1,
                    14,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("v")
        )
        .distinct()
        .orderBy("v")
        .limit(64)
        .collect()
    )
    hashes = sorted(r.v for r in batch)
    assert got.n_mins == len(hashes)
    assert got.hk == hashes[-1]
    if len(hashes) == 64:
        assert abs(got.estimate - 63 * float(1 << 56) / hashes[-1]) < 1e-6
    else:
        assert got.estimate == float(len(hashes))
