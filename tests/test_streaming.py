"""Structured Streaming tests: file-source event stream → watermarked
windows → memory sink; results must equal the batch-mode window operators
on the same data (semantic parity by construction)."""

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from gqlite_spark.streaming.events import await_drained


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """Write the sf0.001 events out as several parquet files with
    TimestampType timestamps (streaming watermarks need TimestampType,
    not TIMESTAMP_NTZ).  events.ts is parquet TIMESTAMP(MICROS) →
    TIMESTAMP_NTZ; also accept the long-nanoseconds encoding."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if isinstance(src.schema["ts"].dataType, T.LongType):
        ts = F.timestamp_seconds(F.expr("ts div 1000000000"))
    else:
        ts = F.col("ts").cast("timestamp")
    ev = src.select(
        "event_id", ts.alias("ts"),
        "user_id", "event_type", "value", "props")
    ev.repartition(4).write.mode("overwrite").parquet(path)
    return path


def _run(spark, stream_df, name, mode="complete"):
    """complete mode: emit every window including those the watermark has
    not yet closed (availableNow ends the stream before the final windows
    would be append-emitted)."""
    from gqlite_spark.streaming.events import run_to_memory
    q = run_to_memory(stream_df, name, mode=mode)
    assert await_drained(q)
    return spark.sql(f"SELECT * FROM {name}")


def test_tumbling_stream_matches_batch(spark, event_dir):
    from gqlite_spark.streaming.events import (stream_from_directory,
                                               tumbling_stream)
    stream = stream_from_directory(spark, event_dir)
    out = _run(spark, tumbling_stream(stream), "t_tumbling")

    batch = (spark.read.parquet(event_dir)
             .groupBy(F.window("ts", "1 hour"), "event_type")
             .agg(F.count("*").alias("n_events"),
                  F.sum("value").alias("sum_value")))
    assert out.count() == batch.count()
    # spot-check one window's aggregate equality
    s = {(r["window_start"], r["event_type"]): (r["n_events"],
                                                round(r["sum_value"], 6))
         for r in out.collect()}
    b = {(r["window"]["start"], r["event_type"]): (r["n_events"],
                                                   round(r["sum_value"], 6))
         for r in batch.collect()}
    assert s == b


def test_sliding_stream(spark, event_dir):
    from gqlite_spark.streaming.events import (stream_from_directory,
                                               windowed_counts)
    stream = stream_from_directory(spark, event_dir)
    out = _run(spark, windowed_counts(stream), "t_sliding")
    rows = out.collect()
    assert rows
    # every event lands in exactly 2 sliding windows (2h width / 1h slide)
    total_events = spark.read.parquet(event_dir).count()
    assert sum(r["n_events"] for r in rows) == 2 * total_events


def test_session_stream(spark, event_dir):
    from gqlite_spark.streaming.events import (sessionized_stream,
                                               stream_from_directory)
    stream = stream_from_directory(spark, event_dir)
    out = _run(spark, sessionized_stream(stream), "t_session")
    rows = out.collect()
    assert rows
    # session invariant: end - start >= 0 and n_events >= 1
    for r in rows:
        assert r["n_events"] >= 1
        assert r["session_end"] >= r["session_start"]
    # event conservation
    total = spark.read.parquet(event_dir).count()
    assert sum(r["n_events"] for r in rows) == total


def test_streaming_dedup(spark, event_dir):
    from gqlite_spark.streaming.events import (stream_from_directory,
                                               streaming_dedup)
    stream = stream_from_directory(spark, event_dir)
    out = _run(spark, streaming_dedup(stream), "t_dedup", mode="append")
    n = out.count()
    distinct_ids = (spark.read.parquet(event_dir)
                    .select("event_id").distinct().count())
    assert n == distinct_ids


def test_stateless_pipeline_ops_work_on_streams(spark, event_dir):
    """The scan-predicate / pure-map pipeline operators (hash_sample,
    redact_pii) apply to a streaming DataFrame UNCHANGED — deterministic
    md5 membership and regex redaction are stateless Column expressions,
    so the same code covers batch and streams.  Stream output must equal
    the batch operator on the same files."""
    from gqlite_spark.operators.sampling import hash_sample
    from gqlite_spark.operators.text import redact_pii
    from gqlite_spark.streaming.events import stream_from_directory

    stream = stream_from_directory(spark, event_dir)
    sampled = hash_sample(stream.select("event_id", "user_id"),
                          id_col="event_id", rate=0.25)
    out = _run(spark, sampled, "t_sample_stream", mode="append")
    batch = hash_sample(
        spark.read.parquet(event_dir).select("event_id", "user_id"),
        id_col="event_id", rate=0.25)
    assert sorted(r["event_id"] for r in out.collect()) == \
           sorted(r["event_id"] for r in batch.collect())
    assert 0 < out.count() < spark.read.parquet(event_dir).count()

    docs = stream.select(
        "event_id",
        F.concat(F.lit("contact me at a"), F.col("event_id").cast("string"),
                 F.lit("@example.com now")).alias("text"))
    red = redact_pii(docs, id_col="event_id")
    out2 = _run(spark, red, "t_redact_stream", mode="append")
    row = out2.limit(1).collect()[0]
    assert "<EMAIL>" in row["text"] and row["n_emails"] == 1


def test_cluster_assign_works_on_streams(spark, event_dir):
    """The k-means cluster assignment (the cluster_sample / IVF-index
    quantizer Column) is a stateless scalar expression, so the SAME
    operator code enriches a streaming frame — continuous topic-tagging
    at ingest.  Stream output must equal the batch assignment on the
    same files.  (The per-cluster top-N CUT is a window — batch-only;
    on streams the assignment feeds the watermark-bounded stateful
    ops.)"""
    from gqlite_spark.operators.similarity import _ivf_assign_col
    from gqlite_spark.streaming.events import stream_from_directory

    cents = [(0, [0.0, 0.0]), (1, [5.0, 0.0]), (2, [0.0, 5.0])]
    vec = F.array((F.col("event_id") % 7).cast("double"),
                  (F.col("event_id") % 3).cast("double"))
    stream = (stream_from_directory(spark, event_dir)
              .select("event_id", vec.alias("v"))
              .withColumn("cluster_id",
                          _ivf_assign_col(cents, "v", "l2")))
    out = _run(spark, stream, "t_cluster_stream", mode="append")
    batch = (spark.read.parquet(event_dir)
             .select("event_id", vec.alias("v"))
             .withColumn("cluster_id",
                         _ivf_assign_col(cents, "v", "l2")))
    got = {r["event_id"]: r["cluster_id"] for r in out.collect()}
    want = {r["event_id"]: r["cluster_id"] for r in batch.collect()}
    assert got == want
    assert len(set(got.values())) > 1   # the fixture spans >1 cell


def test_stateful_running_stats(spark, event_dir):
    """applyInPandasWithState custom operator: running per-user aggregates
    across micro-batches must converge to the batch groundtruth."""
    from gqlite_spark.streaming.events import (run_to_memory,
                                               stream_from_directory)
    from gqlite_spark.streaming.stateful import running_user_stats
    stream = stream_from_directory(spark, event_dir)
    q = run_to_memory(running_user_stats(stream), "t_stateful", mode="append")
    assert await_drained(q)
    out = spark.sql("SELECT * FROM t_stateful")
    # the LAST emitted row per user carries the final running state
    latest = {}
    for r in out.collect():
        latest[r["user_id"]] = r  # memory sink appends in batch order
    truth = {r["user_id"]: r for r in
             spark.read.parquet(event_dir).groupBy("user_id")
             .agg(F.count("*").alias("n"), F.sum("value").alias("s"),
                  F.max("value").alias("m")).collect()}
    assert set(latest) == set(truth)
    for uid, row in truth.items():
        # running state may have been emitted over several batches; the last
        # emission must match the full aggregate
        assert latest[uid]["n_events"] == row["n"]
        assert abs(latest[uid]["sum_value"] - row["s"]) < 1e-6
        assert latest[uid]["max_value"] == row["m"]


def _one_file_stream(spark, event_dir):
    """Force one micro-batch per parquet file (the fixture has 4) so the
    stateful twins are exercised across several batches, including
    whatever event-time disorder the file split introduces."""
    schema = spark.read.parquet(event_dir).schema
    return (spark.readStream.format("parquet").schema(schema)
            .option("maxFilesPerTrigger", 1).load(event_dir))


def test_funnel_stream_matches_batch(spark, event_dir):
    """Streaming funnel state (applyInPandasWithState) must converge to
    the batch funnel: per-step user counts from the final per-user chain
    equal operators.temporal.funnel on the same events, across multiple
    micro-batches."""
    from gqlite_spark.operators.temporal import funnel
    from gqlite_spark.streaming.events import run_to_memory
    from gqlite_spark.streaming.stateful import funnel_stream
    steps = ["view", "click", "purchase"]
    q = run_to_memory(
        funnel_stream(_one_file_stream(spark, event_dir), steps),
        "t_funnel", mode="append")
    assert await_drained(q)
    latest = {}
    for r in spark.sql("SELECT * FROM t_funnel").collect():
        latest[r["user_id"]] = r    # memory sink appends in batch order
    got = [sum(1 for r in latest.values() if len(r["reach_times"]) > i)
           for i in range(len(steps))]
    want_rows = funnel(spark.read.parquet(event_dir), steps).collect()
    want = [r["n_users"] for r in
            sorted(want_rows, key=lambda r: r["step_idx"])]
    assert got == want and want[0] > 0
    # chains are monotone: each step completes at or after the previous
    for r in latest.values():
        chain = list(r["reach_times"])
        assert chain == sorted(chain)


def test_cohort_stream_matches_batch(spark, event_dir):
    """Streaming cohort state exploded to (cohort, offset) user counts
    equals batch cohort_retention on the same events."""
    from gqlite_spark.operators.temporal import cohort_retention
    from gqlite_spark.streaming.events import run_to_memory
    from gqlite_spark.streaming.stateful import cohort_stream
    q = run_to_memory(
        cohort_stream(_one_file_stream(spark, event_dir)),
        "t_cohort", mode="append")
    assert await_drained(q)
    latest = {}
    for r in spark.sql("SELECT * FROM t_cohort").collect():
        latest[r["user_id"]] = r
    got: dict = {}
    for r in latest.values():
        for off in r["offsets"]:
            key = (r["cohort_bucket"], off)
            got[key] = got.get(key, 0) + 1
    want = {(r["cohort_bucket"], r["bucket_offset"]): r["n_active"]
            for r in cohort_retention(
                spark.read.parquet(event_dir)).collect()}
    assert got == want and want


def test_interval_join_stream_matches_batch(spark, event_dir):
    """Stream-stream watermarked interval join equals the batch interval
    join on the same data (attribution semantics parity)."""
    from gqlite_spark.operators.windows import interval_join
    from gqlite_spark.streaming.events import (interval_join_stream,
                                               stream_from_directory)
    trig = stream_from_directory(spark, event_dir).where(
        F.col("event_type") == "click")
    eff = stream_from_directory(spark, event_dir).where(
        F.col("event_type") == "purchase")
    out = _run(spark, interval_join_stream(trig, eff), "t_ivjoin",
               mode="append")
    got = {(r["user_id"], r["trigger_id"], r["effect_id"], r["lag_s"])
           for r in out.collect()}
    batch = interval_join(spark.read.parquet(event_dir))
    want = {(r["user_id"], r["trigger_id"], r["effect_id"], r["lag_s"])
            for r in batch.collect()}
    assert got == want and want


def test_enrich_stream_broadcasts_static_side(spark, event_dir):
    """Stream-static enrichment equals the batch join, and the stream side
    carries no shuffle for the join (broadcast hash join per micro-batch)."""
    from gqlite_spark.streaming.events import (enrich_stream,
                                               stream_from_directory)
    dim = spark.createDataFrame(
        [(i, f"tier{i % 3}") for i in range(200)], "user_id long, tier string")
    stream = stream_from_directory(spark, event_dir)
    out = _run(spark, enrich_stream(stream, dim), "t_enrich", mode="append")

    batch = spark.read.parquet(event_dir).join(dim, "user_id", "left")
    assert out.count() == batch.count()
    got = {r["event_id"]: r["tier"] for r in out.collect()}
    exp = {r["event_id"]: r["tier"] for r in batch.collect()}
    assert got == exp


def test_stream_to_parquet_resume_no_duplicates(spark, event_dir, tmp_path):
    """Restarting the file sink with the same checkpoint must not re-emit
    already-committed source files (offset log discipline)."""
    from gqlite_spark.streaming.events import (stream_from_directory,
                                               stream_to_parquet)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    total = spark.read.parquet(event_dir).count()

    q = stream_to_parquet(stream_from_directory(spark, event_dir),
                          out_dir, ckpt)
    assert await_drained(q)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == total

    # restart against the SAME source + checkpoint: nothing new to commit
    q2 = stream_to_parquet(stream_from_directory(spark, event_dir),
                           out_dir, ckpt)
    assert await_drained(q2)
    assert spark.read.parquet(out_dir).count() == total


def test_stream_upsert_vertices_lww(spark, tmp_path):
    """Streaming → graph ingestion: two micro-batches LWW-merge into a
    catalog Group; the later batch's rows win on key collision."""
    import glob
    import shutil

    from gqlite_spark.catalog import Graph
    from gqlite_spark.streaming.events import stream_upsert_vertices

    src = tmp_path / "src"
    src.mkdir()

    def _one_file(rows, name, mtime):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(
            rows, "id long, score double, tag string").coalesce(1) \
            .write.mode("overwrite").parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        dest = str(src / name)
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    _one_file([(1, 10.0, "a"), (2, 20.0, "b")], "b1.parquet", 1_000_000)
    _one_file([(2, 99.0, "b2"), (3, 30.0, "c")], "b2.parquet", 1_000_100)

    g = Graph(spark, "stream_g").create_group("user")
    stream = (spark.readStream.format("parquet")
              .schema("id long, score double, tag string")
              .option("maxFilesPerTrigger", 1).load(str(src)))
    q = stream_upsert_vertices(stream, g, str(tmp_path / "ckpt"))
    assert await_drained(q)

    got = {r["id"]: (r["score"], r["tag"]) for r in g.to_df().collect()}
    assert got == {1: (10.0, "a"), 2: (99.0, "b2"), 3: (30.0, "c")}


def test_stream_upsert_within_batch_version_wins(spark, tmp_path):
    """Same-batch duplicate keys resolve by max version_col, not file
    order."""
    from gqlite_spark.catalog import Graph
    from gqlite_spark.streaming.events import stream_upsert_vertices

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 5, 1.0), (1, 9, 2.0), (1, 7, 3.0), (2, 1, 4.0)],
        "id long, ver long, score double").repartition(2) \
        .write.mode("overwrite").parquet(str(src))

    g = Graph(spark, "stream_g2").create_group("user")
    stream = (spark.readStream.format("parquet")
              .schema("id long, ver long, score double").load(str(src)))
    q = stream_upsert_vertices(stream, g, str(tmp_path / "ckpt"),
                               version_col="ver")
    assert await_drained(q)
    got = {r["id"]: (r["ver"], r["score"]) for r in g.to_df().collect()}
    assert got == {1: (9, 2.0), 2: (1, 4.0)}


def test_stream_upsert_version_wins_across_batches(spark, tmp_path):
    """A later micro-batch carrying a STALE version must not regress a
    newer write: final state is the global max-version row per key."""
    import glob
    import shutil

    from gqlite_spark.catalog import Graph
    from gqlite_spark.streaming.events import stream_upsert_vertices

    src = tmp_path / "src"
    src.mkdir()

    def _one_file(rows, name, mtime):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(
            rows, "id long, ver long, score double").coalesce(1) \
            .write.mode("overwrite").parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        dest = str(src / name)
        shutil.move(part, dest)
        os.utime(dest, (mtime, mtime))

    _one_file([(1, 9, 1.0), (2, 1, 2.0)], "b1.parquet", 1_000_000)
    _one_file([(1, 5, 11.0), (3, 2, 3.0)], "b2.parquet", 1_000_100)

    g = Graph(spark, "stream_g3").create_group("user")
    stream = (spark.readStream.format("parquet")
              .schema("id long, ver long, score double")
              .option("maxFilesPerTrigger", 1).load(str(src)))
    q = stream_upsert_vertices(stream, g, str(tmp_path / "ckpt"),
                               version_col="ver")
    assert await_drained(q)
    got = {r["id"]: (r["ver"], r["score"]) for r in g.to_df().collect()}
    # key 1: ver=9 from batch 1 survives the stale ver=5 in batch 2
    assert got == {1: (9, 1.0), 2: (1, 2.0), 3: (2, 3.0)}


def test_stream_upsert_accretes_new_columns(spark, tmp_path):
    """Streaming into a group with pre-existing bulk data must register
    the stream's new columns in the group schema (not silently drop
    them in to_df())."""
    from gqlite_spark.catalog import Graph
    from gqlite_spark.streaming.events import stream_upsert_vertices

    g = Graph(spark, "stream_g4")
    grp = g.create_group("user")
    grp.register_df(spark.createDataFrame([(1, "ann")],
                                          "id long, name string"))
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(10, 0.5, "t")],
                          "id long, score double, tag string") \
        .coalesce(1).write.mode("overwrite").parquet(str(src))

    stream = (spark.readStream.format("parquet")
              .schema("id long, score double, tag string").load(str(src)))
    q = stream_upsert_vertices(stream, grp)
    assert await_drained(q)
    out = grp.to_df()
    assert {"id", "name", "score", "tag"} <= set(out.columns)
    rows = {r["id"]: r for r in out.collect()}
    assert rows[10]["score"] == 0.5 and rows[10]["tag"] == "t"
    assert rows[1]["name"] == "ann"


def test_stream_upsert_edges_lww(spark, tmp_path):
    """Edge-stream ingestion: LWW keyed on (src, dst, direction);
    default direction '->' is applied when absent."""
    from gqlite_spark.catalog import Graph
    from gqlite_spark.streaming.events import stream_upsert_edges

    g = Graph(spark, "stream_e1")
    g.create_group("person")
    knows = g.create_group("knows", is_edge=True, src_group="person",
                           dst_group="person")
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(1, 2, 5, 0.9), (1, 2, 9, 0.1), (2, 3, 1, 0.5)],
        "src long, dst long, ver long, weight double") \
        .repartition(2).write.mode("overwrite").parquet(str(src))

    stream = (spark.readStream.format("parquet")
              .schema("src long, dst long, ver long, weight double")
              .load(str(src)))
    q = stream_upsert_edges(stream, knows, version_col="ver")
    assert await_drained(q)
    rows = {(r["src"], r["dst"], r["direction"]): (r["ver"], r["weight"])
            for r in knows.to_df().collect()}
    assert rows == {(1, 2, "->"): (9, 0.1), (2, 3, "->"): (1, 0.5)}


def test_funnel_stream_event_time_matches_batch(spark, event_dir):
    """Event-time variant (VERDICT r5 #4): watermark + EventTimeTimeout
    replaces the wall-clock TTL.  With a watermark wide enough that no
    fixture event is dropped, the final per-user chains must still equal
    the batch funnel across micro-batches."""
    from gqlite_spark.operators.temporal import funnel
    from gqlite_spark.streaming.events import run_to_memory
    from gqlite_spark.streaming.stateful import funnel_stream
    steps = ["view", "click", "purchase"]
    q = run_to_memory(
        funnel_stream(_one_file_stream(spark, event_dir), steps,
                      timeout_mode="event", watermark_delay="365 days"),
        "t_funnel_et", mode="append")
    assert await_drained(q)
    latest = {}
    for r in spark.sql("SELECT * FROM t_funnel_et").collect():
        latest[r["user_id"]] = r
    got = [sum(1 for r in latest.values() if len(r["reach_times"]) > i)
           for i in range(len(steps))]
    want_rows = funnel(spark.read.parquet(event_dir), steps).collect()
    want = [r["n_users"] for r in
            sorted(want_rows, key=lambda r: r["step_idx"])]
    assert got == want and want[0] > 0


def test_cohort_stream_event_time_late_replay(spark, event_dir,
                                              tmp_path):
    """Late events replayed across micro-batches in event-time mode: the
    stream sees the LATER half of the events first, then the earlier
    half arrives late (within the watermark).  The late batch must
    re-base each user's cohort — final state equals batch
    cohort_retention on everything."""
    import time as _time

    from gqlite_spark.operators.temporal import cohort_retention
    from gqlite_spark.streaming.events import run_to_memory
    from gqlite_spark.streaming.stateful import cohort_stream
    src = spark.read.parquet(event_dir)
    mid = src.agg(F.expr("percentile_approx(ts, 0.5)")).collect()[0][0]
    late_dir = str(tmp_path / "late_replay")
    (src.where(F.col("ts") >= mid).repartition(1)
     .write.mode("overwrite").parquet(late_dir))
    _time.sleep(1.1)                  # file source orders by mod time
    (src.where(F.col("ts") < mid).repartition(1)
     .write.mode("append").parquet(late_dir))
    q = run_to_memory(
        cohort_stream(_one_file_stream(spark, late_dir),
                      timeout_mode="event", watermark_delay="365 days"),
        "t_cohort_et", mode="append")
    assert await_drained(q)
    latest = {}
    for r in spark.sql("SELECT * FROM t_cohort_et").collect():
        latest[r["user_id"]] = r
    got: dict = {}
    for r in latest.values():
        for off in r["offsets"]:
            key = (r["cohort_bucket"], off)
            got[key] = got.get(key, 0) + 1
    want = {(r["cohort_bucket"], r["bucket_offset"]): r["n_active"]
            for r in cohort_retention(src).collect()}
    assert got == want and want


def test_content_dedup_stream_matches_batch_hash_set(spark, tmp_path):
    """Streaming content dedup: duplicates arriving in LATER micro-batches
    are dropped; the surviving text_hash set equals the batch
    exact_duplicates hash set, and exactly one row survives per hash."""
    import time as _time

    from gqlite_spark.operators.dedup import exact_duplicates
    from gqlite_spark.streaming.events import (content_dedup_stream,
                                               run_to_memory)
    base = "2024-01-01 00:{:02d}:00"
    b1 = [(1, "alpha text", base.format(1)), (2, "beta text", base.format(2)),
          (3, "alpha text", base.format(3))]     # in-batch dup
    b2 = [(4, "beta text", base.format(10)),     # cross-batch dup
          (5, "gamma text", base.format(11)),
          (6, "alpha text", base.format(12))]    # cross-batch dup
    schema = "doc_id long, text string, ts_s string"
    d = str(tmp_path / "docs_stream")
    for batch in (b1, b2):
        (spark.createDataFrame(batch, schema)
         .select("doc_id", "text", F.col("ts_s").cast("timestamp").alias("ts"))
         .write.mode("append").parquet(d))
        _time.sleep(1.1)                         # file order = batch order
    rd_schema = spark.read.parquet(d).schema
    stream = (spark.readStream.format("parquet").schema(rd_schema)
              .option("maxFilesPerTrigger", 1).load(d))
    q = run_to_memory(content_dedup_stream(stream), "t_cdedup",
                      mode="append")
    assert await_drained(q)
    out = spark.sql("SELECT * FROM t_cdedup").collect()
    got_hashes = sorted(r["text_hash"] for r in out)
    assert len(got_hashes) == len(set(got_hashes)) == 3
    batch_hashes = sorted(
        r["text_hash"] for r in
        exact_duplicates(spark.read.parquet(d)).collect())
    assert got_hashes == batch_hashes


def test_funnel_event_mode_state_survives_first_batch_gap(spark, tmp_path):
    """ADVICE r6 #1 regression: in the FIRST micro-batch the watermark is
    still 0, so arming eviction off the watermark alone gives a
    ~1970-epoch timeout and the key dies as soon as the watermark
    advances — long before 'state_ttl_ms of event time after the user's
    last update'.  Fixture: user 1 completes view+click in batch 1, gets
    NO data for two batches while other users advance the watermark past
    1970+ttl (but not past user 1's last event + ttl), then purchases.
    The final chain must include the batch-1 steps."""
    import time as _time

    from gqlite_spark.streaming.events import run_to_memory
    from gqlite_spark.streaming.stateful import funnel_stream
    schema = "user_id long, event_type string, ts_s string"
    d0 = "2024-01-01 00:00:{:02d}"
    batches = [
        [(1, "view", d0.format(0)), (1, "click", d0.format(10))],
        [(2, "view", "2024-01-02 00:00:00")],       # watermark → D0+1d
        [(2, "view", "2024-01-03 00:00:00")],       # timeout check fires
        [(1, "purchase", "2024-01-03 01:00:00")],   # user 1 returns
    ]
    d = str(tmp_path / "gap_stream")
    for b in batches:
        (spark.createDataFrame(b, schema)
         .select("user_id", "event_type",
                 F.col("ts_s").cast("timestamp").alias("ts"))
         .coalesce(1).write.mode("append").parquet(d))
        _time.sleep(1.1)                            # file order = batch order
    rd_schema = spark.read.parquet(d).schema
    stream = (spark.readStream.format("parquet").schema(rd_schema)
              .option("maxFilesPerTrigger", 1).load(d))
    ttl_ms = 10 * 24 * 3600 * 1000                  # 10 days of event time
    q = run_to_memory(
        funnel_stream(stream, ["view", "click", "purchase"],
                      timeout_mode="event", watermark_delay="1 minute",
                      state_ttl_ms=ttl_ms),
        "t_funnel_gap", mode="append")
    assert await_drained(q)
    latest = {}
    for r in spark.sql("SELECT * FROM t_funnel_gap").collect():
        latest[r["user_id"]] = r
    # with the bug, user 1's state was evicted at batch 3 and the late
    # purchase rebuilt from empty → chain length 0
    assert len(latest[1]["reach_times"]) == 3


def test_cohort_event_mode_state_survives_first_batch_gap(spark, tmp_path):
    """Cohort twin of the first-batch eviction regression: user 1's
    batch-1 cohort bucket must survive a two-batch gap that advances the
    watermark past the 1970-epoch mis-arm, so the final row keeps the
    original cohort instead of re-basing at the late event."""
    import time as _time

    from gqlite_spark.streaming.events import run_to_memory
    from gqlite_spark.streaming.stateful import cohort_stream
    schema = "user_id long, ts_s string"
    batches = [
        [(1, "2024-01-01 00:00:00")],
        [(2, "2024-01-02 00:00:00")],
        [(2, "2024-01-03 00:00:00")],
        [(1, "2024-01-03 01:00:00")],
    ]
    d = str(tmp_path / "gap_cohort")
    for b in batches:
        (spark.createDataFrame(b, schema)
         .select("user_id", F.col("ts_s").cast("timestamp").alias("ts"))
         .coalesce(1).write.mode("append").parquet(d))
        _time.sleep(1.1)
    rd_schema = spark.read.parquet(d).schema
    stream = (spark.readStream.format("parquet").schema(rd_schema)
              .option("maxFilesPerTrigger", 1).load(d))
    q = run_to_memory(
        cohort_stream(stream, timeout_mode="event",
                      watermark_delay="1 minute",
                      state_ttl_ms=10 * 24 * 3600 * 1000),
        "t_cohort_gap", mode="append")
    assert await_drained(q)
    latest = {}
    for r in spark.sql("SELECT * FROM t_cohort_gap").collect():
        latest[r["user_id"]] = r
    day = 86400
    d0_bucket = latest[1]["cohort_bucket"]
    # cohort stays based at 2024-01-01 (not re-based to the late event)
    assert sorted(latest[1]["offsets"]) == [0, 2]
    assert latest[2]["cohort_bucket"] == d0_bucket + 1 * 1
    assert (latest[2]["cohort_bucket"] - d0_bucket) == 1


def test_semantic_hits_stream_matches_batch_twin(spark, tmp_path):
    """Streaming semantic filter against a persisted materialized index:
    docs arriving across micro-batches are flagged iff their nearest
    benchmark vector clears the cosine threshold, one row per flagged
    doc; the flagged id set equals the batch semantic_contamination on
    the same files (nprobe = nlist on both sides: exact candidates)."""
    import time as _time

    from gqlite_spark.operators.sampling import semantic_contamination
    from gqlite_spark.operators.similarity import save_ivf_index
    from gqlite_spark.streaming.events import (run_to_memory,
                                               semantic_hits_stream)
    bench = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [-1.0, 0.0]),
         (4, [0.0, -1.0])],
        "vec_id long, embedding array<double>")
    idx = str(tmp_path / "bench_idx")
    save_ivf_index(bench, idx, nlist=2, include_vectors=True)
    base = "2024-01-01 00:{:02d}:00"
    b1 = [(10, [0.999, 0.01], base.format(1)),   # near bench 1 — hit
          (11, [0.6, 0.62], base.format(2))]     # diagonal — clean
    b2 = [(12, [0.01, -0.999], base.format(10)), # near bench 4 — hit
          (13, [0.55, -0.6], base.format(11))]   # diagonal — clean
    schema = "doc_id long, embedding array<double>, ts_s string"
    d = str(tmp_path / "docs_sem")
    for batch in (b1, b2):
        (spark.createDataFrame(batch, schema)
         .select("doc_id", "embedding",
                 F.col("ts_s").cast("timestamp").alias("ts"))
         .write.mode("append").parquet(d))
        _time.sleep(1.1)
    rd_schema = spark.read.parquet(d).schema
    stream = (spark.readStream.format("parquet").schema(rd_schema)
              .option("maxFilesPerTrigger", 1).load(d))
    q = run_to_memory(
        semantic_hits_stream(stream, idx, threshold=0.98, nprobe=2),
        "t_semhits", mode="append")
    assert await_drained(q)
    got = sorted(r["doc_id"] for r in
                 spark.sql("SELECT doc_id FROM t_semhits").collect())
    assert got == [10, 12]
    batch_flags = sorted(
        r["doc_id"] for r in semantic_contamination(
            spark.read.parquet(d), bench, threshold=0.98, nlist=2,
            nprobe=2, id_col="doc_id",
            bench_id_col="vec_id").collect())
    assert got == batch_flags
    # a non-materialized index is a clean contract error
    idx2 = str(tmp_path / "bench_idx_novec")
    save_ivf_index(bench, idx2, nlist=2, include_vectors=False)
    with pytest.raises(ValueError, match="MATERIALIZED"):
        semantic_hits_stream(stream, idx2)


def test_await_drained_raises_failed_query_error(spark, tmp_path):
    """A streaming query that dies must surface its own error, not read
    as 'drained'."""
    from pyspark.errors import StreamingQueryException
    src = str(tmp_path / "src")
    spark.range(3).write.parquet(src)

    def boom(batch_df, batch_id):
        raise ValueError("planted batch failure")

    q = (spark.readStream.schema("id long").parquet(src)
         .writeStream.foreachBatch(boom)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    with pytest.raises(StreamingQueryException, match="planted batch"):
        await_drained(q, timeout=60)
