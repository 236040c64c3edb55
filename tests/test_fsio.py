"""Cluster-portable sidecar I/O (VERDICT r7 missing #1 / next #1).

Every persisted-index and catalog sidecar must go through the Hadoop
FileSystem API so index paths on shared storage (s3a://, hdfs://)
work exactly like local ones.  These tests exercise the contract via
explicit ``file:``-scheme URIs — the same resolution path a cluster
scheme takes (scheme → FileSystem impl → stream), minus the network.
"""
import json

import pytest

from gqlite_spark import fsio


def test_write_read_roundtrip_scheme_path(spark, tmp_path):
    p = f"file://{tmp_path}/side/params.json"
    fsio.write_json(spark, p, {"a": 1, "v": [1.5, 2.5]})
    assert fsio.exists(spark, p)
    assert fsio.read_json(spark, p) == {"a": 1, "v": [1.5, 2.5]}
    # overwrite semantics
    fsio.write_text(spark, p, "plain")
    assert fsio.read_text(spark, p) == "plain"


def test_read_missing_raises_python_filenotfound(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        fsio.read_text(spark, f"file://{tmp_path}/absent.json")
    assert not fsio.exists(spark, f"file://{tmp_path}/absent.json")


def test_join_is_uri_safe():
    assert fsio.join("s3a://bucket/idx/", "ivf_params.json") \
        == "s3a://bucket/idx/ivf_params.json"
    assert fsio.join("/local/dir", "a", "b") == "/local/dir/a/b"


def test_ivf_index_roundtrip_through_scheme_path(spark, tmp_path):
    """save_ivf_index / load_index accept the same path schemes the
    parquet writer accepts — the routed-ANN lifecycle is no longer
    pinned to the driver's local disk."""
    from gqlite_spark.operators.similarity import (load_index,
                                                   save_ivf_index)
    df = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(40)],
        "id long, vec array<double>")
    path = f"file://{tmp_path}/ivf_idx"
    save_ivf_index(df, path, nlist=4, id_col="id", vec_col="vec",
                   metric="l2", include_vectors=True)
    index, params = load_index(spark, path, "ivf")
    assert params["nlist"] == 4 and params["metric"] == "l2"
    assert index.count() == 40
    assert {"id", "_vec", "list_id"} <= set(index.columns)


def test_graph_save_load_through_scheme_path(spark, tmp_path):
    """Graph.save / Graph.load write the _schema.json sidecar through
    the Hadoop FS API — a shared-storage root round-trips."""
    from gqlite_spark import GQLite
    db = GQLite(spark)
    db.exec("{create: 'fsg', group: ['pts']};"
            "{upset: 'pts', vertex: [[1, {x: 10}], [2, {x: 20}]]};")
    root = f"file://{tmp_path}/graphroot"
    db.catalog.graphs["fsg"].save(root)
    from gqlite_spark.catalog import Graph
    g2 = Graph.load(spark, root, "fsg")
    assert sorted(r["id"] for r in g2.group("pts").to_df().collect()) \
        == [1, 2]
    assert [r["x"] for r in g2.group("pts").to_df()
            .orderBy("id").collect()] == [10, 20]


def test_single_pass_materialized_build_plan(spark, tmp_path):
    """VERDICT r7 wrong #1: the materialized build carries the vector
    column through the assignment select — the write plan must contain
    NO join (the old form re-joined the corpus on id, a second full
    exchange at 100 TB)."""
    from gqlite_spark.operators import similarity as S
    df = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(30)],
        "id long, vec array<double>")
    cents = S.ivf_centroids(df, 4, "id", "vec")
    cols = df.select(
        df.id.alias("id"),
        S._ivf_assign_col(cents, "vec", "l2").alias("list_id"),
        df.vec.alias("_vec"))
    plan = cols._jdf.queryExecution().toString()
    assert "Join" not in plan, plan
    # and the written index matches what the two-pass form produced:
    # same rows, same assignment
    path = str(tmp_path / "sp_idx")
    S.save_ivf_index(df, path, nlist=4, id_col="id", vec_col="vec",
                     metric="l2", include_vectors=True)
    index, params = S.load_index(spark, path, "ivf")
    joined = (index.withColumnRenamed("_vec", "iv")
              .join(df, "id"))
    assert joined.count() == 30
    assert joined.filter("iv != vec").count() == 0


def test_read_text_byte_fidelity(spark, tmp_path):
    """read_text returns bytes exactly as written — CR/LF pairs and
    trailing newlines survive (ADVICE r8: the old BufferedReader
    line-join normalized newlines, a trap for non-JSON payloads)."""
    p = f"file://{tmp_path}/raw.txt"
    body = "a\r\nb\n\nc\r\n"
    fsio.write_text(spark, p, body)
    assert fsio.read_text(spark, p) == body
    assert fsio.read_bytes(spark, p) == body.encode("utf-8")


def test_create_exclusive_is_atomic_claim(spark, tmp_path):
    p = f"file://{tmp_path}/claim.lock"
    assert fsio.create_exclusive(spark, p, "A") is True
    assert fsio.create_exclusive(spark, p, "B") is False
    assert fsio.read_text(spark, p) == "A"


def test_swap_in_rejects_concurrent_writer(spark, tmp_path):
    """Single-writer contract (VERDICT r8 wrong #1 / next #4): a held
    lease makes the second writer error CLEANLY, table intact."""
    import pyspark.sql.functions as F

    p = f"file://{tmp_path}/tbl"
    spark.range(5).write.parquet(p)
    lock = p + ".kind_lock"
    assert fsio.create_exclusive(spark, lock, "other writer")

    def _boom(tmp):
        raise AssertionError("write_fn must not run under a held lease")

    with pytest.raises(fsio.ConcurrentWriterError):
        fsio.swap_in(spark, p, "kind", _boom)
    # loser neither clobbered the table nor released the other's lease
    assert spark.read.parquet(p).count() == 5
    assert fsio.exists(spark, lock)
    assert fsio.read_text(spark, lock) == "other writer"


def test_swap_in_takes_over_stale_lease(spark, tmp_path):
    """A crashed writer never releases its lease; one older than
    lease_timeout is taken over and the swap proceeds."""
    p = f"file://{tmp_path}/tbl2"
    spark.range(3).write.parquet(p)
    lock = p + ".kind_lock"
    assert fsio.create_exclusive(spark, lock, "crashed writer")

    def _write(tmp):
        spark.range(7).write.parquet(tmp)

    fsio.swap_in(spark, p, "kind", _write, lease_timeout=0.0)
    assert spark.read.parquet(p).count() == 7
    assert not fsio.exists(spark, lock)  # released after the swap


def test_swap_in_heals_torn_state_first(spark, tmp_path):
    """ADVICE r8 #1: swap_in on a torn state (path missing, _old
    holding the only complete table) must heal before its preamble
    deletes — the old form destroyed the sole copy."""
    p = f"file://{tmp_path}/tbl3"
    spark.range(4).write.parquet(p)
    fsio.rename(spark, p, p + ".kind_old")  # crash between the renames

    def _write(tmp):
        spark.range(9).write.parquet(tmp)

    fsio.swap_in(spark, p, "kind", _write)
    assert spark.read.parquet(p).count() == 9
    assert not fsio.exists(spark, p + ".kind_old")


def test_swap_in_releases_lease_on_write_failure(spark, tmp_path):
    p = f"file://{tmp_path}/tbl4"
    spark.range(2).write.parquet(p)

    def _boom(tmp):
        raise RuntimeError("mid-write crash")

    with pytest.raises(RuntimeError):
        fsio.swap_in(spark, p, "kind", _boom)
    assert not fsio.exists(spark, p + ".kind_lock")
    assert spark.read.parquet(p).count() == 2  # table untouched


def test_swap_in_release_is_fenced_after_takeover(spark, tmp_path):
    """ADVICE r9 #3 + VERDICT r12 wrong #2: after a stale-lease
    takeover, the ORIGINAL (paused-but-alive) writer must neither
    delete the NEW writer's lease (fenced release) nor COMMIT its
    rewrite over the new writer's table (commit fence) — simulated
    here by replacing the lock mid-write, exactly what a takeover
    does.  The fenced-out writer aborts loudly with the original table
    intact; its stale tmp is cleared by the next entry's preamble."""
    p = f"file://{tmp_path}/tbl5"
    spark.range(2).write.parquet(p)
    lock = p + ".kind_lock"

    def _write_and_get_fenced(tmp):
        # a second writer takes over our (supposedly stale) lease
        fsio.delete(spark, lock, recursive=False)
        assert fsio.create_exclusive(spark, lock, "nonce=THEIRS")
        spark.range(6).write.parquet(tmp)

    with pytest.raises(fsio.ConcurrentWriterError):
        fsio.swap_in(spark, p, "kind", _write_and_get_fenced)
    # our commit never happened: the table is untouched
    assert spark.read.parquet(p).count() == 2
    # and our finally must NOT have deleted the new writer's lease
    assert fsio.exists(spark, lock)
    assert fsio.read_text(spark, lock) == "nonce=THEIRS"
    fsio.delete(spark, lock, recursive=False)


def test_heal_swap_defers_to_live_lease(spark, tmp_path):
    """ADVICE r9 #4: a READER's heal in a live writer's rename window
    (path missing, _old present, fresh lock held) must not rename _old
    back over path — it waits for the writer's rename to land instead.
    With a STALE lock (crashed writer) it heals."""
    import threading
    import time

    p = f"file://{tmp_path}/tbl6"
    spark.range(4).write.parquet(p)
    lock = p + ".kind_lock"
    # live writer: lease held, mid-window between its two renames
    assert fsio.create_exclusive(spark, lock, "nonce=writer")
    fsio.rename(spark, p, p + ".kind_old")

    def writer_finishes():
        time.sleep(1.0)
        spark.range(8).write.parquet(p + ".kind_tmp")
        fsio.rename(spark, p + ".kind_tmp", p)
        fsio.delete(spark, p + ".kind_old")
        fsio.delete(spark, lock, recursive=False)

    t = threading.Thread(target=writer_finishes)
    t.start()
    fsio.heal_swap(spark, p, "kind")      # reader: waits, never heals
    t.join()
    assert spark.read.parquet(p).count() == 8   # the WRITER's table
    assert not fsio.exists(spark, p + ".kind_old")
    # crashed writer: stale lock -> the reader heals
    fsio.rename(spark, p, p + ".kind_old")
    assert fsio.create_exclusive(spark, lock, "nonce=crashed")
    fsio.heal_swap(spark, p, "kind", lease_timeout=0.0)
    assert spark.read.parquet(p).count() == 8
    fsio.delete(spark, lock, recursive=False)


def test_heal_swap_refuses_to_heal_over_live_lease(spark, tmp_path,
                                                   monkeypatch):
    """ADVICE r10 #1: if the reader's wait expires and the lease is
    STILL live (a writer paused >window between its two renames), the
    reader must RAISE, not heal — renaming _old back right then would
    break the live writer's in-flight rename(tmp, path) and lose its
    new table.  The _old copy must stay parked."""
    import pytest

    monkeypatch.setattr(fsio, "_HEAL_WAIT_ITERS", 2)  # fast test window
    p = f"file://{tmp_path}/tbl7"
    spark.range(4).write.parquet(p)
    lock = p + ".kind_lock"
    assert fsio.create_exclusive(spark, lock, "nonce=paused-writer")
    fsio.rename(spark, p, p + ".kind_old")
    with pytest.raises(fsio.ConcurrentWriterError):
        fsio.heal_swap(spark, p, "kind")
    assert not fsio.exists(spark, p)                 # never healed
    assert fsio.exists(spark, p + ".kind_old")       # copy stays parked
    # writer crashed after all: stale lease -> the reader heals now
    fsio.heal_swap(spark, p, "kind", lease_timeout=0.0)
    assert spark.read.parquet(p).count() == 4
    fsio.delete(spark, lock, recursive=False)


def test_guarded_append_crash_point_matrix(spark, tmp_path):
    """The shared append protocol, exercised at every crash point with
    a toy table (one data file per append, a minimal spec sidecar):

    - crash AFTER the marker, before any file: repair is a no-op
      delete, the replay appends once;
    - crash mid-write (marker + orphan file, no commit): orphans
      removed, replay appends once;
    - crash after the spec commit (marker left behind): files kept,
      replay skipped;
    - a live competing lease raises ConcurrentWriterError."""
    import pytest

    p = f"file://{tmp_path}/ga"
    spark.range(1).write.parquet(p)          # seed the directory
    fsio.write_json(spark, fsio.join(p, "_spec.json"), {"batches": 0})

    def writer(name):
        def _w(spec):
            fsio.write_text(spark, fsio.join(p, name), "data")
        return _w

    def names():
        return [n for n in fsio.list_names(spark, p)
                if n.startswith("batch")]

    # normal append
    assert fsio.guarded_append(spark, p, "toy", "_spec.json", 1,
                               writer("batch1")) is True
    assert names() == ["batch1"]
    # crash after marker, before any write: marker present, listing
    # unchanged, counter unchanged
    fsio.write_json(spark, fsio.join(p, "_append_inprogress.json"), {
        "epoch": 2, "batches_before": 1,
        "files_before": fsio.list_names(spark, p)})
    assert fsio.guarded_append(spark, p, "toy", "_spec.json", 2,
                               writer("batch2")) is True
    assert names() == ["batch1", "batch2"]
    # crash mid-write: marker + orphan landed, spec not committed
    fsio.write_json(spark, fsio.join(p, "_append_inprogress.json"), {
        "epoch": 3, "batches_before": 2,
        "files_before": fsio.list_names(spark, p)})
    fsio.write_text(spark, fsio.join(p, "batch3"), "orphan")
    assert fsio.guarded_append(spark, p, "toy", "_spec.json", 3,
                               writer("batch3")) is True
    assert names() == ["batch1", "batch2", "batch3"]
    assert fsio.read_text(spark, fsio.join(p, "batch3")) == "data"
    # crash after commit: marker left, counter advanced -> keep + skip
    fsio.write_json(spark, fsio.join(p, "_append_inprogress.json"), {
        "epoch": 3, "batches_before": 0,
        "files_before": ["bogus"]})
    assert fsio.guarded_append(spark, p, "toy", "_spec.json", 3,
                               writer("batch3x")) is False
    assert names() == ["batch1", "batch2", "batch3"]
    assert not fsio.exists(spark,
                           fsio.join(p, "_append_inprogress.json"))
    spec = fsio.read_json(spark, fsio.join(p, "_spec.json"))
    assert spec["batches"] == 3 and spec["last_epoch"] == 3
    # live competing lease
    assert fsio.create_exclusive(spark, p + ".toy_lock", "nonce=other")
    with pytest.raises(fsio.ConcurrentWriterError):
        fsio.guarded_append(spark, p, "toy", "_spec.json", 4,
                            writer("batch4"))
    assert names() == ["batch1", "batch2", "batch3"]
    fsio.delete(spark, p + ".toy_lock", recursive=False)
    # the competitor's failure must not have consumed our lease slot
    assert fsio.guarded_append(spark, p, "toy", "_spec.json", 4,
                               writer("batch4")) is True
    assert names() == ["batch1", "batch2", "batch3", "batch4"]


def test_takeover_race_exactly_one_winner(spark, tmp_path):
    """VERDICT r11 wrong #1: the stale-lease takeover delete is FENCED.
    Claimant A stats a >timeout-stale lock; before A's delete, a
    competitor C completes its OWN takeover (delete stale + create a
    FRESH lock).  The old unconditional delete removed C's live lease
    and let two writers run; the fenced delete re-reads the claim and,
    seeing it changed, loops the full claim — where C's fresh lock is
    young and raises ConcurrentWriterError.  Exactly one live holder."""
    import os
    import time

    p = f"file://{tmp_path}/race"
    lock = p + ".kind_lock"
    assert fsio.create_exclusive(spark, lock, "nonce=CRASHED")
    # age the crashed lease well past the timeout (local path: the
    # file:// URI maps straight onto tmp_path)
    local_lock = str(tmp_path / "race.kind_lock")
    os.utime(local_lock, (time.time() - 60, time.time() - 60))

    def competitor_takeover():
        fsio._TAKEOVER_RACE_HOOK = None   # fire once
        fsio.delete(spark, lock, recursive=False)
        assert fsio.create_exclusive(spark, lock, "nonce=COMPETITOR")

    fsio._TAKEOVER_RACE_HOOK = competitor_takeover
    try:
        with pytest.raises(fsio.ConcurrentWriterError):
            fsio.acquire_lease(spark, p, "kind", lease_timeout=5.0)
    finally:
        fsio._TAKEOVER_RACE_HOOK = None
    # C's fresh lease survived A's fenced takeover untouched
    assert fsio.read_text(spark, lock) == "nonce=COMPETITOR"
    fsio.delete(spark, lock, recursive=False)


def test_takeover_race_vanished_lock_still_single_winner(spark,
                                                         tmp_path):
    """The other interleaving: C deleted the stale lock but has not yet
    created its fresh one when A re-reads.  A's re-read fails, A skips
    the delete and retries the atomic create — create_exclusive
    guarantees exactly one winner regardless of who gets there first
    (here A, since C never comes back)."""
    p = f"file://{tmp_path}/race2"
    lock = p + ".kind_lock"
    assert fsio.create_exclusive(spark, lock, "nonce=CRASHED")

    def competitor_deleted_only():
        fsio._TAKEOVER_RACE_HOOK = None
        fsio.delete(spark, lock, recursive=False)

    fsio._TAKEOVER_RACE_HOOK = competitor_deleted_only
    try:
        got_lock, nonce = fsio.acquire_lease(spark, p, "kind",
                                             lease_timeout=0.0)
    finally:
        fsio._TAKEOVER_RACE_HOOK = None
    assert f"nonce={nonce}" in fsio.read_text(spark, got_lock)
    fsio.release_lease(spark, got_lock, nonce)
    assert not fsio.exists(spark, lock)


def test_lease_heartbeat_keeps_slow_writer_alive(spark, tmp_path):
    """VERDICT r11 wrong #2: a slow-but-alive writer must NOT be fenced
    out when its write outlives lease_timeout — the lease heartbeats
    (mtime touch, content untouched) while write_fn runs, so the
    timeout bounds liveness, not wall time.  A claimant arriving after
    more than a full timeout of write wall-clock still sees a FRESH
    lease and backs off; the swap then completes normally."""
    import threading
    import time

    p = f"file://{tmp_path}/slow"
    spark.range(2).write.parquet(p)
    lock = p + ".kind_lock"
    entered = threading.Event()
    errs = []

    def _slow_write(tmp):
        entered.set()
        time.sleep(3.0)                 # > lease_timeout of 2 s
        spark.range(8).write.parquet(tmp)

    def _run():
        try:
            fsio.swap_in(spark, p, "kind", _slow_write,
                         lease_timeout=2.0)
        except Exception as e:          # pragma: no cover
            errs.append(e)

    t = threading.Thread(target=_run)
    t.start()
    assert entered.wait(30.0)
    time.sleep(2.5)                     # writer now past lease_timeout
    # the heartbeat kept the lock fresh: the claimant must back off,
    # and the claim text must still be parseable (touch, not rewrite)
    assert "nonce=" in fsio.read_text(spark, lock)
    with pytest.raises(fsio.ConcurrentWriterError):
        fsio.acquire_lease(spark, p, "kind", lease_timeout=2.0)
    t.join(60.0)
    assert not errs
    assert spark.read.parquet(p).count() == 8
    assert not fsio.exists(spark, lock)  # released after the swap


def test_write_json_atomic_replaces_without_listing(spark, tmp_path):
    """ADVICE r11 #2 mechanism: the atomic replace goes through a temp
    sibling + rename-overwrite (never truncate-then-write).  Since r13
    it performs ZERO directory listings (VERDICT r12 wrong #1) — a
    crashed prior replace's orphan temp is NOT swept here (that moved
    to guarded_append's single manifest listing); an unrelated planted
    orphan survives the write untouched, which also closes the
    concurrent-save mutual-temp-delete race (ADVICE r12 #3)."""
    d = f"file://{tmp_path}/at"
    p = fsio.join(d, "_spec.json")
    fsio.write_json_atomic(spark, p, {"v": 1})
    assert fsio.read_json(spark, p) == {"v": 1}
    fsio.write_json_atomic(spark, p, {"v": 2})
    assert fsio.read_json(spark, p) == {"v": 2}
    # a crashed replace's orphan is ignored (swept by guarded_append's
    # manifest pass, not here) — and never deleted out from under a
    # concurrent writer
    orphan = fsio.join(d, "_spec.json.tmp-deadbeef")
    fsio.write_text(spark, orphan, "{torn")
    fsio.write_json_atomic(spark, p, {"v": 3})
    assert fsio.read_json(spark, p) == {"v": 3}
    assert fsio.exists(spark, orphan)
    # completed writes never leave their OWN temp behind
    assert [n for n in fsio.list_names(spark, d)
            if ".tmp-" in n] == ["_spec.json.tmp-deadbeef"]

    # zero listings in the hot path: the whole point of the move
    calls = {"n": 0}
    orig = fsio.list_names

    def counting(spark_, path_, *a, **k):
        calls["n"] += 1
        return orig(spark_, path_, *a, **k)

    fsio.list_names = counting
    try:
        fsio.write_json_atomic(spark, p, {"v": 4})
    finally:
        fsio.list_names = orig
    assert calls["n"] == 0
    assert fsio.read_json(spark, p) == {"v": 4}


def test_guarded_append_single_listing_sweeps_orphan_temps(spark,
                                                           tmp_path):
    """VERDICT r12 wrong #1: steady-state guarded_append performs
    exactly ONE directory listing per committed batch (the pre-write
    manifest), and that listing doubles as the orphan-temp sweep — a
    planted crashed-atomic-write temp is deleted and excluded from the
    recorded manifest, at zero extra LIST cost."""
    p = f"file://{tmp_path}/onelist"
    spark.range(1).write.parquet(p)
    fsio.write_json(spark, fsio.join(p, "_spec.json"), {"batches": 0})
    orphan = fsio.join(p, "_spec.json.tmp-deadbeef")
    fsio.write_text(spark, orphan, "{torn")

    calls = {"n": 0}
    orig = fsio.list_names

    def counting(spark_, path_, *a, **k):
        calls["n"] += 1
        return orig(spark_, path_, *a, **k)

    def writer(spec):
        fsio.write_text(spark, fsio.join(p, "batch_0"), "payload")

    fsio.list_names = counting
    try:
        assert fsio.guarded_append(spark, p, "toy", "_spec.json", 1,
                                   writer) is True
    finally:
        fsio.list_names = orig
    assert calls["n"] == 1, calls      # manifest only — no sweep LISTs
    assert not fsio.exists(spark, orphan)
    # replay of a committed epoch is listing-FREE (skips at the spec)
    fsio.list_names = counting
    calls["n"] = 0
    try:
        assert fsio.guarded_append(spark, p, "toy", "_spec.json", 1,
                                   writer) is False
    finally:
        fsio.list_names = orig
    assert calls["n"] == 0, calls
    fsio.delete(spark, p + ".toy_lock", recursive=False)


def test_takeover_observe_race_read_then_stat(spark, tmp_path):
    """ADVICE r12 #1: the observation step reads the claim text FIRST,
    then stats mtime.  A competitor completing a FULL takeover (delete
    stale + create fresh) between the two observations leaves this
    claimant with the STALE claim text but the competitor's FRESH
    mtime — the young age raises ConcurrentWriterError before any
    delete, so the competitor's live lease survives.  (Under the old
    stat-then-read order this exact interleaving observed a stale age
    + the FRESH claim, and the fenced compare then deleted the
    competitor's live lease — the double-writer hole.)"""
    import os
    import time

    p = f"file://{tmp_path}/race3"
    lock = p + ".kind_lock"
    assert fsio.create_exclusive(spark, lock, "nonce=CRASHED")
    local_lock = str(tmp_path / "race3.kind_lock")
    os.utime(local_lock, (time.time() - 60, time.time() - 60))

    def competitor_full_takeover():
        fsio._OBSERVE_RACE_HOOK = None   # fire once
        fsio.delete(spark, lock, recursive=False)
        assert fsio.create_exclusive(spark, lock, "nonce=COMPETITOR")

    fsio._OBSERVE_RACE_HOOK = competitor_full_takeover
    try:
        with pytest.raises(fsio.ConcurrentWriterError):
            fsio.acquire_lease(spark, p, "kind", lease_timeout=5.0)
    finally:
        fsio._OBSERVE_RACE_HOOK = None
    # the competitor's live lease survived untouched
    assert fsio.read_text(spark, lock) == "nonce=COMPETITOR"
    fsio.delete(spark, lock, recursive=False)


def test_takeover_observe_race_vanished_between_read_and_stat(
        spark, tmp_path):
    """The vanish variant of the read/stat window: the competitor
    deleted the stale lock (but has not recreated one) between this
    claimant's read and its stat — the stat raises, the claimant loops
    and wins the retried atomic create."""
    p = f"file://{tmp_path}/race4"
    lock = p + ".kind_lock"
    assert fsio.create_exclusive(spark, lock, "nonce=CRASHED")

    def competitor_deleted_only():
        fsio._OBSERVE_RACE_HOOK = None
        fsio.delete(spark, lock, recursive=False)

    fsio._OBSERVE_RACE_HOOK = competitor_deleted_only
    try:
        got_lock, nonce = fsio.acquire_lease(spark, p, "kind",
                                             lease_timeout=0.0)
    finally:
        fsio._OBSERVE_RACE_HOOK = None
    assert f"nonce={nonce}" in fsio.read_text(spark, got_lock)
    fsio.release_lease(spark, got_lock, nonce)
    assert not fsio.exists(spark, lock)


def test_guarded_append_commit_fence_after_takeover(spark, tmp_path,
                                                    monkeypatch):
    """VERDICT r12 wrong #2: a writer paused past lease_timeout (GC /
    VM freeze / SIGSTOP — simulated by suppressing the heartbeat and
    stalling write_fn) is fenced out by a successor that takes over,
    REPAIRS away the paused writer's uncommitted files, and commits
    the epoch itself.  When the paused writer wakes it must abort at
    the commit fence (ConcurrentWriterError) instead of committing its
    spec over the successor's — the successor's spec and data survive
    byte-intact."""
    import contextlib
    import threading
    import time

    monkeypatch.setattr(fsio, "lease_heartbeat",
                        lambda *a, **k: contextlib.nullcontext())
    p = f"file://{tmp_path}/fence"
    spark.range(1).write.parquet(p)
    fsio.write_json(spark, fsio.join(p, "_spec.json"), {"batches": 0})
    entered = threading.Event()
    resume = threading.Event()
    errs = []

    def paused_write(spec):
        fsio.write_text(spark, fsio.join(p, "batch_A"), "A")
        entered.set()
        assert resume.wait(60.0)

    def run_paused():
        try:
            fsio.guarded_append(spark, p, "toy", "_spec.json", 1,
                                paused_write, lease_timeout=0.5)
        except Exception as e:
            errs.append(e)

    t = threading.Thread(target=run_paused)
    t.start()
    assert entered.wait(30.0)
    time.sleep(0.8)                    # lease stale: no heartbeat

    def successor_write(spec):
        fsio.write_text(spark, fsio.join(p, "batch_B"), "B")

    assert fsio.guarded_append(spark, p, "toy", "_spec.json", 1,
                               successor_write,
                               lease_timeout=0.5) is True
    # the successor's repair swept the paused writer's uncommitted file
    assert not fsio.exists(spark, fsio.join(p, "batch_A"))
    resume.set()
    t.join(60.0)
    assert len(errs) == 1 and isinstance(errs[0],
                                         fsio.ConcurrentWriterError), errs
    spec = fsio.read_json(spark, fsio.join(p, "_spec.json"))
    assert spec["batches"] == 1 and spec["last_epoch"] == 1, spec
    assert fsio.read_text(spark, fsio.join(p, "batch_B")) == "B"


def test_swap_in_commit_fence_after_takeover(spark, tmp_path,
                                             monkeypatch):
    """The swap twin of the commit fence: a paused rewriter fenced out
    by a successor's completed swap must abort before its first rename
    — the successor's table survives; the paused writer's stale tmp is
    deleted by the next lifecycle entry's preamble."""
    import contextlib
    import threading
    import time

    monkeypatch.setattr(fsio, "lease_heartbeat",
                        lambda *a, **k: contextlib.nullcontext())
    p = f"file://{tmp_path}/sfence"
    fsio.write_text(spark, fsio.join(p, "data"), "v0")
    entered = threading.Event()
    resume = threading.Event()
    errs = []

    def paused_write(tmp):
        entered.set()
        assert resume.wait(60.0)
        fsio.write_text(spark, fsio.join(tmp, "data"), "PAUSED")

    def run_paused():
        try:
            fsio.swap_in(spark, p, "toy", paused_write,
                         lease_timeout=0.5)
        except Exception as e:
            errs.append(e)

    t = threading.Thread(target=run_paused)
    t.start()
    assert entered.wait(30.0)
    time.sleep(0.8)                    # lease stale: no heartbeat

    def successor_write(tmp):
        fsio.write_text(spark, fsio.join(tmp, "data"), "SUCCESSOR")

    fsio.swap_in(spark, p, "toy", successor_write, lease_timeout=0.5)
    resume.set()
    t.join(60.0)
    assert len(errs) == 1 and isinstance(errs[0],
                                         fsio.ConcurrentWriterError), errs
    assert fsio.read_text(spark, fsio.join(p, "data")) == "SUCCESSOR"
    # the next entry's preamble clears the paused writer's stale tmp
    fsio.swap_in(spark, p, "toy",
                 lambda tmp: fsio.write_text(
                     spark, fsio.join(tmp, "data"), "NEXT"),
                 lease_timeout=0.5)
    assert fsio.read_text(spark, fsio.join(p, "data")) == "NEXT"
    assert not fsio.exists(spark, p + ".toy_tmp")
    assert not fsio.exists(spark, p + ".toy_old")


def test_repair_torn_append_deletes_unparsable_marker(spark, tmp_path):
    """ADVICE r11 #2: an unparsable marker means the crash happened
    BEFORE the data write (the marker is written first), so repair
    deletes it and the replay appends exactly once."""
    p = f"file://{tmp_path}/tornm"
    spark.range(1).write.parquet(p)
    fsio.write_json(spark, fsio.join(p, "_spec.json"), {"batches": 0})
    fsio.write_text(spark, fsio.join(p, "_append_inprogress.json"),
                    '{"epoch": 1, "batches_befo')   # torn mid-write

    def _w(spec):
        fsio.write_text(spark, fsio.join(p, "batchA"), "data")

    assert fsio.guarded_append(spark, p, "toy", "_spec.json", 1,
                               _w) is True
    assert fsio.read_text(spark, fsio.join(p, "batchA")) == "data"
    spec = fsio.read_json(spark, fsio.join(p, "_spec.json"))
    assert spec["batches"] == 1 and spec["last_epoch"] == 1
    assert not fsio.exists(spark,
                           fsio.join(p, "_append_inprogress.json"))


class _InjectedCrash(Exception):
    pass


def test_guarded_append_crash_before_every_fs_op(spark, tmp_path):
    """Exhaustive generalization of the hand-picked crash matrix: every
    FS primitive in fsio funnels through _fs_path, so injecting a crash
    BEFORE the k-th FS op — for EVERY k an append performs — simulates
    process death between any two metadata/data operations (lease
    claim, repair reads, manifest listing, marker temp write + rename,
    the data write, spec temp write + rename, marker delete, release
    reads/delete).  After each injected crash the replay (same epoch)
    must land the batch EXACTLY once: the file present with committed
    content, the spec counter advanced by one, no orphans.  A crash
    that left a live-looking lease is waited out and retried — which
    also exercises the fenced stale-takeover path at every k."""
    import time

    p = f"file://{tmp_path}/xop"
    spark.range(1).write.parquet(p)
    fsio.write_json(spark, fsio.join(p, "_spec.json"), {"batches": 0})

    def writer(name):
        def _w(spec):
            fsio.write_text(spark, fsio.join(p, name), "payload")
        return _w

    def data_files():
        return [n for n in fsio.list_names(spark, p)
                if n.startswith("batch")]

    def run(epoch, name, timeout=0.4):
        """One append attempt with retry across a crashed lease."""
        for _ in range(4):
            try:
                return fsio.guarded_append(spark, p, "toy",
                                           "_spec.json", epoch,
                                           writer(name),
                                           lease_timeout=timeout)
            except fsio.ConcurrentWriterError:
                time.sleep(timeout + 0.1)   # crashed lease: let it age
        raise AssertionError("lease never became claimable")

    # clean run to count the FS ops one append performs
    orig = fsio._fs_path
    counter = {"n": 0, "crash_at": None}

    def counting(spark_, path_):
        if counter["crash_at"] is not None \
                and counter["n"] >= counter["crash_at"]:
            raise _InjectedCrash(f"crash before FS op {counter['n']}")
        counter["n"] += 1
        return orig(spark_, path_)

    fsio._fs_path = counting
    try:
        assert run(1, "batch_clean") is True
        n_ops = counter["n"]
        assert n_ops > 10, n_ops       # the protocol is many ops wide
        for k in range(n_ops):
            counter["n"] = 0
            counter["crash_at"] = k
            name = f"batch_k{k:03d}"
            epoch = 2 + k
            try:
                run(epoch, name)
                crashed = False
            except _InjectedCrash:
                crashed = True
            counter["crash_at"] = None
            counter["n"] = 0
            if crashed:
                # process "restarts": replay the same epoch
                got = run(epoch, name)
                # replay either re-appends (crash pre-commit) or skips
                # (crash post-commit) — both leave exactly one copy
                assert got in (True, False)
            assert name in data_files(), (k, data_files())
            assert fsio.read_text(spark, fsio.join(p, name)) \
                == "payload", k
            spec = fsio.read_json(spark, fsio.join(p, "_spec.json"))
            assert spec["batches"] == 2 + k, (k, spec)
            assert spec["last_epoch"] == epoch, (k, spec)
            assert not fsio.exists(
                spark, fsio.join(p, "_append_inprogress.json")), k
        # no stray temps or orphans anywhere in the table dir
        assert [n for n in fsio.list_names(spark, p)
                if ".tmp-" in n] == []
        assert len(data_files()) == 1 + n_ops
    finally:
        fsio._fs_path = orig
        fsio.delete(spark, p + ".toy_lock", recursive=False)


def test_swap_in_crash_before_every_fs_op(spark, tmp_path):
    """The swap twin of the append sweep: inject a crash before the
    k-th FS op for EVERY k a swap_in performs (lease claim, heal
    checks, tmp/old preamble deletes, the rewrite, the two renames,
    the old-table delete, the release).  After each crash the retry
    must converge to a COMPLETE table with the retried content — the
    reader-visible invariant 'a complete table at path, or parked at
    _old and healed on entry', never an empty or mixed directory."""
    import time

    p = f"file://{tmp_path}/swp"
    fsio.write_text(spark, fsio.join(p, "data"), "v0")

    def writer(content):
        def _w(tmp):
            fsio.write_text(spark, fsio.join(tmp, "data"), content)
        return _w

    def run(content, timeout=0.4):
        for _ in range(4):
            try:
                return fsio.swap_in(spark, p, "toy", writer(content),
                                    lease_timeout=timeout)
            except fsio.ConcurrentWriterError:
                time.sleep(timeout + 0.1)
        raise AssertionError("lease never became claimable")

    orig = fsio._fs_path
    counter = {"n": 0, "crash_at": None}

    def counting(spark_, path_):
        if counter["crash_at"] is not None \
                and counter["n"] >= counter["crash_at"]:
            raise _InjectedCrash(f"crash before FS op {counter['n']}")
        counter["n"] += 1
        return orig(spark_, path_)

    fsio._fs_path = counting
    try:
        run("v1")
        n_ops = counter["n"]
        assert n_ops > 8, n_ops
        for k in range(n_ops):
            counter["n"] = 0
            counter["crash_at"] = k
            content = f"v{k + 2}"
            try:
                run(content)
            except _InjectedCrash:
                counter["crash_at"] = None
                counter["n"] = 0
                run(content)         # "restart": heal-on-entry + redo
            counter["crash_at"] = None
            counter["n"] = 0
            assert fsio.read_text(spark, fsio.join(p, "data")) \
                == content, k
            assert not fsio.exists(spark, p + ".toy_old"), k
            assert not fsio.exists(spark, p + ".toy_tmp"), k
    finally:
        fsio._fs_path = orig
        fsio.delete(spark, p + ".toy_lock", recursive=False)


def test_rename_overwrite_fallback_without_filecontext(spark,
                                                       tmp_path,
                                                       monkeypatch):
    """Filesystems without an AbstractFileSystem binding can't serve
    FileContext — rename_overwrite must fall back to delete+rename and
    still replace the destination.  Simulated by a wrapper fs whose
    makeQualified (the FileContext URI step) raises."""
    import gqlite_spark.fsio as fsio_mod

    a = f"file://{tmp_path}/a.json"
    b = f"file://{tmp_path}/b.json"
    fsio.write_text(spark, a, "NEW")
    fsio.write_text(spark, b, "OLD")

    orig = fsio_mod._fs_path

    class _NoQualify:
        def __init__(self, fs):
            self._fs = fs

        def __getattr__(self, name):
            return getattr(self._fs, name)

        def makeQualified(self, p):
            raise RuntimeError("no AbstractFileSystem binding")

    def crippled(spark_, path_):
        fs, hp, jvm = orig(spark_, path_)
        return _NoQualify(fs), hp, jvm

    monkeypatch.setattr(fsio_mod, "_fs_path", crippled)
    fsio.rename_overwrite(spark, a, b)
    monkeypatch.setattr(fsio_mod, "_fs_path", orig)
    assert fsio.read_text(spark, b) == "NEW"
    assert not fsio.exists(spark, a)


def test_guarded_append_post_commit_fence_warning(spark, tmp_path):
    """VERDICT r13 wrong #1 / next #3: the commit-time fence cannot
    close the window BETWEEN assert_lease and the spec write — a writer
    paused exactly there still commits over its successor.  The
    post-commit re-read must detect the crossing and raise a loud
    FencedCommitWarning naming the table and epoch, so reconciliation
    is triggered at the moment of overlap.  The takeover is injected
    deterministically via _POST_ASSERT_RACE_HOOK."""
    p = f"file://{tmp_path}/pcf"
    spark.range(1).write.parquet(p)
    fsio.write_json(spark, fsio.join(p, "_spec.json"), {"batches": 0})
    lock = p + ".toy_lock"

    def takeover_inside_window():
        fsio._POST_ASSERT_RACE_HOOK = None    # fire once
        fsio.delete(spark, lock, recursive=False)
        assert fsio.create_exclusive(spark, lock, "nonce=SUCCESSOR")

    fsio._POST_ASSERT_RACE_HOOK = takeover_inside_window
    try:
        with pytest.warns(fsio.FencedCommitWarning) as rec:
            assert fsio.guarded_append(
                spark, p, "toy", "_spec.json", 1,
                lambda spec: fsio.write_text(
                    spark, fsio.join(p, "batch_A"), "A")) is True
    finally:
        fsio._POST_ASSERT_RACE_HOOK = None
    msg = str(rec[0].message)
    assert p in msg and "epoch=1" in msg and "SUCCESSOR" in msg, msg
    # detection, not prevention: the loser's commit DID land
    spec = fsio.read_json(spark, fsio.join(p, "_spec.json"))
    assert spec["batches"] == 1 and spec["last_epoch"] == 1
    # the loser's fenced release left the successor's lease intact
    assert fsio.read_text(spark, lock) == "nonce=SUCCESSOR"
    # the successor's (here: any later writer's) lifecycle still
    # converges once its lease ages out or is released: replay of the
    # committed epoch skips, the next epoch appends
    fsio.delete(spark, lock, recursive=False)
    assert fsio.guarded_append(spark, p, "toy", "_spec.json", 1,
                               lambda spec: None) is False
    assert fsio.guarded_append(
        spark, p, "toy", "_spec.json", 2,
        lambda spec: fsio.write_text(
            spark, fsio.join(p, "batch_B"), "B")) is True
    spec = fsio.read_json(spark, fsio.join(p, "_spec.json"))
    assert spec["batches"] == 2 and spec["last_epoch"] == 2
    fsio.delete(spark, lock, recursive=False)


def test_swap_in_post_commit_fence_warning(spark, tmp_path):
    """The swap twin: a takeover landing between assert_lease and the
    first rename still swaps (irreducible without CAS) — the
    post-commit re-read warns loudly instead of staying silent."""
    p = f"file://{tmp_path}/pcs"
    fsio.write_text(spark, fsio.join(p, "data"), "v0")
    lock = p + ".toy_lock"

    def takeover_inside_window():
        fsio._POST_ASSERT_RACE_HOOK = None
        fsio.delete(spark, lock, recursive=False)
        assert fsio.create_exclusive(spark, lock, "nonce=SUCCESSOR")

    fsio._POST_ASSERT_RACE_HOOK = takeover_inside_window
    try:
        with pytest.warns(fsio.FencedCommitWarning) as rec:
            fsio.swap_in(spark, p, "toy",
                         lambda tmp: fsio.write_text(
                             spark, fsio.join(tmp, "data"), "LOSER"))
    finally:
        fsio._POST_ASSERT_RACE_HOOK = None
    assert "swap_in(toy)" in str(rec[0].message)
    assert fsio.read_text(spark, fsio.join(p, "data")) == "LOSER"
    assert fsio.read_text(spark, lock) == "nonce=SUCCESSOR"
    # later lifecycle entries converge after the successor's lease goes
    fsio.delete(spark, lock, recursive=False)
    fsio.swap_in(spark, p, "toy",
                 lambda tmp: fsio.write_text(
                     spark, fsio.join(tmp, "data"), "NEXT"))
    assert fsio.read_text(spark, fsio.join(p, "data")) == "NEXT"


def test_clean_commit_emits_no_fence_warning(spark, tmp_path):
    """The steady-state path must stay silent: no FencedCommitWarning
    on an uncontended append or swap."""
    import warnings

    p = f"file://{tmp_path}/quiet"
    spark.range(1).write.parquet(p)
    fsio.write_json(spark, fsio.join(p, "_spec.json"), {"batches": 0})
    fsio.write_text(spark, fsio.join(p + "2", "data"), "v0")
    with warnings.catch_warnings():
        warnings.simplefilter("error", fsio.FencedCommitWarning)
        assert fsio.guarded_append(spark, p, "toy", "_spec.json", 1,
                                   lambda spec: None) is True
        fsio.swap_in(spark, p + "2", "toy",
                     lambda tmp: fsio.write_text(
                         spark, fsio.join(tmp, "data"), "x"))
    assert fsio.read_text(spark, fsio.join(p + "2", "data")) == "x"


def test_assert_lease_retries_transient_read_error(spark, tmp_path,
                                                   monkeypatch):
    """ADVICE r13 #2: a transient (non-FileNotFound) lock-read error at
    commit time must not abort a healthy writer — the read retries once
    and sees the lease is still ours.  A genuinely MISSING lock is a
    lost lease: no retry, immediate ConcurrentWriterError."""
    lock = f"file://{tmp_path}/t.kind_lock"
    fsio.write_text(spark, lock, "nonce=MINE")
    real = fsio.read_text
    calls = {"n": 0}

    def flaky(sp, path):
        calls["n"] += 1
        if calls["n"] == 1:
            raise IOError("transient object-store blip")
        return real(sp, path)

    monkeypatch.setattr(fsio, "read_text", flaky)
    fsio.assert_lease(spark, lock, "MINE")          # no raise
    assert calls["n"] == 2
    monkeypatch.setattr(fsio, "read_text", real)
    # missing lock: FileNotFound concludes immediately (single read)
    fsio.delete(spark, lock, recursive=False)
    calls["n"] = 0

    def counting(sp, path):
        calls["n"] += 1
        return real(sp, path)

    monkeypatch.setattr(fsio, "read_text", counting)
    with pytest.raises(fsio.ConcurrentWriterError):
        fsio.assert_lease(spark, lock, "MINE")
    assert calls["n"] == 1


def test_guarded_append_sweep_spares_foreign_tmps(spark, tmp_path):
    """ADVICE r13 #3: the one-listing orphan sweep deletes only the
    PROTOCOL'S OWN sidecar temps (spec/marker prefixes).  A foreign
    component's in-flight ``*.tmp-*`` under the table path must survive
    the sweep (deleting it on sight would re-open the mid-rename race
    removed from write_text_atomic) and be recorded in the manifest so
    a torn-append repair does not sweep it either."""
    p = f"file://{tmp_path}/sweep"
    spark.range(1).write.parquet(p)
    fsio.write_json(spark, fsio.join(p, "_spec.json"), {"batches": 0})
    own_spec_tmp = fsio.join(p, "_spec.json.tmp-deadbeef")
    own_marker_tmp = fsio.join(p, "_append_inprogress.json.tmp-cafe")
    foreign_tmp = fsio.join(p, "_other_sidecar.json.tmp-beef")
    for f in (own_spec_tmp, own_marker_tmp, foreign_tmp):
        fsio.write_text(spark, f, "leftover")
    seen_manifest = {}

    def writer(spec):
        m = fsio.read_json(spark, fsio.join(p, "_append_inprogress.json"))
        seen_manifest.update(m)

    assert fsio.guarded_append(spark, p, "toy", "_spec.json", 1,
                               writer) is True
    # own crashed temps swept, foreign temp intact
    assert not fsio.exists(spark, own_spec_tmp)
    assert not fsio.exists(spark, own_marker_tmp)
    assert fsio.exists(spark, foreign_tmp)
    names = set(seen_manifest["files_before"])
    assert "_other_sidecar.json.tmp-beef" in names
    assert "_spec.json.tmp-deadbeef" not in names
    fsio.delete(spark, p + ".toy_lock", recursive=False)
