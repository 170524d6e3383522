"""Session-store lifecycle (VERDICT r10 item 1) + single-writer lease
enforcement (VERDICT r10 item 3).

Covers: bucketed incremental ≡ batch; compact ≡ no-op on results with
bounded file count (flat and bucketed); crash recovery (rollback before
the commit marker, roll-forward after); the tail-aggregate partition
pruning the bucketed layout exists for (plan-asserted); layout/gap
mismatch refusal; URI-scheme refusal; lease contention (held → loud
LeaseHeldError, stale → takeover) on both the session verbs and the
MinHash index verbs."""

import json
import os
import time

import pytest
from pyspark.sql import functions as F

from samba_spark.operators import store as store_protocol
from samba_spark.operators.sessionize import (
    SESSION_STORE,
    compact_session_store,
    session_store_tails,
    sessionize,
    sessionize_incremental,
)
from samba_spark.operators.store import LeaseHeldError, store_lease


def _events(spark, n_users=40, n_events=600, gap=1800):
    # deterministic synthetic feed: some gaps exceed the session gap
    rows = (
        spark.range(n_events)
        .select(
            F.concat(F.lit("u"), (F.col("id") % n_users).cast("string")).alias(
                "user_id"
            ),
            F.col("id").cast("long").alias("event_id"),
            F.timestamp_seconds(
                F.lit(1700000000)
                + F.col("id") * 137
                + F.when(F.col("id") % 7 == 0, gap * 3).otherwise(0)
            ).alias("ts"),
            F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias(
                "event_type"
            ),
        )
    )
    return rows


def _store_df(spark, store):
    return spark.read.parquet(store).select(
        "user_id", "event_id", "ts", "event_type", "session_id"
    )


def _assert_matches_batch(spark, store, events, gap=1800):
    got = _store_df(spark, store).orderBy("user_id", "event_id").collect()
    want = (
        sessionize(
            events.select("user_id", "event_id", "ts", "event_type"),
            "user_id",
            "ts",
            gap,
        )
        .orderBy("user_id", "event_id")
        .collect()
    )
    assert [tuple(r) for r in got] == [
        (r.user_id, r.event_id, r.ts, r.event_type, r.session_id)
        for r in want
    ]


@pytest.mark.parametrize("user_buckets", [0, 8])
def test_incremental_matches_batch_and_compact_is_noop(
    spark, tmp_path, user_buckets
):
    events = _events(spark)
    store = str(tmp_path / f"store_{user_buckets}")
    cut = 300
    for lo, hi in ((0, cut), (cut, 450), (450, 600)):
        sessionize_incremental(
            spark,
            store,
            events.where(
                (F.col("event_id") >= lo) & (F.col("event_id") < hi)
            ),
            gap_seconds=1800,
            user_buckets=user_buckets,
        )
    _assert_matches_batch(spark, store, events)
    info = compact_session_store(spark, store, target_files=2)
    assert info["rows"] == 600
    if user_buckets == 0:
        assert info["files_after"] == 2
    else:
        # one file per live bucket, layout preserved
        assert info["files_after"] <= user_buckets
        assert any(
            e.startswith("ubucket=") for e in os.listdir(store)
        )
    assert info["files_after"] < info["files_before"]
    _assert_matches_batch(spark, store, events)
    # appends keep working after a compact
    more = _events(spark, n_events=700).where(F.col("event_id") >= 600)
    sessionize_incremental(
        spark, store, more, gap_seconds=1800, user_buckets=user_buckets
    )
    _assert_matches_batch(spark, store, _events(spark, n_events=700))


def test_bucketed_tail_aggregate_prunes_partitions(spark, tmp_path):
    events = _events(spark)
    store = str(tmp_path / "bucketed")
    sessionize_incremental(
        spark, store, events, gap_seconds=1800, user_buckets=8
    )
    delta = events.where(F.col("user_id") == "u3").limit(5)
    tails = session_store_tails(spark, store, delta)
    plan = tails._jdf.queryExecution().executedPlan().toString()
    # the store scan must carry a static ubucket partition filter —
    # the whole point of the bucketed layout (VERDICT r10 item 1)
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, f"no PartitionFilters in plan:\n{plan}"
    assert "ubucket" in m.group(1), m.group(1)
    assert tails.count() == 1  # only u3's tail


def test_layout_and_gap_mismatch_refused(spark, tmp_path):
    events = _events(spark, n_events=50)
    store = str(tmp_path / "meta_guard")
    sessionize_incremental(
        spark, store, events, gap_seconds=1800, user_buckets=4
    )
    with pytest.raises(ValueError, match="layout/gap mismatch"):
        sessionize_incremental(
            spark, store, events, gap_seconds=1800, user_buckets=8
        )
    with pytest.raises(ValueError, match="layout/gap mismatch"):
        sessionize_incremental(
            spark, store, events, gap_seconds=600, user_buckets=4
        )


def test_uri_scheme_store_refused(spark, tmp_path):
    events = _events(spark, n_events=10)
    for bad in ("s3a://bucket/store", "hdfs://nn/store", "file:///tmp/x"):
        with pytest.raises(NotImplementedError, match="plain local"):
            sessionize_incremental(spark, bad, events)
        with pytest.raises(NotImplementedError, match="plain local"):
            compact_session_store(spark, bad)


def test_compaction_rollback_before_marker(spark, tmp_path):
    events = _events(spark, n_events=80)
    store = str(tmp_path / "rollback")
    sessionize_incremental(spark, store, events, gap_seconds=1800)
    # simulate a pre-commit crash: staging exists, no _COMMIT
    os.makedirs(os.path.join(store, "_compact", "data"), exist_ok=True)
    with open(
        os.path.join(store, "_compact", "data", "junk.parquet"), "w"
    ) as fh:
        fh.write("not parquet")
    SESSION_STORE.recover(store)
    assert not os.path.isdir(os.path.join(store, "_compact"))
    _assert_matches_batch(spark, store, events)


def test_compaction_rollforward_after_marker(
    spark, tmp_path, monkeypatch
):
    import samba_spark.operators.sessionize as sz

    events = _events(spark, n_events=120)
    store = str(tmp_path / "rollforward")
    half = events.where(F.col("event_id") < 60)
    rest = events.where(F.col("event_id") >= 60)
    sessionize_incremental(spark, store, half, gap_seconds=1800)
    sessionize_incremental(spark, store, rest, gap_seconds=1800)
    # crash AT the commit point: staging + marker written, swap never ran
    monkeypatch.setattr(
        store_protocol, "finish_swap", lambda path, spec: None
    )
    compact_session_store(spark, store, target_files=1)
    monkeypatch.undo()
    staging = os.path.join(store, "_compact")
    assert os.path.exists(os.path.join(staging, "_COMMIT"))
    # next verb entry repairs: roll FORWARD to the compacted generation
    SESSION_STORE.recover(store)
    assert not os.path.isdir(staging)
    files = [
        f
        for f in os.listdir(store)
        if not f.startswith(("_", ".")) and f.endswith(".parquet")
    ]
    assert len(files) == 1 and files[0].startswith("g")
    _assert_matches_batch(spark, store, events)


def test_lease_contention_session_store(spark, tmp_path):
    events = _events(spark, n_events=30)
    store = str(tmp_path / "leased")
    sessionize_incremental(spark, store, events, gap_seconds=1800)
    # a held (fresh) lease refuses the next verb loudly
    lease = os.path.join(store, "_LEASE")
    with open(lease, "w") as fh:
        json.dump(
            {"verb": "other", "pid": 99999, "acquired": time.time()}, fh
        )
    with pytest.raises(LeaseHeldError, match="verb=other"):
        compact_session_store(spark, store)
    # a STALE lease (older than ttl) is taken over and the verb runs —
    # staleness is judged by the FILE's mtime (review pass: the holder
    # JSON alone would let an empty just-created lease read as stale)
    with open(lease, "w") as fh:
        json.dump(
            {"verb": "dead", "pid": 1, "acquired": time.time() - 7200}, fh
        )
    os.utime(lease, (time.time() - 7200, time.time() - 7200))
    info = compact_session_store(spark, store)
    assert info["rows"] == 30
    assert not os.path.exists(lease)  # released on exit


def test_lease_contention_minhash_index(spark, tmp_path, sf_correct):
    from samba_spark.operators.dedup import (
        delete_from_minhash_index,
        save_minhash_index,
    )

    docs = (
        spark.read.parquet(f"{sf_correct}/documents.parquet")
        .select("doc_id", "text")
        .limit(50)
    )
    path = str(tmp_path / "idx")
    save_minhash_index(docs, path)
    lease = os.path.join(path, "_LEASE")
    with open(lease, "w") as fh:
        json.dump(
            {"verb": "append", "pid": 4, "acquired": time.time()}, fh
        )
    with pytest.raises(LeaseHeldError, match="verb=append"):
        delete_from_minhash_index(spark, path, [1, 2])
    os.unlink(lease)
    assert delete_from_minhash_index(spark, path, [1, 2]) >= 0
    assert not os.path.exists(lease)


def test_store_lease_reentry_and_release(tmp_path):
    p = str(tmp_path / "s")
    with store_lease(p, "v1"):
        assert os.path.exists(os.path.join(p, "_LEASE"))
        with pytest.raises(LeaseHeldError):
            with store_lease(p, "v2"):
                pass
    assert not os.path.exists(os.path.join(p, "_LEASE"))
    # sequential re-acquisition works
    with store_lease(p, "v3"):
        pass


def test_user_delete_bucketed_touches_only_affected_buckets(spark, tmp_path):
    from samba_spark.operators.sessionize import delete_from_session_store

    events = _events(spark)
    store = str(tmp_path / "del_bucketed")
    sessionize_incremental(
        spark, store, events, gap_seconds=1800, user_buckets=8
    )
    # record per-bucket dir mtimes/files before the delete
    before = {
        d: sorted(os.listdir(os.path.join(store, d)))
        for d in os.listdir(store)
        if d.startswith("ubucket=")
    }
    doomed_users = ["u3", "u11"]
    doomed_rows = (
        spark.read.parquet(store)
        .where(F.col("user_id").isin(doomed_users))
        .count()
    )
    removed = delete_from_session_store(
        spark,
        store,
        events.select("user_id")
        .where(F.col("user_id").isin(doomed_users))
        .distinct(),
    )
    assert removed == doomed_rows > 0
    # survivors unchanged, doomed gone
    left = spark.read.parquet(store)
    assert left.where(F.col("user_id").isin(doomed_users)).count() == 0
    _assert_matches_batch(
        spark, store, events.where(~F.col("user_id").isin(doomed_users))
    )
    # unaffected bucket dirs were not rewritten (same part files)
    from samba_spark.operators.sessionize import _user_bucket

    affected = {
        f"ubucket={r[0]}"
        for r in spark.range(1)
        .select(F.lit("u3").alias("u"), F.lit("u11").alias("v"))
        .select(
            F.explode(F.array("u", "v")).alias("user_id")
        )
        .select(_user_bucket("user_id", 8).alias("b"))
        .distinct()
        .collect()
    }
    after = {
        d: sorted(os.listdir(os.path.join(store, d)))
        for d in os.listdir(store)
        if d.startswith("ubucket=")
    }
    for d, files in before.items():
        if d not in affected:
            assert after[d] == files, f"unaffected {d} was rewritten"


def test_user_delete_flat_store_and_iterable_ids(spark, tmp_path):
    from samba_spark.operators.sessionize import delete_from_session_store

    events = _events(spark, n_events=100)
    store = str(tmp_path / "del_flat")
    sessionize_incremental(spark, store, events, gap_seconds=1800)
    removed = delete_from_session_store(spark, store, ["u1", "u2"])
    want_removed = events.where(
        F.col("user_id").isin(["u1", "u2"])
    ).count()
    assert removed == want_removed
    _assert_matches_batch(
        spark, store, events.where(~F.col("user_id").isin(["u1", "u2"]))
    )
    # deleting absent users is a 0
    assert delete_from_session_store(spark, store, ["nobody"]) == 0


def test_user_delete_rollforward_recovery(spark, tmp_path, monkeypatch):
    import samba_spark.operators.sessionize as sz

    events = _events(spark, n_events=200)
    store = str(tmp_path / "del_crash")
    sessionize_incremental(
        spark, store, events, gap_seconds=1800, user_buckets=4
    )
    monkeypatch.setattr(
        store_protocol, "finish_swap", lambda path, spec: None
    )
    sz.delete_from_session_store(spark, store, ["u5"])
    monkeypatch.undo()
    assert os.path.exists(os.path.join(store, "_compact", "_COMMIT"))
    SESSION_STORE.recover(store)
    assert not os.path.isdir(os.path.join(store, "_compact"))
    _assert_matches_batch(
        spark, store, events.where(F.col("user_id") != "u5")
    )
