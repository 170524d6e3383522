"""The crash protocol the three persisted stores share (operators/store.py).

* Crash matrix: each rewrite verb is staged once with the swap stubbed,
  then for every k the swap is crashed after its k-th filesystem step and
  recovered. The store must then hold exactly what the uninterrupted verb
  leaves, with no staging left behind.
* A session-store delete crashed after its first bucket rename recovers
  every survivor (a rerun must not take the moved bucket for an emptied
  one).
* Readers never touch uncommitted staging (a writer may still be running
  it), and finish a committed swap only under the writer lease.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from samba_spark.operators import dedup, indexstore, sessionize
from samba_spark.queries.extensions import X155_BOOKS, X155_CELLS


class _Crash(Exception):
    pass


def _rows(d):
    """Sorted rows of the parquet dataset under ``d`` (partition columns
    included, ``_``/``.`` entries skipped), or None when ``d`` is absent."""
    if not os.path.isdir(d):
        return None
    return sorted(repr(r) for r in pq.read_table(d).to_pylist())


def _events(spark, n_users, n_events):
    return spark.range(n_events).coalesce(2).select(
        F.concat(F.lit("u"), (F.col("id") % n_users).cast("string")).alias(
            "user_id"
        ),
        F.col("id").cast("long").alias("event_id"),
        F.timestamp_seconds(
            F.lit(1700000000)
            + F.col("id") * 137
            + F.when(F.col("id") % 7 == 0, 5400).otherwise(0)
        ).alias("ts"),
        F.concat(F.lit("t"), (F.col("id") % 5).cast("string")).alias(
            "event_type"
        ),
    )


def _session_store(spark, path, user_buckets):
    events = _events(spark, n_users=8, n_events=160)
    # two deltas split in time: the feed must be append-only per user
    early = F.col("ts") < F.timestamp_seconds(F.lit(1700000000 + 80 * 137))
    for delta in (events.where(early), events.where(~early)):
        sessionize.sessionize_incremental(
            spark, path, delta, gap_seconds=1800, user_buckets=user_buckets
        )


def _doomed_users(spark):
    """Every user of u1's bucket (4 buckets, so that bucket rewrites to
    empty) plus one user of another bucket (which rewrites to survivors)."""
    users = spark.createDataFrame(
        [(f"u{i}",) for i in range(8)], "user_id string"
    ).select("user_id", sessionize._user_bucket("user_id", 4).alias("b"))
    bucket = dict(users.collect())
    emptied = [u for u, b in sorted(bucket.items()) if b == bucket["u1"]]
    other = next(u for u, b in sorted(bucket.items()) if b != bucket["u1"])
    return emptied + [other]


def _minhash(spark, sf_dir, path):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").where(
        F.col("doc_id") < 80
    )
    dedup.save_minhash_index(docs.where(F.col("doc_id") < 60), path)
    dedup.append_minhash_index(docs.where(F.col("doc_id") >= 60), path)
    dedup.delete_from_minhash_index(spark, path, [1, 2, 61])


def _vectors(spark, sf_dir, path):
    indexstore.save_ivf_pq_index(spark, path, X155_CELLS, X155_BOOKS)
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    indexstore.build_ivf_pq_postings(spark, path, embs.where("vec_id < 40"))
    indexstore.build_ivf_pq_postings(spark, path, embs.where("vec_id < 80"))
    indexstore.delete_from_vector_store(spark, path, [3, 4, 50])


# case -> (store declaration, datasets compared, setup, verb)
CASES = {
    "compact_minhash_index": (
        dedup.MINHASH_STORE,
        ("sigs", "bands", "deletes"),
        _minhash,
        lambda spark, p: dedup.compact_minhash_index(spark, p, target_files=2),
    ),
    "compact_vector_store": (
        indexstore.VECTOR_STORE,
        ("postings", "deletes"),
        _vectors,
        lambda spark, p: indexstore.compact_vector_store(
            spark, p, target_files=2
        ),
    ),
    "compact_session_store_flat": (
        sessionize.SESSION_STORE,
        ("",),
        lambda spark, sf, p: _session_store(spark, p, 0),
        lambda spark, p: sessionize.compact_session_store(
            spark, p, target_files=2
        ),
    ),
    "compact_session_store_bucketed": (
        sessionize.SESSION_STORE,
        ("",),
        lambda spark, sf, p: _session_store(spark, p, 4),
        lambda spark, p: sessionize.compact_session_store(spark, p),
    ),
    "delete_from_session_store_flat": (
        sessionize.SESSION_STORE,
        ("",),
        lambda spark, sf, p: _session_store(spark, p, 0),
        lambda spark, p: sessionize.delete_from_session_store(
            spark, p, ["u1", "u2"]
        ),
    ),
    "delete_from_session_store_bucketed_partial": (
        sessionize.SESSION_STORE,
        ("",),
        lambda spark, sf, p: _session_store(spark, p, 4),
        lambda spark, p: sessionize.delete_from_session_store(
            spark, p, _doomed_users(spark)
        ),
    ),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_crash_matrix(spark, sf_smoke, tmp_path, monkeypatch, case):
    from samba_spark.operators import store as protocol

    spec, datasets, setup, verb = CASES[case]

    def contents(p):
        assert not os.path.isdir(os.path.join(p, "_compact"))
        return {d: _rows(os.path.join(p, d)) for d in datasets}

    base = str(tmp_path / "base")
    setup(spark, sf_smoke, base)
    ref = str(tmp_path / "ref")
    shutil.copytree(base, ref)
    verb(spark, ref)
    want = contents(ref)
    # stage once: the verb runs to its commit point, the swap is stubbed
    monkeypatch.setattr(protocol, "finish_swap", lambda path, s: None)
    verb(spark, base)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(base, "_compact", "_COMMIT"))

    real_apply = protocol._apply
    done = []

    def crash_after(k):
        def apply(step):
            if len(done) == k:
                raise _Crash(step)
            real_apply(step)
            done.append(step)

        return apply

    # uninterrupted recovery: the step count, and the verb's own result
    clean = str(tmp_path / "clean")
    shutil.copytree(base, clean)
    monkeypatch.setattr(protocol, "_apply", crash_after(-1))
    spec.recover(clean)
    monkeypatch.undo()
    n_steps = len(done)
    assert n_steps >= 2
    assert contents(clean) == want
    for k in range(n_steps):
        run = str(tmp_path / f"crash{k}")
        shutil.copytree(base, run)
        done.clear()
        monkeypatch.setattr(protocol, "_apply", crash_after(k))
        with pytest.raises(_Crash):
            spec.recover(run)
        monkeypatch.undo()
        spec.recover(run)
        assert contents(run) == want, f"crash after step {k} of {n_steps}"


def test_session_delete_recovers_after_crash_mid_swap(
    spark, tmp_path, monkeypatch
):
    events = _events(spark, n_users=40, n_events=400)
    store = str(tmp_path / "sessions")
    sessionize.sessionize_incremental(
        spark, store, events, gap_seconds=1800, user_buckets=4
    )
    doomed = ["u1", "u2"]
    real_replace = os.replace
    moved = []

    def replace_once(src, dst):
        if moved:
            raise _Crash(src)
        real_replace(src, dst)
        moved.append(dst)

    # the swap dies right after its first bucket rename
    monkeypatch.setattr(os, "replace", replace_once)
    with pytest.raises(_Crash):
        sessionize.delete_from_session_store(spark, store, doomed)
    monkeypatch.undo()
    # the next writer verb rolls the committed delete forward
    assert sessionize.delete_from_session_store(spark, store, ["nobody"]) == 0
    assert not os.path.isdir(os.path.join(store, "_compact"))
    got = spark.read.parquet(store).select(
        "user_id", "event_id", "ts", "event_type", "session_id"
    )
    want = sessionize.sessionize(
        events.where(~F.col("user_id").isin(doomed)), gap_seconds=1800
    ).select("user_id", "event_id", "ts", "event_type", "session_id")
    assert got.count() == 380
    assert sorted(got.collect()) == sorted(want.collect())


def _hold_lease(path, verb):
    with open(os.path.join(path, "_LEASE"), "w") as fh:
        json.dump({"verb": verb, "pid": 4242, "acquired": time.time()}, fh)


def test_reader_leaves_uncommitted_staging_to_its_writer(
    spark, sf_smoke, tmp_path
):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").where(
        F.col("doc_id") < 50
    )
    p = str(tmp_path / "idx")
    dedup.save_minhash_index(docs, p)
    # a compact mid-rewrite: it holds the lease, staging has no marker
    _hold_lease(p, "compact_minhash_index")
    os.makedirs(f"{p}/_compact/sigs")
    with open(f"{p}/_compact/sigs/part-0.parquet", "w") as fh:
        fh.write("being written")
    _, sigs, _ = dedup.load_minhash_index(spark, p)
    assert sigs.count() == 50
    probe = docs.where(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    out = dedup.probe_minhash_index(spark, p, probe, min_agree=8).collect()
    self_matches = {
        r["match_id"] for r in out if r["doc_id"] - r["match_id"] == 1_000_000
    }
    assert self_matches == set(range(5))
    assert sorted(os.listdir(f"{p}/_compact/sigs")) == ["part-0.parquet"]
    assert os.path.exists(f"{p}/_LEASE")


def test_reader_finishes_committed_swap_only_under_lease(
    spark, sf_smoke, tmp_path
):
    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet").where(
        F.col("doc_id") < 50
    )
    p = str(tmp_path / "idx")
    dedup.save_minhash_index(docs, p)
    dedup.delete_from_minhash_index(spark, p, [0])
    # a compact paused at its commit point: staging committed, lease held
    for name in ("sigs", "bands"):
        spark.read.parquet(f"{p}/{name}").where("doc_id <> 0").write.parquet(
            f"{p}/_compact/{name}"
        )
    with open(f"{p}/_compact/_COMMIT", "w") as fh:
        fh.write("committed\n")
    _hold_lease(p, "compact_minhash_index")
    with pytest.raises(RuntimeError, match="held by verb=compact_minhash"):
        dedup.load_minhash_index(spark, p)
    assert sorted(os.listdir(f"{p}/_compact")) == ["_COMMIT", "bands", "sigs"]
    assert os.path.isdir(f"{p}/deletes")
    # the holder is gone: the reader finishes the swap itself
    os.unlink(f"{p}/_LEASE")
    _, sigs, _ = dedup.load_minhash_index(spark, p)
    assert sigs.count() == 49
    assert not os.path.exists(f"{p}/_compact")
    assert not os.path.exists(f"{p}/deletes")
    assert not os.path.exists(f"{p}/_LEASE")


def test_vector_reader_waits_for_committed_swap(spark, sf_smoke, tmp_path):
    p = str(tmp_path / "vec")
    embs = spark.read.parquet(f"{sf_smoke}/embeddings.parquet")
    indexstore.save_ivf_pq_index(spark, p, X155_CELLS, X155_BOOKS)
    indexstore.build_ivf_pq_postings(spark, p, embs.where("vec_id < 40"))
    queries = embs.where("vec_id < 2").select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )
    want = sorted(indexstore.probe_ivf_pq_store(spark, p, queries).collect())
    # a compact paused at its commit point: staging committed, lease held
    spark.read.parquet(f"{p}/postings").write.parquet(f"{p}/_compact/postings")
    with open(f"{p}/_compact/_COMMIT", "w") as fh:
        fh.write("committed\n")
    _hold_lease(p, "compact_vector_store")
    with pytest.raises(RuntimeError, match="held by verb=compact_vector"):
        indexstore.probe_ivf_pq_store(spark, p, queries)
    assert os.path.exists(f"{p}/_compact/_COMMIT")
    os.unlink(f"{p}/_LEASE")
    got = indexstore.probe_ivf_pq_store(spark, p, queries).collect()
    assert sorted(got) == want
    assert not os.path.exists(f"{p}/_compact")
