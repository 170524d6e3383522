"""MinHash index lifecycle verbs 4 & 5 (VERDICT r9 item 2): DELETE
(tombstones — takedown / right-to-be-forgotten) and COMPACT (bounded
file counts + physical tombstone removal).

The x160/x161 declared queries oracle-check probe results end to end;
these tests pin the lifecycle contracts the oracle can't see: the
tombstone state machine (idempotence, subset-of-physical invariant,
the delete→compact→append re-ingestion sequence), probe(compact(I)) ≡
probe(I) row-for-row, file-count bounding, and the crash-recovery
state machine (roll back before _COMMIT, roll forward after).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from samba_spark.operators.dedup import (
    append_minhash_index,
    compact_minhash_index,
    delete_from_minhash_index,
    probe_minhash_index,
    save_minhash_index,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _probe_batch(docs):
    """Exact copies (+1M ids) of every 4th doc — deterministic hits."""
    return docs.where(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )


def _rows(df):
    return sorted(
        (r["doc_id"], r["match_id"], r["n_agree"]) for r in df.collect()
    )


def test_delete_hides_docs_and_matches_fresh_build(spark, sf_smoke, tmp_path):
    docs = _docs(spark, sf_smoke)
    p = str(tmp_path / "idx")
    save_minhash_index(docs, p)
    victim_ids = [r["doc_id"] for r in docs.where(
        F.col("doc_id") % 4 == 0).select("doc_id").collect()][:5]
    n = delete_from_minhash_index(spark, p, victim_ids)
    assert n == 5
    out = probe_minhash_index(spark, p, _probe_batch(docs), min_agree=8)
    got = out.collect()
    # a deleted doc must never come back as a match
    assert not any(r["match_id"] in set(victim_ids) for r in got)
    # and the probe must equal a fresh index built on the live corpus
    p2 = str(tmp_path / "fresh")
    save_minhash_index(
        docs.where(~F.col("doc_id").isin(victim_ids)), p2
    )
    want = probe_minhash_index(spark, p2, _probe_batch(docs), min_agree=8)
    assert _rows(out) == _rows(want)


def test_delete_idempotent_and_absent_ids_noop(spark, sf_smoke, tmp_path):
    docs = _docs(spark, sf_smoke)
    p = str(tmp_path / "idx")
    save_minhash_index(docs, p)
    assert delete_from_minhash_index(spark, p, [0, 4]) == 2
    # same ids again: 0 — and the tombstone set did not grow
    assert delete_from_minhash_index(spark, p, [0, 4]) == 0
    assert spark.read.parquet(f"{p}/deletes").count() == 2
    # ids not in the index: never recorded (tombstones ⊆ physical ids)
    assert delete_from_minhash_index(spark, p, [99_999_999]) == 0
    assert spark.read.parquet(f"{p}/deletes").count() == 2


def test_deleted_id_not_reappendable_until_compact(spark, sf_smoke, tmp_path):
    docs = _docs(spark, sf_smoke)
    p = str(tmp_path / "idx")
    save_minhash_index(docs, p)
    victim = docs.where(F.col("doc_id") == 0)
    assert victim.count() == 1
    delete_from_minhash_index(spark, p, [0])
    # the documented contract: physical rows still exist, so append skips
    assert append_minhash_index(victim, p) == 0
    # delete → compact → append is the supported re-ingestion sequence
    compact_minhash_index(spark, p)
    assert append_minhash_index(victim, p) == 1
    out = probe_minhash_index(
        spark,
        p,
        victim.select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text"),
        min_agree=8,
    ).collect()
    assert len(out) == 1 and out[0]["match_id"] == 0


def test_compact_probe_equivalence_and_file_bound(spark, sf_smoke, tmp_path):
    docs = _docs(spark, sf_smoke)
    p = str(tmp_path / "idx")
    # build + 3 appends: accumulate small files like a daily-append store
    save_minhash_index(docs.where(F.col("source") == "src0"), p)
    for k in (1, 2, 3):
        append_minhash_index(docs.where(F.col("source") == f"src{k}"), p)
    victim_ids = [r["doc_id"] for r in docs.where(
        (F.col("doc_id") % 4 == 0)
        & (F.col("source").isin("src0", "src1", "src2", "src3"))
    ).select("doc_id").collect()][:3]
    assert delete_from_minhash_index(spark, p, victim_ids) == 3
    before = probe_minhash_index(spark, p, _probe_batch(docs), min_agree=8)
    before_rows = _rows(before)
    stats = compact_minhash_index(spark, p, target_files=4)
    # probe(compact(I)) ≡ probe(I)
    after = probe_minhash_index(spark, p, _probe_batch(docs), min_agree=8)
    assert _rows(after) == before_rows
    # file counts bounded, tombstones physically applied and cleared
    assert stats["files_after"]["sigs"] <= 4
    assert stats["files_after"]["bands"] <= 4
    assert stats["rows_removed"] == 3
    assert not os.path.isdir(f"{p}/deletes")
    sig_ids = {
        r["doc_id"]
        for r in spark.read.parquet(f"{p}/sigs").select("doc_id").collect()
    }
    assert not (sig_ids & set(victim_ids))


def test_compact_crash_rollback_before_commit(spark, sf_smoke, tmp_path):
    docs = _docs(spark, sf_smoke)
    p = str(tmp_path / "idx")
    save_minhash_index(docs, p)
    want = _rows(probe_minhash_index(spark, p, _probe_batch(docs), min_agree=8))
    # simulate a crash BEFORE the commit marker: partial staging exists
    os.makedirs(f"{p}/_compact/sigs")
    with open(f"{p}/_compact/sigs/part-junk.parquet", "w") as fh:
        fh.write("incomplete")
    # a reader serves the live datasets and leaves the staging to its
    # writer (it may still be running) ...
    out = probe_minhash_index(spark, p, _probe_batch(docs), min_agree=8)
    assert _rows(out) == want
    assert os.path.isdir(f"{p}/_compact")
    # ... and the next writer verb rolls it back
    assert delete_from_minhash_index(spark, p, [99_999_999]) == 0
    assert not os.path.isdir(f"{p}/_compact")  # rolled back
    out = probe_minhash_index(spark, p, _probe_batch(docs), min_agree=8)
    assert _rows(out) == want


def test_compact_crash_rollforward_after_commit(spark, sf_smoke, tmp_path):
    import shutil

    docs = _docs(spark, sf_smoke)
    p = str(tmp_path / "idx")
    save_minhash_index(docs, p)
    victim_ids = [0]
    delete_from_minhash_index(spark, p, victim_ids)
    # run the rewrite half of compact by hand, then "crash" mid-swap:
    # staging committed, live sigs already removed
    deletes = spark.read.parquet(f"{p}/deletes")
    for name in ("sigs", "bands"):
        live = spark.read.parquet(f"{p}/{name}")
        live.join(deletes, "doc_id", "left_anti").repartition(2).write.mode(
            "overwrite"
        ).parquet(f"{p}/_compact/{name}")
    with open(f"{p}/_compact/_COMMIT", "w") as fh:
        fh.write("committed\n")
    shutil.rmtree(f"{p}/sigs")
    # any verb repairs it: the next probe rolls forward and serves
    out = probe_minhash_index(spark, p, _probe_batch(docs), min_agree=8)
    assert not any(r["match_id"] == 0 for r in out.collect())
    assert os.path.isdir(f"{p}/sigs")
    assert not os.path.isdir(f"{p}/_compact")
    assert not os.path.isdir(f"{p}/deletes")


def test_save_over_existing_index_clears_stale_state(spark, sf_smoke, tmp_path):
    # review finding: a rebuild-in-place must not inherit the previous
    # index's tombstones (they would hide freshly-saved docs) nor a
    # committed _compact staging (it would roll forward over the fresh
    # datasets at the next load)
    docs = _docs(spark, sf_smoke)
    p = str(tmp_path / "idx")
    save_minhash_index(docs, p)
    delete_from_minhash_index(spark, p, [0])
    os.makedirs(f"{p}/_compact/sigs", exist_ok=True)
    with open(f"{p}/_compact/_COMMIT", "w") as fh:
        fh.write("committed\n")
    save_minhash_index(docs, p)  # rebuild in place
    assert not os.path.isdir(f"{p}/deletes")
    assert not os.path.isdir(f"{p}/_compact")
    out = probe_minhash_index(
        spark,
        p,
        docs.where(F.col("doc_id") == 0).select(
            (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
        ),
        min_agree=8,
    ).collect()
    assert len(out) == 1 and out[0]["match_id"] == 0


def test_append_recovers_committed_compaction_first(spark, sf_smoke, tmp_path):
    import shutil

    # review finding: an append between a committed-but-unswapped
    # compact and its roll-forward must not be erased — append now
    # repairs the compaction BEFORE its anti-joins
    docs = _docs(spark, sf_smoke)
    p = str(tmp_path / "idx")
    save_minhash_index(docs.where(F.col("source") == "src0"), p)
    # hand-build a committed staging (a compact that died mid-swap)
    for name in ("sigs", "bands"):
        spark.read.parquet(f"{p}/{name}").repartition(2).write.parquet(
            f"{p}/_compact/{name}"
        )
    with open(f"{p}/_compact/_COMMIT", "w") as fh:
        fh.write("committed\n")
    shutil.rmtree(f"{p}/sigs")
    batch = docs.where(F.col("source") == "src1")
    n = append_minhash_index(batch, p)
    assert n == batch.count()
    assert not os.path.isdir(f"{p}/_compact")
    # the appended batch must be probe-visible (not erased by recovery)
    probe = batch.limit(1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    out = probe_minhash_index(spark, p, probe, min_agree=8).collect()
    assert len(out) == 1


def test_maintenance_verbs_refuse_remote_paths(spark):
    with pytest.raises(NotImplementedError, match="plain local path"):
        delete_from_minhash_index(spark, "s3a://bucket/idx", [1])
    with pytest.raises(NotImplementedError, match="plain local path"):
        compact_minhash_index(spark, "hdfs://nn/idx")


# ---- verb 6: shard merge ---------------------------------------------------
from samba_spark.operators.dedup import merge_minhash_indexes


def test_merge_idempotent_and_matches_one_shot_build(spark, sf_smoke, tmp_path):
    docs = _docs(spark, sf_smoke)
    a, b, full = (str(tmp_path / n) for n in ("a", "b", "full"))
    save_minhash_index(docs.where(F.col("source") == "src0"), a)
    save_minhash_index(docs.where(F.col("source") != "src0"), b)
    n = merge_minhash_indexes(spark, a, b)
    assert n == docs.where(F.col("source") != "src0").count()
    # re-merge: idempotent 0, no duplicate rows
    assert merge_minhash_indexes(spark, a, b) == 0
    sigs = spark.read.parquet(f"{a}/sigs")
    assert sigs.count() == sigs.select("doc_id").distinct().count() == docs.count()
    save_minhash_index(docs, full)
    got = probe_minhash_index(spark, a, _probe_batch(docs), min_agree=8)
    want = probe_minhash_index(spark, full, _probe_batch(docs), min_agree=8)
    assert _rows(got) == _rows(want)


def test_merge_refuses_layout_mismatch(spark, sf_smoke, tmp_path):
    docs = _docs(spark, sf_smoke)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    save_minhash_index(docs.where(F.col("doc_id") < 50), a)
    save_minhash_index(docs.where(F.col("doc_id") >= 50), b, bands=32)
    with pytest.raises(ValueError, match="layout mismatch"):
        merge_minhash_indexes(spark, a, b)


def test_merge_respects_dest_tombstones_and_src_liveness(
    spark, sf_smoke, tmp_path
):
    docs = _docs(spark, sf_smoke)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    lo = docs.where(F.col("doc_id") < 100)
    hi = docs.where(F.col("doc_id") >= 100)
    save_minhash_index(lo, a)
    save_minhash_index(hi, b)
    # doc 0 deleted from dest; a src-side doc deleted from the shard
    delete_from_minhash_index(spark, a, [0])
    hi_ids = [r["doc_id"] for r in hi.select("doc_id").limit(1).collect()]
    delete_from_minhash_index(spark, b, hi_ids)
    merge_minhash_indexes(spark, a, b)
    probe = docs.where(
        F.col("doc_id").isin([0] + hi_ids)
    ).select((F.col("doc_id") + 1_000_000).alias("doc_id"), "text")
    got = probe_minhash_index(spark, a, probe, min_agree=8).collect()
    # neither the dest-deleted nor the shard-deleted doc may match
    assert not any(r["match_id"] in set([0] + hi_ids) for r in got)


def test_bucketed_bands_layout_full_lifecycle(spark, sf_smoke, tmp_path):
    """VERDICT r11 item 4 — the bucketed bands layout: save(band_buckets
    =N) must (a) probe identically to the flat layout through the whole
    verb sequence (append → delete → compact), (b) statically prune the
    probe's bands scan to the delta's bucket set, and (c) refuse a
    cross-layout merge (the migration-path guard)."""
    import re

    from samba_spark.operators.dedup import merge_minhash_indexes

    docs = _docs(spark, sf_smoke)
    flat, buck = str(tmp_path / "flat"), str(tmp_path / "buck")
    base = docs.where(F.col("source") != "src0")
    delta = docs.where(F.col("source") == "src0")
    save_minhash_index(base, flat)
    save_minhash_index(base, buck, band_buckets=8)
    assert any(
        e.startswith("bbucket=") for e in os.listdir(f"{buck}/bands")
    )
    for p in (flat, buck):
        append_minhash_index(delta, p)
        delete_from_minhash_index(
            spark, p, docs.where(F.col("doc_id") % 5 == 1).select("doc_id")
        )
    probe = _probe_batch(docs)
    got_flat = probe_minhash_index(spark, flat, probe, min_agree=8)
    got_buck = probe_minhash_index(spark, buck, probe, min_agree=8)
    assert _rows(got_flat) == _rows(got_buck)
    # (b) the bucketed probe's bands scan carries a static bbucket
    # partition filter — the 100 TB pruning contract
    plan = got_buck._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, f"no PartitionFilters in plan:\n{plan[:4000]}"
    assert "bbucket" in m.group(1), m.group(1)
    # compact preserves the layout and the probe results
    info = compact_minhash_index(spark, buck, target_files=2)
    assert info["rows_removed"] > 0
    assert any(
        e.startswith("bbucket=") for e in os.listdir(f"{buck}/bands")
    )
    after = probe_minhash_index(spark, buck, probe, min_agree=8)
    assert _rows(after) == _rows(got_buck)
    # append keeps working on the compacted bucketed store
    re_add = docs.where(F.col("doc_id") % 5 == 1).select(
        (F.col("doc_id") + 7_000_000).alias("doc_id"), "text"
    )
    assert append_minhash_index(re_add, buck) > 0
    # (c) cross-layout merge refused loudly
    with pytest.raises(ValueError, match="layout mismatch"):
        merge_minhash_indexes(spark, flat, buck)


def test_bucketed_and_flat_merge_same_layout_ok(spark, sf_smoke, tmp_path):
    """Same-layout merges (both bucketed, same N) behave exactly like
    flat merges; a pre-bucketing 4-column meta merges with a new
    flat-layout meta (band_buckets defaults to 0 on read)."""
    from samba_spark.operators.dedup import merge_minhash_indexes

    docs = _docs(spark, sf_smoke)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    save_minhash_index(docs.where(F.col("doc_id") < 100), a, band_buckets=4)
    save_minhash_index(docs.where(F.col("doc_id") >= 100), b, band_buckets=4)
    n = merge_minhash_indexes(spark, a, b)
    assert n > 0
    one = str(tmp_path / "one")
    save_minhash_index(docs, one, band_buckets=4)
    probe = _probe_batch(docs)
    assert _rows(probe_minhash_index(spark, a, probe, min_agree=8)) == _rows(
        probe_minhash_index(spark, one, probe, min_agree=8)
    )


def test_append_pending_marker_crash_protocol(spark, sf_smoke, tmp_path):
    """r12 append fast path: the band anti-join is skipped while no
    append ever died between its bands and sigs writes. Simulate that
    exact crash window, then verify (a) a retry does not double-append
    band rows, (b) the sticky marker keeps later appends on the repair
    path, (c) compact reconciles stranded bands-without-sigs rows and
    clears the marker."""
    from samba_spark.operators.dedup import (
        band_keys_from_signatures,
        minhash_signatures,
    )

    docs = _docs(spark, sf_smoke)
    p = str(tmp_path / "idx")
    save_minhash_index(docs.where(F.col("doc_id") < 100), p)
    marker = os.path.join(p, "_APPEND_PENDING")
    # clean store: a normal append leaves no marker behind
    batch1 = docs.where(
        (F.col("doc_id") >= 100) & (F.col("doc_id") < 120)
    )
    assert append_minhash_index(batch1, p) > 0
    assert not os.path.exists(marker)
    # simulate the crash window: bands written, sigs NOT, marker left
    victim = docs.where(
        (F.col("doc_id") >= 120) & (F.col("doc_id") < 130)
    )
    vsig = minhash_signatures(victim)
    band_keys_from_signatures(vsig).write.mode("append").parquet(
        f"{p}/bands"
    )
    with open(marker, "w") as fh:
        fh.write("append in flight\n")
    n_band_rows = spark.read.parquet(f"{p}/bands").count()
    # (a) the retry repairs: sigs land, band rows are NOT duplicated
    assert append_minhash_index(victim, p) == victim.count()
    assert spark.read.parquet(f"{p}/bands").count() == n_band_rows
    # (b) marker is sticky until a compact reconciles
    assert os.path.exists(marker)
    # strand one more doc (bands-without-sigs, never re-offered)
    stray = docs.where(F.col("doc_id") == 150)
    band_keys_from_signatures(minhash_signatures(stray)).write.mode(
        "append"
    ).parquet(f"{p}/bands")
    compact_minhash_index(spark, p, target_files=2)
    assert not os.path.exists(marker)
    # (c) reconciled: every band doc has a sig row again
    band_ids = {
        r[0]
        for r in spark.read.parquet(f"{p}/bands")
        .select("doc_id")
        .distinct()
        .collect()
    }
    sig_ids = {
        r[0]
        for r in spark.read.parquet(f"{p}/sigs").select("doc_id").collect()
    }
    assert band_ids == sig_ids
    assert 150 not in band_ids
    # and the fast path is back: a clean append leaves no marker
    batch2 = docs.where(
        (F.col("doc_id") >= 160) & (F.col("doc_id") < 170)
    )
    assert append_minhash_index(batch2, p) > 0
    assert not os.path.exists(marker)
