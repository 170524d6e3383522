"""Unified frozen-index persistence (operators/indexstore.py).

The x155 declared query oracle-checks the loaded-IVF probe end to end;
these tests pin the store contracts the oracle can't see: bit-exact
round-trips for every family, the kind gate (cross-family loads fail
loudly), version/meta integrity, and probe-equivalence — a probe from
a LOADED index is row-identical to the same probe with in-memory
state, for each of the five families.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from samba_spark.operators import indexstore as ix


def _embs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _queries_df(embs):
    return embs.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_embedding"),
    )


CENTS = [[((i * 7 + j * 3) % 11 - 5) / 4.0 for j in range(64)] for i in range(4)]
SCALES = [0.5 + (d % 7) / 8.0 for d in range(64)]
BOOKS = [
    [[((j * 31 + c * 5 + d) % 13 - 6) / 5.0 for d in range(8)] for c in range(4)]
    for j in range(8)
]
KCENTS = [[(i * 1000 + j * 37 - 500) for j in range(64)] for i in range(3)]


def test_ivf_roundtrip_exact(spark, tmp_path):
    p = str(tmp_path / "ivf")
    ix.save_ivf_index(spark, p, CENTS, {"note": "test"})
    loaded, params = ix.load_ivf_index(spark, p)
    assert loaded == CENTS  # bit-exact: parquet doubles are lossless
    assert params["n_cells"] == 4 and params["dim"] == 64
    assert params["note"] == "test"


def test_sq8_roundtrip_exact(spark, tmp_path):
    p = str(tmp_path / "sq8")
    ix.save_sq8_index(spark, p, SCALES)
    loaded, params = ix.load_sq8_index(spark, p)
    assert loaded == SCALES
    assert params["dim"] == 64


def test_pq_roundtrip_exact(spark, tmp_path):
    p = str(tmp_path / "pq")
    ix.save_pq_index(spark, p, BOOKS)
    loaded, params = ix.load_pq_index(spark, p)
    assert loaded == BOOKS
    assert (params["m"], params["n_centroids"], params["dsub"]) == (8, 4, 8)


def test_ivf_pq_roundtrip_exact(spark, tmp_path):
    p = str(tmp_path / "ivfpq")
    ix.save_ivf_pq_index(spark, p, CENTS, BOOKS)
    cents, books, params = ix.load_ivf_pq_index(spark, p)
    assert cents == CENTS and books == BOOKS
    assert params["n_cells"] == 4 and params["m"] == 8


def test_kmeans_roundtrip_exact(spark, tmp_path):
    p = str(tmp_path / "km")
    ix.save_kmeans_index(spark, p, KCENTS, quant=1_000_000)
    cents, quant, params = ix.load_kmeans_index(spark, p)
    assert cents == KCENTS
    assert quant == 1_000_000 and params["k"] == 3


def test_kind_gate_cross_family_load_fails(spark, tmp_path):
    p = str(tmp_path / "ivf2")
    ix.save_ivf_index(spark, p, CENTS)
    with pytest.raises(ValueError, match="holds a 'ivf' index"):
        ix.load_sq8_index(spark, p)
    with pytest.raises(ValueError, match="holds a 'ivf' index"):
        ix.load_pq_index(spark, p)
    with pytest.raises(ValueError, match="holds a 'ivf' index"):
        ix.load_kmeans_index(spark, p)


def test_missing_meta_fails_loudly(spark, tmp_path):
    with pytest.raises(ValueError, match="meta is missing"):
        ix.load_ivf_index(spark, str(tmp_path / "nope"))


def test_validation_rejects_bad_state(spark, tmp_path):
    with pytest.raises(ValueError, match="empty"):
        ix.save_ivf_index(spark, str(tmp_path / "a"), [])
    with pytest.raises(ValueError, match="dim"):
        ix.save_ivf_index(spark, str(tmp_path / "b"), [[1.0, 2.0], [3.0]])
    with pytest.raises(ValueError, match="finite positive"):
        ix.save_sq8_index(spark, str(tmp_path / "c"), [1.0, -2.0])
    with pytest.raises(ValueError, match="non-finite"):
        ix.save_ivf_index(spark, str(tmp_path / "d"), [[float("nan")] * 4])
    with pytest.raises(ValueError, match="quant"):
        ix.save_kmeans_index(spark, str(tmp_path / "e"), KCENTS, quant=0)
    # ragged codebook set must fail AT SAVE (review finding: it used to
    # save fine and fail on every subsequent load — corrupt-on-arrival)
    ragged = [BOOKS[0], BOOKS[1][:3]] + BOOKS[2:]
    with pytest.raises(ValueError, match="all subspaces must agree"):
        ix.save_ivf_pq_index(spark, str(tmp_path / "f"), CENTS, ragged)


def test_loaded_ivf_probe_equals_inmemory(spark, sf_smoke, tmp_path):
    from samba_spark.operators.simsearch import ivf_topk

    embs = _embs(spark, sf_smoke)
    p = str(tmp_path / "ivf3")
    ix.save_ivf_index(spark, p, CENTS)
    loaded, _ = ix.load_ivf_index(spark, p)
    mem = ivf_topk(
        embs, _queries_df(embs), k=5, n_probe=2, centroids=CENTS
    ).collect()
    disk = ivf_topk(
        embs, _queries_df(embs), k=5, n_probe=2, centroids=loaded
    ).collect()
    assert mem == disk


def test_loaded_sq8_probe_equals_inmemory(spark, sf_smoke, tmp_path):
    from samba_spark.operators.simsearch import int8_quantize_topk

    embs = _embs(spark, sf_smoke)
    p = str(tmp_path / "sq82")
    ix.save_sq8_index(spark, p, SCALES)
    loaded, _ = ix.load_sq8_index(spark, p)
    mem = int8_quantize_topk(embs, _queries_df(embs), k=5, scales=SCALES)
    disk = int8_quantize_topk(embs, _queries_df(embs), k=5, scales=loaded)
    assert mem.collect() == disk.collect()


def test_loaded_pq_probe_equals_inmemory(spark, sf_smoke, tmp_path):
    from samba_spark.operators.simsearch import pq_topk

    embs = _embs(spark, sf_smoke)
    p = str(tmp_path / "pq2")
    ix.save_pq_index(spark, p, BOOKS)
    loaded, _ = ix.load_pq_index(spark, p)
    mem = pq_topk(embs, _queries_df(embs), k=5, m=8, codebooks=BOOKS)
    disk = pq_topk(embs, _queries_df(embs), k=5, m=8, codebooks=loaded)
    assert mem.collect() == disk.collect()


def test_loaded_ivf_pq_probe_equals_inmemory(spark, sf_smoke, tmp_path):
    from samba_spark.operators.simsearch import ivf_pq_topk

    embs = _embs(spark, sf_smoke)
    p = str(tmp_path / "ivfpq2")
    ix.save_ivf_pq_index(spark, p, CENTS, BOOKS)
    cents, books, _ = ix.load_ivf_pq_index(spark, p)
    mem = ivf_pq_topk(
        embs, _queries_df(embs), k=5, m=8,
        cell_centroids=CENTS, codebooks=BOOKS,
    )
    disk = ivf_pq_topk(
        embs, _queries_df(embs), k=5, m=8,
        cell_centroids=cents, codebooks=books,
    )
    assert mem.collect() == disk.collect()


def test_loaded_kmeans_assign_equals_training_final(spark, sf_smoke, tmp_path):
    """Full offline→persist→serve loop: train, save, load, assign —
    identical to the training run's final assignment."""
    from samba_spark.operators.clustering import (
        kmeans_assign,
        kmeans_integer,
        kmeans_train,
    )

    embs = _embs(spark, sf_smoke)
    cents = kmeans_train(embs, k=4, iters=2)
    p = str(tmp_path / "km2")
    ix.save_kmeans_index(spark, p, cents, quant=1_000_000)
    loaded, quant, _ = ix.load_kmeans_index(spark, p)
    served = kmeans_assign(embs, loaded, quant=quant).collect()
    trained = (
        kmeans_integer(embs, k=4, iters=2)
        .select("vec_id", "cluster", "dist2")
        .collect()
    )
    assert served == trained


def test_minhash_append_matches_oneshot_build(spark, sf_smoke, tmp_path):
    """save(A) + append(B) must be probe-indistinguishable from
    save(A ∪ B) — the x158 contract, pinned here at operator level."""
    from samba_spark.operators.dedup import (
        append_minhash_index,
        probe_minhash_index,
        save_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    a = docs.where(F.col("source") != "src0")
    b = docs.where(F.col("source") == "src0")
    p_inc = str(tmp_path / "inc")
    p_one = str(tmp_path / "one")
    save_minhash_index(a, p_inc)
    n = append_minhash_index(b, p_inc)
    assert n == b.count()
    save_minhash_index(docs, p_one)
    probe = docs.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    r_inc = sorted(
        probe_minhash_index(spark, p_inc, probe, min_agree=8).collect()
    )
    r_one = sorted(
        probe_minhash_index(spark, p_one, probe, min_agree=8).collect()
    )
    assert r_inc == r_one
    assert len(r_inc) > 0  # exact copies must match their originals


def test_minhash_append_idempotent(spark, sf_smoke, tmp_path):
    """Re-ingesting an overlapping batch appends only the new ids."""
    from samba_spark.operators.dedup import (
        append_minhash_index,
        save_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    p = str(tmp_path / "idem")
    save_minhash_index(docs.where(F.col("doc_id") < 50), p)
    again = append_minhash_index(docs.where(F.col("doc_id") < 50), p)
    assert again == 0
    n = append_minhash_index(docs.where(F.col("doc_id") < 60), p)
    assert n == docs.where(
        (F.col("doc_id") >= 50) & (F.col("doc_id") < 60)
    ).count()
    sigs = spark.read.parquet(f"{p}/sigs")
    assert sigs.count() == sigs.select("doc_id").distinct().count()


def test_admission_stream_incremental(spark, sf_smoke, tmp_path):
    """The x159 contract at operator level: a doc duplicated across two
    micro-batches is admitted in the earlier batch and rejected in the
    later one — possible only if admissions were APPENDED to the index
    between triggers."""
    import os

    from samba_spark.operators.dedup import save_minhash_index
    from samba_spark.streaming.ops import run_admission_stream

    docs = spark.read.parquet(f"{sf_smoke}/documents.parquet")
    index_path = str(tmp_path / "idx")
    save_minhash_index(docs.where(F.col("source") == "src0"), index_path)
    batches_dir = str(tmp_path / "batches")
    os.makedirs(batches_dir)
    b0 = docs.where(F.col("source") == "src1").select("doc_id", "text")
    b1 = b0.select((F.col("doc_id") + 900000).alias("doc_id"), "text")
    for k, bdf in enumerate([b0, b1]):
        tmp = str(tmp_path / f"stage_{k}")
        bdf.coalesce(1).write.parquet(tmp)
        part = next(
            f for f in sorted(os.listdir(tmp)) if f.endswith(".parquet")
        )
        dst = os.path.join(batches_dir, f"batch_{k}.parquet")
        os.replace(os.path.join(tmp, part), dst)
        os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))
    log = run_admission_stream(
        spark, batches_dir, index_path, str(tmp_path / "logs")
    )
    rows = {r["doc_id"]: r for r in log.collect()}
    n_src1 = b0.count()
    assert len(rows) == 2 * n_src1
    for r in log.where(F.col("doc_id") >= 900000).collect():
        # every batch-1 doc copies a batch-0 doc: must reject against it
        assert r["admitted"] is False
        assert r["match_id"] == r["doc_id"] - 900000
        assert r["n_agree"] == 64


def test_admission_stream_empty_batches_dir(spark, tmp_path):
    # ADVICE r9: zero matching files used to raise a confusing
    # TypeError from spark.read.parquet(*[]) — an empty stream is an
    # empty admission log with the full log schema.
    from samba_spark.streaming.ops import run_admission_stream

    empty = tmp_path / "no_batches"
    empty.mkdir()
    log = run_admission_stream(
        spark,
        str(empty),
        str(tmp_path / "never_built_index"),
        str(tmp_path / "work"),
    )
    assert log.count() == 0
    assert [f.name for f in log.schema.fields] == [
        "doc_id", "admitted", "match_id", "n_agree", "est_jaccard"
    ]


def test_postings_probe_equals_inquery(spark, sf_smoke, tmp_path):
    from samba_spark.operators.simsearch import ivf_pq_topk

    embs = _embs(spark, sf_smoke)
    p = str(tmp_path / "post_store")
    ix.save_ivf_pq_index(spark, p, CENTS, BOOKS)
    n = ix.build_ivf_pq_postings(spark, p, embs)
    assert n == embs.count()
    served = ix.probe_ivf_pq_store(
        spark, p, _queries_df(embs), k=5, n_probe=2
    )
    inquery = ivf_pq_topk(
        embs, _queries_df(embs), k=5, m=8,
        cell_centroids=CENTS, codebooks=BOOKS, n_probe=2,
    )
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(served.collect(), key=key) == sorted(
        inquery.collect(), key=key
    )
    # idempotent re-build: nothing new posted
    assert ix.build_ivf_pq_postings(spark, p, embs) == 0


def test_shard_merge_equals_build_once(spark, sf_smoke, tmp_path):
    embs = _embs(spark, sf_smoke)
    dest, src, once = (
        str(tmp_path / d) for d in ("dest", "src", "once")
    )
    for p in (dest, src, once):
        ix.save_ivf_pq_index(spark, p, CENTS, BOOKS)
    ix.build_ivf_pq_postings(
        spark, dest, embs.where(F.col("vec_id") % 2 == 0)
    )
    ix.build_ivf_pq_postings(
        spark, src, embs.where(F.col("vec_id") % 2 == 1)
    )
    n = ix.merge_vector_index_shards(spark, dest, src)
    assert n == embs.where(F.col("vec_id") % 2 == 1).count()
    ix.build_ivf_pq_postings(spark, once, embs)
    key = lambda r: (r["query_id"], r["rank"])
    got = ix.probe_ivf_pq_store(spark, dest, _queries_df(embs), k=5)
    want = ix.probe_ivf_pq_store(spark, once, _queries_df(embs), k=5)
    assert sorted(got.collect(), key=key) == sorted(
        want.collect(), key=key
    )
    # re-merge is idempotent
    assert ix.merge_vector_index_shards(spark, dest, src) == 0


def test_shard_merge_quantizer_mismatch_refused(spark, sf_smoke, tmp_path):
    embs = _embs(spark, sf_smoke).limit(20)
    a, b = str(tmp_path / "qa"), str(tmp_path / "qb")
    ix.save_ivf_pq_index(spark, a, CENTS, BOOKS)
    other_cents = [[v + 0.25 for v in c] for c in CENTS]
    ix.save_ivf_pq_index(spark, b, other_cents, BOOKS)
    ix.build_ivf_pq_postings(spark, b, embs)
    with pytest.raises(ValueError, match="quantizer mismatch"):
        ix.merge_vector_index_shards(spark, a, b)


def test_probe_without_postings_refused(spark, tmp_path):
    p = str(tmp_path / "no_post")
    ix.save_ivf_pq_index(spark, p, CENTS, BOOKS)
    import pandas as pd  # noqa: F401  (queries df built from store state)

    with pytest.raises(ValueError, match="no postings"):
        ix.probe_ivf_pq_store(
            spark, p, _queries_df(_embs(spark, "/root/testdata/sf0.001"))
        )


def test_postings_lease_contention(spark, sf_smoke, tmp_path):
    import json as _json
    import os
    import time

    from samba_spark.operators.store import LeaseHeldError

    embs = _embs(spark, sf_smoke).limit(10)
    p = str(tmp_path / "leased_vec")
    ix.save_ivf_pq_index(spark, p, CENTS, BOOKS)
    with open(os.path.join(p, "_LEASE"), "w") as fh:
        _json.dump(
            {"verb": "merge", "pid": 7, "acquired": time.time()}, fh
        )
    with pytest.raises(LeaseHeldError, match="verb=merge"):
        ix.build_ivf_pq_postings(spark, p, embs)
    os.unlink(os.path.join(p, "_LEASE"))
    assert ix.build_ivf_pq_postings(spark, p, embs) == 10


def test_vector_delete_probe_and_compact(spark, sf_smoke, tmp_path):
    embs = _embs(spark, sf_smoke)
    live_pred = F.col("vec_id") % 5 != 2
    full, livep = str(tmp_path / "full"), str(tmp_path / "livep")
    for p in (full, livep):
        ix.save_ivf_pq_index(spark, p, CENTS, BOOKS)
    ix.build_ivf_pq_postings(spark, full, embs)
    ix.build_ivf_pq_postings(spark, livep, embs.where(live_pred))
    doomed = embs.where(~live_pred).select("vec_id")
    n_doomed = doomed.count()
    assert ix.delete_from_vector_store(spark, full, doomed) == n_doomed
    # idempotent re-delete
    assert ix.delete_from_vector_store(spark, full, doomed) == 0
    key = lambda r: (r["query_id"], r["rank"])
    want = sorted(
        ix.probe_ivf_pq_store(spark, livep, _queries_df(embs), k=5).collect(),
        key=key,
    )
    # tombstone-filtered probe == build-on-live, BEFORE compact
    got = sorted(
        ix.probe_ivf_pq_store(spark, full, _queries_df(embs), k=5).collect(),
        key=key,
    )
    assert got == want
    info = ix.compact_vector_store(spark, full, target_files=2)
    assert info["rows_removed"] == n_doomed
    assert info["files_after"] == 2
    import os

    assert not os.path.isdir(os.path.join(full, "deletes"))
    # ... and AFTER compact
    got2 = sorted(
        ix.probe_ivf_pq_store(spark, full, _queries_df(embs), k=5).collect(),
        key=key,
    )
    assert got2 == want
    # deleted ids can re-ingest after the compact removed their rows
    assert ix.build_ivf_pq_postings(
        spark, full, embs.where(~live_pred)
    ) == n_doomed


def test_vector_compact_rollforward_recovery(spark, sf_smoke, tmp_path, monkeypatch):
    import os

    from samba_spark.operators import store

    embs = _embs(spark, sf_smoke)
    p = str(tmp_path / "crash")
    ix.save_ivf_pq_index(spark, p, CENTS, BOOKS)
    ix.build_ivf_pq_postings(spark, p, embs)
    ix.delete_from_vector_store(
        spark, p, embs.where(F.col("vec_id") % 3 == 0).select("vec_id")
    )
    monkeypatch.setattr(store, "finish_swap", lambda path, spec: None)
    ix.compact_vector_store(spark, p, target_files=1)
    monkeypatch.undo()
    assert os.path.exists(os.path.join(p, "_compact", "_COMMIT"))
    # next verb entry rolls forward; probe serves the compacted store
    key = lambda r: (r["query_id"], r["rank"])
    got = sorted(
        ix.probe_ivf_pq_store(spark, p, _queries_df(embs), k=5).collect(),
        key=key,
    )
    assert not os.path.isdir(os.path.join(p, "_compact"))
    clean = str(tmp_path / "clean")
    ix.save_ivf_pq_index(spark, clean, CENTS, BOOKS)
    ix.build_ivf_pq_postings(
        spark, clean, embs.where(F.col("vec_id") % 3 != 0)
    )
    want = sorted(
        ix.probe_ivf_pq_store(spark, clean, _queries_df(embs), k=5).collect(),
        key=key,
    )
    assert got == want


def test_merge_does_not_resurrect_src_tombstones(spark, sf_smoke, tmp_path):
    embs = _embs(spark, sf_smoke)
    dest, src = str(tmp_path / "md"), str(tmp_path / "ms")
    for p in (dest, src):
        ix.save_ivf_pq_index(spark, p, CENTS, BOOKS)
    ix.build_ivf_pq_postings(
        spark, dest, embs.where(F.col("vec_id") % 2 == 0)
    )
    ix.build_ivf_pq_postings(
        spark, src, embs.where(F.col("vec_id") % 2 == 1)
    )
    dead = embs.where(
        (F.col("vec_id") % 2 == 1) & (F.col("vec_id") % 3 == 0)
    ).select("vec_id")
    ix.delete_from_vector_store(spark, src, dead)
    n = ix.merge_vector_index_shards(spark, dest, src)
    odd = embs.where(F.col("vec_id") % 2 == 1).count()
    assert n == odd - dead.count()


def test_admission_stream_survives_source_log_compaction(spark, tmp_path):
    """The deferred admission log resolves each batch's files from the
    stream's file-source metadata log, which Spark COMPACTS every
    compactInterval-th batch (entries move into '<id>.compact' carrying
    all batches so far). Pin the interval to 2 so a 4-batch stream
    crosses two compaction boundaries cheaply; every batch's log rows
    must still come back, one row per streamed doc."""
    import os

    from pyspark.sql import functions as F

    from samba_spark.operators.dedup import save_minhash_index
    from samba_spark.streaming.ops import run_admission_stream

    n_batches = 4
    texts = [
        (i, " ".join(f"tok{i}w{j}" for j in range(8)))
        for i in range(n_batches)
    ]
    base = spark.createDataFrame(texts, ["doc_id", "text"])
    index_path = str(tmp_path / "idx")
    save_minhash_index(base.where(F.col("doc_id") < 1), index_path)
    batches_dir = str(tmp_path / "batches")
    os.makedirs(batches_dir)
    for k in range(n_batches):
        stage = str(tmp_path / f"s{k}")
        base.where(F.col("doc_id") == k).coalesce(1).write.parquet(stage)
        part = next(
            f for f in sorted(os.listdir(stage)) if f.endswith(".parquet")
        )
        dst = os.path.join(batches_dir, f"batch_{k}.parquet")
        os.replace(os.path.join(stage, part), dst)
        os.utime(dst, (1_000_000_000 + k, 1_000_000_000 + k))
    key = "spark.sql.streaming.fileSource.log.compactInterval"
    old_interval = spark.conf.get(key, None)
    spark.conf.set(key, "2")
    try:
        log = run_admission_stream(
            spark, batches_dir, index_path, str(tmp_path / "work")
        )
        rows = {r["doc_id"]: r["admitted"] for r in log.collect()}
    finally:
        if old_interval is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old_interval)
    # the compacted source log really was exercised
    src_dir = os.path.join(str(tmp_path / "work"), "_checkpoint", "sources", "0")
    assert any(e.endswith(".compact") for e in os.listdir(src_dir))
    assert len(rows) == n_batches
    # doc 0 was pre-indexed: rejected; all others admitted
    assert rows[0] is False
    assert all(rows[i] for i in range(1, n_batches))
