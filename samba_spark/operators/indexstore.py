"""Unified parquet persistence for the pinned-quantizer serving stack.

Every ANN/clustering operator in the engine follows the same
offline-train / online-serve split: training produces a small state
object (IVF cell centroids, SQ8 per-dimension scales, PQ codebooks,
integer k-means centroids) and serving pins that state as literals so
the query path never re-trains (``ivf_topk(centroids=)``,
``int8_quantize_topk(scales=)``, ``pq_topk(codebooks=)``,
``ivf_pq_topk(cell_centroids=, codebooks=)``,
``kmeans_assign(centroids=)``). Round 8 gave exactly ONE family a disk
round-trip (dedup.save_minhash_index / load / probe); this module
completes the story for the vector families (VERDICT r8 item 5): one
layout, one loader, versioned metadata, so an index trained offline in
one session can be loaded and probed in another without any hand-
carried literals.

Layout under ``path`` (all parquet; everything is METADATA-scale — the
largest state, a PQ codebook, is m*K rows of dim/m doubles):

* ``meta/``   — exactly one row: (kind, version, params JSON string).
  The kind gate makes cross-family loads fail loudly (probing an SQ8
  store as IVF centroids would otherwise silently mis-assign every
  cell — the same structurally-undetectable-mismatch argument
  save_minhash_index's meta table makes at dedup.py:1281).
* ``centroids/`` — (cell BIGINT, vals ARRAY<DOUBLE>) for ivf /
  ivf_pq cell centroids; (cell BIGINT, ivals ARRAY<BIGINT>) for the
  kmeans integer grid.
* ``scales/``    — (dimn BIGINT, scale DOUBLE) for sq8.
* ``codebooks/`` — (subspace BIGINT, code BIGINT, vals ARRAY<DOUBLE>)
  for pq / ivf_pq.

Exactness: parquet stores IEEE doubles and 64-bit ints losslessly, so
``load_*(save_*(state)) == state`` bit-for-bit — a round-tripped index
produces hash-identical probe results to the in-memory one (asserted
by the x155 declared query, whose oracle replays the same centroid
literals the store round-trips).

Reference parity note: SAMbA persists artifacts to its Gitblit-backed
store (SURVEY §2.1 A9); it has no ANN surface. This extends the
engine's artifact story the direction its LLM-pipeline mandate points.
"""

from __future__ import annotations

import json
import math

from samba_spark.operators.guards import tiny_df
from samba_spark.operators.store import (
    Store,
    count_data_files,
    counting,
    is_local,
    replace_dirs,
    single_writer,
    staging_dir,
)

_VERSION = 1

KINDS = ("ivf", "sq8", "pq", "ivf_pq", "kmeans")


def _write_meta(spark, path: str, kind: str, params: dict) -> None:
    tiny_df(
        spark,
        [(kind, _VERSION, json.dumps(params, sort_keys=True))],
        "kind string, version int, params string",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def _read_meta(spark, path: str) -> dict:
    try:
        rows = spark.read.parquet(f"{path}/meta").collect()
    except Exception as exc:
        raise ValueError(
            f"load_vector_index: {path}/meta is missing or unreadable — a "
            "frozen index must carry its kind and build parameters (the "
            "save_* writers put them there); loading raw state tables "
            "with guessed layout silently corrupts every probe"
        ) from exc
    if len(rows) != 1:
        raise ValueError(
            f"load_vector_index: expected exactly 1 meta row at "
            f"{path}/meta, found {len(rows)}"
        )
    meta = rows[0].asDict()
    if meta["version"] != _VERSION:
        raise ValueError(
            f"load_vector_index: {path} has layout version "
            f"{meta['version']}, this loader reads {_VERSION}"
        )
    if meta["kind"] not in KINDS:
        raise ValueError(
            f"load_vector_index: unknown index kind {meta['kind']!r} "
            f"at {path} (expected one of {KINDS})"
        )
    meta["params"] = json.loads(meta["params"])
    return meta


def _check_matrix(name: str, op: str, mat) -> list[list[float]]:
    out = [[float(v) for v in row] for row in mat]
    if not out:
        raise ValueError(f"{op}: {name} is empty")
    dim = len(out[0])
    for i, row in enumerate(out):
        if len(row) != dim:
            raise ValueError(
                f"{op}: {name}[{i}] has dim {len(row)}, row 0 has {dim}"
            )
        if any(not math.isfinite(v) for v in row):
            raise ValueError(f"{op}: {name}[{i}] has a non-finite value")
    return out


def _check_codebooks(op: str, codebooks):
    """Validated codebooks + (K, dsub): per-book matrix checks plus the
    cross-subspace agreement gate — a ragged set would SAVE fine but
    every load would fail the m x K cell check, corrupt-on-arrival with
    no error at save time. Shared by save_pq_index and
    save_ivf_pq_index (review finding: the gate had forked)."""
    books = [
        _check_matrix(f"codebooks[{j}]", op, b)
        for j, b in enumerate(codebooks)
    ]
    if not books:
        raise ValueError(f"{op}: codebooks is empty")
    kc, dsub = len(books[0]), len(books[0][0])
    for j, b in enumerate(books):
        if len(b) != kc or len(b[0]) != dsub:
            raise ValueError(
                f"{op}: codebooks[{j}] is {len(b)}×{len(b[0])}, "
                f"codebooks[0] is {kc}×{dsub} — all subspaces must agree"
            )
    return books, kc, dsub


def _write_centroids(spark, path: str, centroids: list[list[float]]) -> None:
    tiny_df(
        spark,
        [(i, c) for i, c in enumerate(centroids)],
        "cell bigint, vals array<double>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def _read_centroids(spark, path: str, n: int) -> list[list[float]]:
    rows = spark.read.parquet(f"{path}/centroids").collect()
    got = {int(r["cell"]): list(r["vals"]) for r in rows}
    if sorted(got) != list(range(n)):
        raise ValueError(
            f"load_vector_index: {path}/centroids has cells "
            f"{sorted(got)}, meta promises 0..{n - 1}"
        )
    return [got[i] for i in range(n)]


def _write_codebooks(
    spark, path: str, codebooks: list[list[list[float]]]
) -> None:
    tiny_df(
        spark,
        [
            (j, c, vec)
            for j, book in enumerate(codebooks)
            for c, vec in enumerate(book)
        ],
        "subspace bigint, code bigint, vals array<double>",
    ).write.mode("overwrite").parquet(f"{path}/codebooks")


def _read_codebooks(
    spark, path: str, m: int, kc: int
) -> list[list[list[float]]]:
    rows = spark.read.parquet(f"{path}/codebooks").collect()
    got = {(int(r["subspace"]), int(r["code"])): list(r["vals"]) for r in rows}
    want = {(j, c) for j in range(m) for c in range(kc)}
    if set(got) != want:
        raise ValueError(
            f"load_vector_index: {path}/codebooks has "
            f"{len(got)} (subspace, code) cells, meta promises "
            f"m={m} × K={kc}"
        )
    return [[got[(j, c)] for c in range(kc)] for j in range(m)]


# -- IVF -------------------------------------------------------------------
def save_ivf_index(spark, path: str, centroids, params: dict | None = None):
    """Persist pinned IVF coarse-quantizer centroids (the
    ``ivf_topk(centroids=)`` state). ``params`` is free-form build
    provenance (e.g. training SF, n_probe recommendation) recorded in
    meta verbatim."""
    cents = _check_matrix("centroids", "save_ivf_index", centroids)
    _write_centroids(spark, path, cents)
    _write_meta(
        spark,
        path,
        "ivf",
        {
            "n_cells": len(cents),
            "dim": len(cents[0]),
            **(params or {}),
        },
    )


def load_ivf_index(spark, path: str):
    """(centroids, params) ready for ``ivf_topk(centroids=...)``."""
    meta = _read_meta(spark, path)
    if meta["kind"] != "ivf":
        raise ValueError(
            f"load_ivf_index: {path} holds a {meta['kind']!r} index, not ivf"
        )
    return (
        _read_centroids(spark, path, meta["params"]["n_cells"]),
        meta["params"],
    )


# -- SQ8 -------------------------------------------------------------------
def save_sq8_index(spark, path: str, scales, params: dict | None = None):
    """Persist SQ8 per-dimension max-abs calibration scales (the
    ``int8_quantize_topk(scales=)`` state)."""
    svals = [float(s) for s in scales]
    if not svals:
        raise ValueError("save_sq8_index: scales is empty")
    if any(not math.isfinite(s) or s <= 0 for s in svals):
        raise ValueError(
            "save_sq8_index: every scale must be a finite positive float "
            "(they are per-dimension max-abs calibration constants)"
        )
    tiny_df(
        spark, list(enumerate(svals)), "dimn bigint, scale double"
    ).write.mode("overwrite").parquet(f"{path}/scales")
    _write_meta(spark, path, "sq8", {"dim": len(svals), **(params or {})})


def load_sq8_index(spark, path: str):
    """(scales, params) ready for ``int8_quantize_topk(scales=...)``."""
    meta = _read_meta(spark, path)
    if meta["kind"] != "sq8":
        raise ValueError(
            f"load_sq8_index: {path} holds a {meta['kind']!r} index, not sq8"
        )
    n = meta["params"]["dim"]
    rows = spark.read.parquet(f"{path}/scales").collect()
    got = {int(r["dimn"]): float(r["scale"]) for r in rows}
    if sorted(got) != list(range(n)):
        raise ValueError(
            f"load_sq8_index: {path}/scales has dims {sorted(got)}, "
            f"meta promises 0..{n - 1}"
        )
    return [got[i] for i in range(n)], meta["params"]


# -- PQ --------------------------------------------------------------------
def save_pq_index(spark, path: str, codebooks, params: dict | None = None):
    """Persist PQ codebooks (the ``pq_topk(codebooks=)`` state:
    ``codebooks[subspace][code] = centroid subvector``)."""
    books, kc, dsub = _check_codebooks("save_pq_index", codebooks)
    _write_codebooks(spark, path, books)
    _write_meta(
        spark,
        path,
        "pq",
        {"m": len(books), "n_centroids": kc, "dsub": dsub, **(params or {})},
    )


def load_pq_index(spark, path: str):
    """(codebooks, params) ready for ``pq_topk(codebooks=...)``."""
    meta = _read_meta(spark, path)
    if meta["kind"] != "pq":
        raise ValueError(
            f"load_pq_index: {path} holds a {meta['kind']!r} index, not pq"
        )
    p = meta["params"]
    return _read_codebooks(spark, path, p["m"], p["n_centroids"]), p


# -- IVF-PQ (composed: both states, one store) -----------------------------
def save_ivf_pq_index(
    spark, path: str, cell_centroids, codebooks, params: dict | None = None
):
    """Persist the composed IVF-PQ state (``ivf_pq_topk``'s
    ``cell_centroids=`` + ``codebooks=``) as ONE versioned store —
    shipping the two halves separately invites serving with a coarse
    quantizer trained against different codebooks."""
    cents = _check_matrix("cell_centroids", "save_ivf_pq_index", cell_centroids)
    books, kc, dsub = _check_codebooks("save_ivf_pq_index", codebooks)
    _write_centroids(spark, path, cents)
    _write_codebooks(spark, path, books)
    _write_meta(
        spark,
        path,
        "ivf_pq",
        {
            "n_cells": len(cents),
            "dim": len(cents[0]),
            "m": len(books),
            "n_centroids": kc,
            "dsub": dsub,
            **(params or {}),
        },
    )


def load_ivf_pq_index(spark, path: str):
    """(cell_centroids, codebooks, params) for ``ivf_pq_topk``."""
    meta = _read_meta(spark, path)
    if meta["kind"] != "ivf_pq":
        raise ValueError(
            f"load_ivf_pq_index: {path} holds a {meta['kind']!r} index, "
            "not ivf_pq"
        )
    p = meta["params"]
    return (
        _read_centroids(spark, path, p["n_cells"]),
        _read_codebooks(spark, path, p["m"], p["n_centroids"]),
        p,
    )


# -- integer k-means -------------------------------------------------------
def save_kmeans_index(
    spark, path: str, centroids, quant: int, params: dict | None = None
):
    """Persist integer-grid Lloyd centroids (``kmeans_train`` output).
    ``quant`` is REQUIRED meta: assigning with a different grid than
    training silently mis-clusters everything, so the loader hands it
    back alongside the centroids."""
    if quant < 1:
        raise ValueError(f"save_kmeans_index: quant={quant} must be >= 1")
    cents = [[int(v) for v in row] for row in centroids]
    if not cents:
        raise ValueError("save_kmeans_index: centroids is empty")
    dim = len(cents[0])
    for i, row in enumerate(cents):
        if len(row) != dim:
            raise ValueError(
                f"save_kmeans_index: centroids[{i}] has dim {len(row)}, "
                f"row 0 has {dim}"
            )
    tiny_df(
        spark,
        [(i, c) for i, c in enumerate(cents)],
        "cell bigint, ivals array<bigint>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    _write_meta(
        spark,
        path,
        "kmeans",
        {"k": len(cents), "dim": dim, "quant": int(quant), **(params or {})},
    )


def load_kmeans_index(spark, path: str):
    """(centroids, quant, params) for ``kmeans_assign(centroids=...,
    quant=...)``."""
    meta = _read_meta(spark, path)
    if meta["kind"] != "kmeans":
        raise ValueError(
            f"load_kmeans_index: {path} holds a {meta['kind']!r} index, "
            "not kmeans"
        )
    p = meta["params"]
    rows = spark.read.parquet(f"{path}/centroids").collect()
    got = {int(r["cell"]): [int(v) for v in r["ivals"]] for r in rows}
    if sorted(got) != list(range(p["k"])):
        raise ValueError(
            f"load_kmeans_index: {path}/centroids has cells {sorted(got)}, "
            f"meta promises 0..{p['k'] - 1}"
        )
    return [got[i] for i in range(p["k"])], p["quant"], p


# -- IVF-PQ postings: shard-parallel build + merge + serve -----------------
# The postings store's declaration to the store protocol (store.py):
# compaction stages the whole ``postings`` dataset, and tombstones are
# keyed on vec_id.
VECTOR_STORE = Store(replace_dirs("postings"), key="vec_id")


def _read_postings(spark, path: str):
    """The persisted postings dataset under ``path``/postings, or None
    when none has been built. Local paths use one free os.path probe
    (the common case, no Spark job); URI-scheme paths fall back to a
    narrowly-caught read — ONLY the path-missing/schema-unable
    AnalysisException means "no postings"; a transient remote failure
    (credentials, network) must propagate, or build/merge would skip
    their idempotence anti-joins and silently double-append the whole
    corpus (round-11 review pass)."""
    import os

    if is_local(path):
        if not os.path.isdir(f"{path}/postings"):
            return None
        return spark.read.parquet(f"{path}/postings")
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(f"{path}/postings")
    except AnalysisException:
        return None


@single_writer(VECTOR_STORE, "build_ivf_pq_postings", "path", remote_ok=True)
def build_ivf_pq_postings(spark, path: str, embeddings) -> int:
    """Shard-build verb for the IVF-PQ store (VERDICT r10 item 6 — the
    x164 distributed-build pattern, ANN instance): encode a shard's
    embeddings with the store's PINNED quantizers (cell argmin + PQ
    codes + residual ssq, read from the frozen state — a shard encoded
    against different quantizers would silently mis-rank everything)
    and parquet-append the posting rows (vec_id, cell, codes, rssq).
    At 100 TB each shard builder runs this embarrassingly-parallel job
    over its own documents; :func:`merge_vector_index_shards` then
    absorbs the PERSISTED rows without re-encoding a single vector.

    Idempotent: vec_ids already posted are skipped (left-anti against
    the stored ids — the same crash-retry contract as
    append_minhash_index, simpler here because postings are ONE
    dataset: the append itself is the commit). Single-writer,
    lease-enforced on local paths. Returns the number of vectors
    newly posted."""
    from samba_spark.operators.simsearch import _ivf_pq_encode_prepared

    cents, books, params = load_ivf_pq_index(spark, path)
    enc = _ivf_pq_encode_prepared(
        embeddings,
        cents,
        books,
        params["n_centroids"],
        params["dsub"],
        "build_ivf_pq_postings",
    )
    existing = _read_postings(spark, path)
    if existing is not None:
        enc = enc.join(
            existing.select("vec_id"), "vec_id", "left_anti"
        )
    # lazy cut + count fusion: the count materializes every partition in
    # one job (instead of an eager checkpoint job followed by a count),
    # and the append below re-reads the persisted blocks
    enc = enc.localCheckpoint(eager=False)
    n = enc.count()
    if n == 0:
        return 0
    enc.write.mode("append").parquet(f"{path}/postings")
    return int(n)


@single_writer(
    VECTOR_STORE, "merge_vector_index_shards", "dest_path", "src_path"
)
def merge_vector_index_shards(spark, dest_path: str, src_path: str) -> int:
    """Absorb one IVF-PQ shard store's PERSISTED postings into another
    — the serving index's side of the distributed build: shard
    builders run save_ivf_pq_index (identical pinned quantizers) +
    build_ivf_pq_postings independently, then the serving store merges
    each shard's already-encoded rows. Re-encoding through
    build_ivf_pq_postings would re-run the cell argmin and PQ coding
    over every vector; this verb moves rows.

    Quantizer safety (the x164 layout-mismatch refusal, strengthened):
    structural params (n_cells, dim, m, n_centroids, dsub) AND the
    actual centroid/codebook VALUES must match bit-for-bit — parquet
    round-trips IEEE doubles losslessly, so shards saved from the same
    pinned literals compare equal, and a shard encoded against ANY
    other quantizer state is refused loudly (merged mis-encoded
    postings would silently mis-rank: structurally undetectable at
    probe time, exactly the failure meta gates exist for).

    Semantics: src postings whose vec_id is absent from dest are
    appended — re-merging a shard is idempotent; disjoint shard
    vec_id spaces get a true union. Both paths must be PLAIN LOCAL
    (matching merge_minhash_indexes): the tombstone and recovery
    metadata the merge consults are resolved driver-side, so a URI
    spelling would silently skip a shard's tombstones. Single-writer:
    BOTH stores are lease-held (loud-failure acquisition — crossing
    merges cannot deadlock). Returns the number of vectors merged
    in."""
    dc, db, dp = load_ivf_pq_index(spark, dest_path)
    sc_, sb, sp = load_ivf_pq_index(spark, src_path)
    d_struct = {k: dp[k] for k in ("n_cells", "dim", "m", "n_centroids", "dsub")}
    s_struct = {k: sp[k] for k in ("n_cells", "dim", "m", "n_centroids", "dsub")}
    if d_struct != s_struct or dc != sc_ or db != sb:
        raise ValueError(
            "merge_vector_index_shards: quantizer mismatch — dest "
            f"{d_struct} vs src {s_struct} (and/or centroid/codebook "
            "values differ); postings encoded against different "
            "quantizers would silently mis-rank every probe"
        )
    src_post = _read_postings(spark, src_path)
    if src_post is None:
        raise ValueError(
            f"merge_vector_index_shards: {src_path} has no postings — "
            "run build_ivf_pq_postings on the shard first"
        )
    # the source's LIVE rows only — a vector tombstoned in the shard
    # must not resurrect through a merge
    src_post = VECTOR_STORE.live(spark, src_path, src_post)
    dest_post = _read_postings(spark, dest_path)
    fresh = src_post
    if dest_post is not None:
        fresh = src_post.join(
            dest_post.select("vec_id"), "vec_id", "left_anti"
        )
    # lazy cut + count fusion: the count materializes every partition in
    # one job (instead of an eager checkpoint job followed by a count),
    # and the append below re-reads the persisted blocks
    fresh = fresh.localCheckpoint(eager=False)
    n = fresh.count()
    if n == 0:
        return 0
    fresh.write.mode("append").parquet(f"{dest_path}/postings")
    return int(n)


def probe_ivf_pq_store(
    spark, path: str, queries, k: int = 10, n_probe: int = 2
):
    """ADC top-k served ENTIRELY from the frozen store: pinned
    quantizers from meta/centroids/codebooks, corpus from the
    persisted postings — no embedding is touched at probe time (the
    x155 loaded-state probe still re-encoded the corpus in-query; this
    is the full serving loop: the 100 TB corpus is encoded once at
    build, and every probe reads only the 64×-compressed posting
    rows). Hash-identical to ivf_pq_topk over the same corpus with the
    same pinned state — asserted by the x167 oracle. Tombstoned
    vec_ids (delete_from_vector_store) are anti-joined out before
    scoring, so a probe never serves a deleted vector even before the
    compact physically removes it. A committed but unfinished compaction
    is finished first, under the writer lease (``LeaseHeldError`` while
    a writer holds it); uncommitted staging is left to its writer."""
    VECTOR_STORE.recover_for_read(path, "probe_ivf_pq_store")
    cents, books, params = load_ivf_pq_index(spark, path)
    if n_probe < 1 or n_probe > len(cents):
        raise ValueError(
            f"probe_ivf_pq_store: n_probe={n_probe} must be in "
            f"1..{len(cents)}"
        )
    post = _read_postings(spark, path)
    if post is None:
        raise ValueError(
            f"probe_ivf_pq_store: {path} has no postings — run "
            "build_ivf_pq_postings first"
        )
    post = VECTOR_STORE.live(spark, path, post)
    from samba_spark.operators.simsearch import _ivf_pq_probe_prepared

    return _ivf_pq_probe_prepared(
        post,
        queries,
        cents,
        books,
        params["n_centroids"],
        params["dsub"],
        k,
        n_probe,
        "probe_ivf_pq_store",
    )


# -- vector-store tombstones + compaction (the MinHash lifecycle, ANN) -----
@single_writer(VECTOR_STORE, "delete_from_vector_store", "path")
def delete_from_vector_store(spark, path: str, vec_ids) -> int:
    """Vector-store lifecycle verb: tombstone vectors out of the
    postings — the takedown / right-to-be-forgotten path for the ANN
    serving store, mirroring delete_from_minhash_index. O(delete-size)
    tombstones under ``path``/deletes; every probe anti-joins them out;
    physical removal happens at :func:`compact_vector_store`. Only ids
    physically posted and not already tombstoned are recorded, so
    re-deleting is an idempotent 0 and compact can always clear the
    set completely. A deleted id cannot be re-posted until a compact
    removes its row (build_ivf_pq_postings anti-joins the PHYSICAL
    postings — delete → compact → build is the re-ingestion sequence).
    Single-writer, lease-enforced. Returns the number newly
    tombstoned."""
    post = _read_postings(spark, path)
    if post is None:
        raise ValueError(
            f"delete_from_vector_store: {path} has no postings"
        )
    return VECTOR_STORE.record_tombstones(spark, path, vec_ids, post)


@single_writer(VECTOR_STORE, "compact_vector_store", "path")
def compact_vector_store(spark, path: str, target_files: int = 8) -> dict:
    """Vector-store lifecycle verb: rewrite the postings into a bounded
    file count with tombstoned rows physically removed, then clear the
    tombstone set — closing the same two walls compaction closes for
    the MinHash index (per-build file accumulation + per-probe
    tombstone anti-join cost). ``probe(compact(S)) ≡ probe(S)`` —
    the x169 oracle replays the live corpus in one pass. Crash-safe
    staged commit (store.py): staged rewrite under ``_compact/postings``,
    commit marker, dir swap (roll back before the marker, roll forward
    after — recovery runs at every verb entry). The repartition is a
    full postings shuffle: a scheduled-maintenance verb, like a table
    format's OPTIMIZE. Single-writer, lease-enforced."""
    if target_files < 1:
        raise ValueError(
            f"compact_vector_store: target_files={target_files} must be >= 1"
        )
    post = _read_postings(spark, path)
    if post is None:
        raise ValueError(f"compact_vector_store: {path} has no postings")
    files_before = count_data_files(f"{path}/postings")
    # both row counts ride the staging rewrite as Observations (physical
    # rows above the scan, live rows above the tombstone anti-join)
    # instead of separate passes over the postings
    post, n_rows = counting(post)
    live = VECTOR_STORE.live(spark, path, post)
    live, n_live = counting(live)
    live.repartition(target_files).write.mode("overwrite").parquet(
        f"{staging_dir(path)}/postings"
    )
    VECTOR_STORE.commit(path)
    return {
        "files_before": files_before,
        "files_after": count_data_files(f"{path}/postings"),
        "rows_removed": n_rows() - n_live(),
        "live_vectors": n_live(),
    }
