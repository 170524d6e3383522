"""The benchmark's three closed-loop workloads, as passes of operations.

A pass is a list of *chains*; a chain is a list of :class:`Op` that must run
in order (a store lifecycle: save → append → delete → compact → probe). The
runner shuffles the chains of every pass with the seeded RNG and runs one op
at a time from a single driver thread. Every op names the layer verb it
calls (``dedup.probe``, ``graph.pagerank``, ``olap.q5_groupby_aggs`` …);
that name is the op's span name and its per-op metric key.

- ``olap_mix`` — declared relational queries and TPC-H shapes; each op is
  ``ALL_QUERIES[name].fn(spark, data_dir)`` (builds the DataFrame) plus a
  noop-sink write (runs it). No store, iteration, Python worker or
  provenance: the control workload.
- ``store_graph`` — the verbs of the persisted stores (``operators.dedup``
  MinHash index, ``operators.indexstore`` vector store,
  ``operators.sessionize`` session store) called on store paths the run
  owns, and an iterative ``operators.graph`` operator, each following the
  recipe of a declared query whose DuckDB oracle checks it.
- ``prov_workflow`` — ``ProvSession`` pipelines run as interleaved
  provenance-on/off pairs (task-level, element-level at 10× rows, and a
  four-stage black-box chain over seed-generated file groups committed to an
  ``ArtifactStore``), then lineage reads on the captured store.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass
from typing import Any, Callable, Optional

import numpy as np
import pyarrow.dataset as pads
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench import oracle

# olap_mix: the declared operator families and TPC-H shapes that fit one
# pass of the run budget (see README.md, "Scope").
OLAP_QUERIES = [
    "q8_inner_join",
    "q10_semi_anti_join",
    "q14_rank_window",
    "q23_star_join",
    "q48_tpch_q1",
    "q50_tpch_q3",
    "q69_tpch_q17",
]


@dataclass
class Op:
    """One operation of a pass.

    ``fn`` calls the layer and returns a DataFrame still to be materialized
    (the runner runs it through a noop sink, or collects it when checking),
    an already-materialized result, or None. ``check`` receives the collected
    rows and columns (or the materialized result) and raises on a wrong
    answer. ``after`` records untimed bookkeeping such as store sizes. Both
    run outside the op's timing. ``build_span`` names the child span around
    ``fn`` when the op is a build-then-run pair."""

    name: str
    fn: Callable[[], Any]
    check: Optional[Callable[[Any, list], None]] = None
    build_span: Optional[str] = None
    after: Optional[Callable[[], None]] = None


def _oracle_check(ctx, query: str):
    """Check against ``ALL_QUERIES[query].oracle`` in DuckDB."""
    from samba_spark.queries import ALL_QUERIES

    sql = ALL_QUERIES[query].oracle

    def check(rows, columns):
        oracle.check(ctx.duck, sql, rows, columns)

    return check


# ----------------------------------------------------------------- olap_mix
def olap_pass(ctx) -> list[list[Op]]:
    from samba_spark.queries import ALL_QUERIES

    def op(name):
        spec = ALL_QUERIES[name]
        return Op(
            name=f"olap.{name}",
            fn=lambda: spec.fn(ctx.spark, ctx.data_dir),
            check=_oracle_check(ctx, name),
            build_span="queries.build",
        )

    return [[op(n)] for n in OLAP_QUERIES]


# -------------------------------------------------------------- store_graph
# graph operators and the declared query whose recipe and oracle each runs
GRAPH_OPS = [("pagerank", "q41_pagerank")]


def _live_rows(ctx, sql: str) -> int:
    return ctx.duck.execute(sql).fetchone()[0]


def _minhash_chain(ctx, docs) -> list[Op]:
    """x161's lifecycle on one store path the run owns: save (src !=
    src0) → append (src0) → delete (doc_id % 9 == 2) → compact → probe,
    checked against x161's oracle."""
    from samba_spark.operators import dedup as D
    from samba_spark.queries.extensions import _mh_probe_batch

    path = os.path.join(ctx.fresh_dir("stores"), "mh")
    live = _live_rows(ctx, "SELECT count(*) FROM documents WHERE doc_id % 9 <> 2")
    return [
        Op("dedup.save", lambda: D.save_minhash_index(
            docs().where(F.col("source") != "src0"), path)),
        Op("dedup.append", lambda: D.append_minhash_index(
            docs().where(F.col("source") == "src0"), path)),
        Op("dedup.delete", lambda: D.delete_from_minhash_index(
            ctx.spark, path,
            docs().where(F.col("doc_id") % 9 == 2).select("doc_id"))),
        Op("dedup.compact", lambda: D.compact_minhash_index(
            ctx.spark, path, target_files=4),
           after=lambda: ctx.record_store("dedup", path, live)),
        Op("dedup.probe", lambda: D.probe_minhash_index(
            ctx.spark, path, _mh_probe_batch(docs(), 6, 1, 4), min_agree=8
        ).orderBy("doc_id"), check=_oracle_check(ctx, "x161_index_compact")),
    ]


def _vector_chain(ctx) -> list[Op]:
    """Build (pinned quantizers saved, postings over the whole corpus) →
    probe, on one store path the run owns: x167's store and probe recipe
    without its shard split, checked against x167's oracle (a merge of
    the two shards equals a build over the whole corpus)."""
    from samba_spark.operators import indexstore as IX
    from samba_spark.queries.extensions import (
        X155_BOOKS, X155_CELLS, _queries_df,
    )

    path = os.path.join(ctx.fresh_dir("stores"), "vec")
    live = _live_rows(ctx, "SELECT count(*) FROM embeddings")

    def embs() -> DataFrame:
        return ctx.spark.read.parquet(ctx.table_path("embeddings"))

    def build():
        IX.save_ivf_pq_index(
            ctx.spark, path, X155_CELLS, X155_BOOKS, {"built_for": "perfbench"}
        )
        return IX.build_ivf_pq_postings(ctx.spark, path, embs())

    return [
        Op("indexstore.build", build,
           after=lambda: ctx.record_store("indexstore", path, live)),
        Op("indexstore.probe", lambda: IX.probe_ivf_pq_store(
            ctx.spark, path, _queries_df(embs()), k=10, n_probe=2
        ).orderBy("query_id", "rank"),
           check=_oracle_check(ctx, "x167_vector_shard_merge")),
    ]


def _session_chain(ctx) -> list[Op]:
    """x170's lifecycle on one store path the run owns: incremental (first
    half of the feed) → incremental (second half) → delete (user_id % 5 ==
    0) → scan, checked against x170's oracle."""
    from samba_spark.operators import sessionize as SZ
    from samba_spark.sources.tables import load_tables

    path = os.path.join(ctx.fresh_dir("stores"), "sessions")
    kw = dict(gap_seconds=1800, user_buckets=8)
    live = _live_rows(ctx, "SELECT count(*) FROM events WHERE user_id % 5 <> 0")
    lo, hi = ctx.duck.execute("SELECT min(ts), max(ts) FROM events").fetchone()
    cutoff = lo + (hi - lo) / 2

    def events() -> DataFrame:
        return load_tables(ctx.spark, ctx.data_dir, ["events"])["events"]

    def scan() -> DataFrame:
        return (
            ctx.spark.read.parquet(path)
            .groupBy("user_id", "session_id")
            .agg(
                F.min("ts").alias("s_start"),
                F.count(F.lit(1)).cast("long").alias("n_events"),
            )
            .orderBy("user_id", "session_id")
        )

    return [
        Op("sessionize.incremental", lambda: SZ.sessionize_incremental(
            ctx.spark, path, events().where(F.col("ts") < F.lit(cutoff)), **kw)),
        Op("sessionize.incremental", lambda: SZ.sessionize_incremental(
            ctx.spark, path, events().where(F.col("ts") >= F.lit(cutoff)), **kw)),
        Op("sessionize.delete", lambda: SZ.delete_from_session_store(
            ctx.spark, path,
            events().select("user_id").where(F.col("user_id") % 5 == 0).distinct()),
           after=lambda: ctx.record_store("sessionize", path, live)),
        Op("sessionize.scan", scan,
           check=_oracle_check(ctx, "x170_session_store_delete")),
    ]


def store_graph_pass(ctx) -> list[list[Op]]:
    """One lifecycle chain per persisted store (MinHash index, vector
    store, session store), each on store paths the run owns, and one op
    per graph operator, each following a declared query's recipe and
    checked by its oracle."""
    from samba_spark.queries import ALL_QUERIES

    def docs() -> DataFrame:
        return ctx.spark.read.parquet(ctx.table_path("documents"))

    def graph(verb, query):
        spec = ALL_QUERIES[query]
        return Op(f"graph.{verb}", lambda: spec.fn(ctx.spark, ctx.data_dir),
                  check=_oracle_check(ctx, query))

    return [
        _minhash_chain(ctx, docs),
        _vector_chain(ctx),
        _session_chain(ctx),
        *([graph(v, q)] for v, q in GRAPH_OPS),
    ]


# ------------------------------------------------------------ prov_workflow
_TASK_SQL = """
SELECT c_mktsegment, ROUND(SUM(o_totalprice), 2) AS s, COUNT(*) AS n
FROM orders JOIN customer ON o_custkey = c_custkey
WHERE o_totalprice > 50000 GROUP BY c_mktsegment ORDER BY c_mktsegment
"""
_ELEMENT_REPS = 10
_ELEMENT_SQL = f"""
SELECT o_orderkey, o_custkey, o_totalprice, r AS _rep
FROM orders, range({_ELEMENT_REPS}) t(r) WHERE o_totalprice > 150000
"""


def _session(ctx, enabled: bool, name: str):
    from samba_spark.session import ProvSession

    return ProvSession(
        ctx.spark, name=name, provenance=enabled,
        prov_dir=ctx.fresh_dir("prov"),
    )


def _task_pipeline(ctx, enabled: bool):
    """bench.py's task-level pipeline: scan → filter → join → agg → sort."""
    eng = _session(ctx, enabled, "perfbench_task")
    orders = eng.read_parquet(ctx.table_path("orders"), "orders")
    customer = eng.read_parquet(ctx.table_path("customer"), "customer")
    big = orders.where(F.col("o_totalprice") > 50000)
    joined = big.join(
        customer, on=big.raw.o_custkey == customer.raw.c_custkey, how="inner"
    )
    rows = (
        joined.group_by("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .order_by("c_mktsegment")
        .collect()
    )
    with ctx.tracer.span("prov_store.flush"):
        eng.store.flush()
    eng.stop()
    return [tuple(r) for r in rows], ["c_mktsegment", "s", "n"]


def _element_pipeline(ctx, enabled: bool):
    """Element-level capture at 10× rows: the source, filter and projection
    elements (and their deps) are persisted, then the store is flushed."""
    eng = _session(ctx, enabled, "perfbench_elements")
    orders = eng.read_parquet(ctx.table_path("orders"), "orders")
    orders = orders.with_column(
        "_reps", F.array(*[F.lit(i) for i in range(_ELEMENT_REPS)])
    ).explode_col("_reps", "_rep")
    if enabled:
        orders = orders.with_elements()
    big = orders.where(F.col("o_totalprice") > 150000)
    proj = big.select("o_orderkey", "o_custkey", "o_totalprice", "_rep")
    if enabled:
        for stage in (orders, big, proj):
            stage.persist_elements()
    rows = proj.collect()
    with ctx.tracer.span("prov_store.flush"):
        eng.store.flush()
    eng.stop()
    if enabled:
        ctx.last_capture = (eng, orders.task_id, big.task_id, proj.task_id)
    return [tuple(r) for r in rows], ["o_orderkey", "o_custkey", "o_totalprice", "_rep"]


def _write_groups(ctx, root: str) -> list:
    """Seed-generated file groups: one FASTA-like file per sample."""
    from samba_spark.sources.filegroup import FileGroupTemplate

    templates = []
    for i, seq in enumerate(ctx.sequences):
        d = os.path.join(root, f"sample{i}")
        os.makedirs(d)
        path = os.path.join(d, "input.fasta")
        with open(path, "w") as fh:
            fh.write(f">sample{i}\n{seq}\n")
        templates.append(
            FileGroupTemplate.of_file(path, name=f"sample{i}", NAME=f"sample{i}")
        )
    return templates


_STAGES = [
    ("Align", "tr 'ACGT' 'acgt' < input.fasta > {{NAME}}.aligned"),
    ("Convert", "wc -c < {{NAME}}.aligned > {{NAME}}.stats"),
    ("Model", "sha256sum {{NAME}}.aligned > {{NAME}}.model"),
    ("Report", "cat {{NAME}}.stats {{NAME}}.model > {{NAME}}.report"),
]


def expected_report(name: str, seq: str) -> bytes:
    aligned = f">{name}\n{seq}\n".translate(str.maketrans("ACGT", "acgt"))
    digest = hashlib.sha256(aligned.encode()).hexdigest()
    return f"{len(aligned)}\n{digest}  {name}.aligned\n".encode()


def _blackbox_pipeline(ctx):
    """examples/sciphy_like.py's chain, provenance on: file groups → four
    templated black-box stages → ArtifactStore.commit of the report stage."""
    from samba_spark.artifacts import ArtifactStore
    from samba_spark.blackbox import run_scientific_application

    eng = _session(ctx, True, "perfbench_blackbox")
    templates = _write_groups(ctx, ctx.fresh_dir("groups"))
    stage = eng.file_groups(*templates)
    for name, cmd in _STAGES:
        with ctx.tracer.span("blackbox.stage"):
            stage = run_scientific_application(stage, cmd, name=name)
    store = ArtifactStore(ctx.fresh_dir("artifacts"))
    ctx.last_artifacts = store.root
    with ctx.tracer.span("artifacts.commit"):
        manifest = store.commit(stage, task_desc="Report").collect()
    eng.stop()
    reports = {
        r["group_name"]: store.read_blob(r["sha256"])
        for r in manifest
        if r["file_name"].endswith(".report")
    }
    return reports, ["group_name", "report"]


def _pair(ctx, kind: str, pipeline, check_one) -> list[Op]:
    """An interleaved provenance-on/off pair; the seeded RNG picks which
    side runs first, and the second op checks both sides agree."""
    results = {}

    def side(enabled):
        def fn():
            results[enabled] = pipeline(ctx, enabled)
            return results[enabled]

        def check(result, _cols):
            check_one(result)
            if len(results) == 2 and results[True][0] != results[False][0]:
                raise AssertionError(f"{kind}: provenance on/off rows differ")

        return Op(f"prov.{kind}_{'on' if enabled else 'off'}", fn, check=check)

    first = bool(ctx.rng.integers(0, 2))
    return [side(first), side(not first)]


def _lineage_chain(ctx) -> list[Op]:
    """Lineage reads on the store the element pair's ON side captured."""
    from samba_spark.prov import queries as Q

    state = {}
    rng = np.random.default_rng(int(ctx.rng.integers(2**32)))

    def capture():
        eng, src_task, mid_task, out_task = ctx.last_capture
        return eng.store, eng.run_id, src_task, mid_task, out_task

    def task_dag():
        store, run_id, *_ = capture()
        return Q.task_dag(store, run_id)

    def element_graph():
        store, run_id, *_ = capture()
        return Q.element_graph(store, run_id)

    def elements_of_task():
        store, run_id, _src, _mid, out_task = capture()
        return Q.elements_of_task(store, run_id, out_task).select("element_id")

    def sample_targets():
        store, run_id, _src, _mid, out_task = capture()
        ids = sorted(r[0] for r in ctx.duck.execute(
            "SELECT element_id FROM read_parquet(?) WHERE task_id = ?",
            [os.path.join(store.prov_dir, "elements", "**", "*.parquet"),
             out_task],
        ).fetchall())
        if not ids:
            raise AssertionError("output task captured no elements")
        picks = rng.choice(len(ids), size=min(3, len(ids)), replace=False)
        state["targets"] = [ids[i] for i in picks]

    def lineage():
        store, run_id, *_ = capture()
        return Q.transitive_lineage(store, run_id, state["targets"])

    def check_dag(rows, cols):
        _store, _run, src_task, mid_task, out_task = capture()
        edges = {(r[cols.index("task_id")], r[cols.index("upstream_task_id")])
                 for r in rows}
        if not {(out_task, mid_task), (mid_task, src_task)} <= edges:
            raise AssertionError("task_dag lacks the captured pipeline's edges")

    def check_graph(_rows, _cols):
        # every non-source element has at least one dependency
        store, run_id, src_task, *_ = capture()
        orphans = ctx.duck.execute(
            "SELECT count(*) FROM read_parquet(?) e WHERE e.task_id <> ? "
            "AND e.element_id NOT IN (SELECT element_id FROM read_parquet(?))",
            [os.path.join(store.prov_dir, "elements", "**", "*.parquet"),
             src_task,
             os.path.join(store.prov_dir, "element_deps", "**", "*.parquet")],
        ).fetchone()[0]
        if orphans:
            raise AssertionError(f"{orphans} non-source elements lack deps")

    def check_lineage(rows, cols):
        store, run_id, src_task, *_ = capture()
        reached = {r[cols.index("element_id")] for r in rows}
        sources = ctx.duck.execute(
            "SELECT element_id FROM read_parquet(?) WHERE task_id = ?",
            [os.path.join(store.prov_dir, "elements", "**", "*.parquet"),
             src_task],
        ).fetchall()
        if not reached & {r[0] for r in sources}:
            raise AssertionError("lineage did not reach an orders source element")

    return [
        Op("prov_queries.task_dag", task_dag, check=check_dag),
        Op("prov_queries.element_graph", element_graph, check=check_graph),
        Op("prov_queries.elements_of_task", elements_of_task,
           after=sample_targets),
        Op("prov_queries.transitive_lineage", lineage, check=check_lineage),
    ]


def _record_capture(ctx):
    """Bytes written to the provenance store per captured element."""
    eng = ctx.last_capture[0]
    elements = pads.dataset(
        os.path.join(eng.prov_dir, "elements"), format="parquet"
    ).count_rows()
    ctx.prov_capture.append((ctx.du(eng.prov_dir), elements))


def prov_pass(ctx) -> list[list[Op]]:
    def check_task(result):
        rows, cols = result
        oracle.check(ctx.duck, _TASK_SQL, rows, cols)

    def check_elements(result):
        rows, cols = result
        oracle.check(ctx.duck, _ELEMENT_SQL, rows, cols)

    def check_reports(result):
        reports, _ = result
        want = {
            f"sample{i}": expected_report(f"sample{i}", s)
            for i, s in enumerate(ctx.sequences)
        }
        if reports != want:
            raise AssertionError("black-box outputs differ from expected bytes")

    elements = _pair(ctx, "element", _element_pipeline, check_elements)
    next(o for o in elements if o.name.endswith("_on")).after = (
        lambda: _record_capture(ctx)
    )
    blackbox = Op(
        "prov.blackbox", lambda: _blackbox_pipeline(ctx),
        check=lambda result, _cols: check_reports(result),
        after=lambda: ctx.artifact_bytes.append(ctx.du(ctx.last_artifacts)),
    )
    return [
        _pair(ctx, "task", _task_pipeline, check_task),
        elements + _lineage_chain(ctx),
        [blackbox],
    ]


WORKLOADS = {
    "olap_mix": olap_pass,
    "store_graph": store_graph_pass,
    "prov_workflow": prov_pass,
}

