"""Round-3 session-3 block: declarative recursion, sketch aggregates, and
sequence/stratification patterns (q77, x78–x82).

Each query pairs idiomatic Spark-4 DataFrame/SQL code with a DuckDB oracle
per the repo-wide contract. The theme is *mergeable state*: recursive CTEs
(iteration inside Catalyst), HLL/bitmap/top-k sketches (distinct counts and
heavy hitters as partial-aggregatable summaries), journey strings (sequence
patterns as one codegen'd regex), and exact-proportion stratified splits.
None of these exist in the reference engine (exact hash aggregation and
``sample`` only — SURVEY.md §2.3); they are north-star scale surface.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from samba_spark.queries.declared import QuerySpec, scratch_dir
from samba_spark.sources.tables import load_tables, read_parquet


def q77_recursive_cte(spark, sf_dir):
    """Declarative transitive closure via Spark 4's WITH RECURSIVE — the
    Catalyst-native sibling of the hand-rolled BFS in operators/graph.py
    (q40/q59). The walk follows each region's nation chain (the q40 edge
    set) from its minimum nationkey, emitting (region, vertex, hop).

    Spark executes the recursion as a UnionLoop of self-joins with the
    per-step frontier as the loop-carried relation — the same
    frontier-join-per-round shape graph.bfs builds by hand, but planned
    and re-optimized by Catalyst each step (broadcastable frontier,
    pushed-down edge filters). Depth is bounded by the longest chain
    (#nations per region), the same bound the manual BFS has."""
    nation = load_tables(spark, sf_dir, ["nation"])["nation"]
    nation.createOrReplaceTempView("q77_nation")
    return spark.sql(
        """
        WITH RECURSIVE edges AS (
          SELECT n_regionkey AS rk, n_nationkey AS src,
                 LEAD(n_nationkey) OVER (
                   PARTITION BY n_regionkey ORDER BY n_nationkey) AS dst
          FROM q77_nation
        ),
        walk(rk, vertex, hop) AS (
          SELECT rk, MIN(src), CAST(0 AS BIGINT) FROM edges GROUP BY rk
          UNION ALL
          SELECT e.rk, e.dst, w.hop + CAST(1 AS BIGINT)
          FROM walk w JOIN edges e ON e.rk = w.rk AND e.src = w.vertex
          WHERE e.dst IS NOT NULL
        )
        SELECT CAST(rk AS BIGINT) AS rk, CAST(vertex AS BIGINT) AS vertex,
               hop
        FROM walk ORDER BY rk, hop
        """
    )


Q77_SQL = """
WITH RECURSIVE edges AS (
  SELECT n_regionkey AS rk, n_nationkey AS src,
         LEAD(n_nationkey) OVER (
           PARTITION BY n_regionkey ORDER BY n_nationkey) AS dst
  FROM nation
),
walk(rk, vertex, hop) AS (
  SELECT rk, MIN(src), CAST(0 AS BIGINT) FROM edges GROUP BY rk
  UNION ALL
  SELECT e.rk, e.dst, w.hop + CAST(1 AS BIGINT)
  FROM walk w JOIN edges e ON e.rk = w.rk AND e.src = w.vertex
  WHERE e.dst IS NOT NULL
)
SELECT CAST(rk AS BIGINT) AS rk, CAST(vertex AS BIGINT) AS vertex, hop
FROM walk ORDER BY rk, hop
"""


def x78_sequence_pattern(spark, sf_dir):
    """MATCH_RECOGNIZE-lite sequence analysis: each user's events collapse
    to one string of event-type initials in (ts, event_id) order, then
    conversion paths are counted as non-overlapping regex matches of
    view→clicks*→purchase (``vc*p``) — sequence logic as one codegen'd
    projection over one user-keyed shuffle (see
    operators/sketches.journey_string for the skew note)."""
    from samba_spark.operators.sketches import journey_string, pattern_match_counts

    events = load_tables(spark, sf_dir, ["events"])["events"]
    j = journey_string(events)
    return (
        j.select(
            "user_id",
            F.length("journey").cast("long").alias("n_events"),
            pattern_match_counts(j, "vc*p").cast("long").alias("n_conversions"),
        )
        .orderBy("user_id")
    )


X78_SQL = """
WITH j AS (
  SELECT user_id,
         string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
           AS journey
  FROM events GROUP BY user_id)
SELECT user_id, CAST(length(journey) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(journey, 'vc*p')) AS BIGINT)
         AS n_conversions
FROM j ORDER BY user_id
"""


def x79_stratified_split(spark, sf_dir):
    """Exact-proportion stratified train/test split of the corpus by
    language: within each lang stratum rows rank by (md5(doc_id), doc_id)
    and exactly ⌊0.8·n⌋ become train (integer boundary — no float
    rounding). Output audits the split: per (lang, split) row counts and
    a doc_id checksum proving both engines selected the *same rows*, not
    just the same counts."""
    from samba_spark.operators.mixing import stratified_exact_split

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    s = stratified_exact_split(docs, "doc_id", ["lang"], train_pct=80)
    return (
        s.groupBy("lang", "split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("doc_id").cast("long").alias("sum_ids"),
        )
        .orderBy("lang", "split")
    )


X79_SQL = """
WITH ranked AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT,
                    doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents)
SELECT lang,
       CASE WHEN 100 * rk <= 80 * n THEN 'train' ELSE 'test' END AS split,
       COUNT(*)::BIGINT AS n_docs, SUM(doc_id)::BIGINT AS sum_ids
FROM ranked GROUP BY 1, 2 ORDER BY lang, split
"""


def x80_hll_rollup(spark, sf_dir):
    """Sketch-rollup distinct counts: per-(day, event_type) HLL sketches of
    user_id union up to per-event_type estimates — the maintained-rollup
    pattern that answers distinct-count questions from O(groups) sketch
    bytes instead of re-scanning raw events. The oracle carries the exact
    distinct count plus ``est_ok = TRUE``; Spark computes the same exact
    count AND asserts its HLL estimate lands within ±5% (well above the
    ~1.6% expected error at lgConfigK=12), so a hash match *verifies the
    estimator*, not just the exact path."""
    from samba_spark.operators.sketches import hll_rollup

    events = load_tables(spark, sf_dir, ["events"])["events"]
    daily = events.withColumn("day", F.to_date("ts"))
    est = hll_rollup(daily, ["day", "event_type"], ["event_type"], "user_id")
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("estimate") - F.col("exact_users")) * 20
                <= F.col("exact_users")
            ).alias("est_ok"),
        )
        .orderBy("event_type")
    )


X80_SQL = """
SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS exact_users,
       TRUE AS est_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def x81_approx_topk(spark, sf_dir):
    """Heavy-hitter counts via the approx_top_k sketch: the 10 busiest
    users' event counts per event type, exposed as (rank, count) only —
    the count multiset is deterministic even when equal-count users tie
    at the boundary, so the sketch output is exactly oracle-checkable
    whenever the tracker (65536 here) exceeds the true user cardinality.
    At 100 TB the tracker bound is the memory knob: O(tracked) state per
    group, one aggregation shuffle, no second pass over raw events."""
    from samba_spark.operators.sketches import topk_counts

    events = load_tables(spark, sf_dir, ["events"])["events"]
    return topk_counts(events, ["event_type"], "user_id", k=10).orderBy(
        "event_type", "rank"
    )


X81_SQL = """
WITH c AS (
  SELECT event_type, user_id, COUNT(*)::BIGINT AS n
  FROM events GROUP BY event_type, user_id),
r AS (
  SELECT event_type, n,
         ROW_NUMBER() OVER (
           PARTITION BY event_type ORDER BY n DESC, user_id) AS rank
  FROM c)
SELECT event_type, CAST(rank AS BIGINT) AS rank, n
FROM r WHERE rank <= 10 ORDER BY event_type, rank
"""


def x82_bitmap_distinct(spark, sf_dir):
    """EXACT distinct counts via bucketed bitmap aggregation (Spark 4
    bitmap_construct_agg / bitmap_or_agg / bitmap_count): distinct
    users per event type, built as per-(day, type, bucket) bitmaps that
    OR together above the day level — shuffling fixed-width 4 KiB bitmaps
    instead of raw user ids. The exact sibling of x80's HLL rollup — same
    two-level merge shape, zero approximation, right tool for dense
    integer key spaces."""
    from samba_spark.operators.sketches import bitmap_distinct

    events = load_tables(spark, sf_dir, ["events"])["events"]
    daily = events.withColumn("day", F.to_date("ts"))
    return bitmap_distinct(
        daily, ["event_type"], "user_id", fine_keys=["day"]
    ).orderBy("event_type")


X82_SQL = """
SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_distinct
FROM events GROUP BY event_type ORDER BY event_type
"""


def q78_stateful_processor(spark, sf_dir):
    """Arbitrary stateful streaming with composite per-user state: the
    events table replays as 4 micro-batches (one file each) through an
    applyInPandasWithState fold holding (event count, value-cents sum,
    error count) per user (streaming/ops.user_totals_stateful; the
    equivalent Spark-4 transformWithStateInPandas processor is
    implemented alongside it, container-gated on protobuf). Every batch
    emits the cumulative totals (update mode); counters are monotone, so
    max_by(n_events) per user is the completed fold, and the oracle
    recomputes the same totals from all events in one SQL pass — a hash
    match proves 4 incremental state updates == the batch group-by."""
    import tempfile
    import uuid

    from samba_spark.streaming import ops as S

    events = load_tables(spark, sf_dir, ["events"])["events"]
    work = tempfile.mkdtemp(prefix=f"q78_{uuid.uuid4().hex[:8]}_")
    events.repartition(4).write.mode("overwrite").parquet(work)
    stream = (
        spark.readStream.schema(S.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(work)
    )
    totals = S.user_totals_stateful(stream)
    name = "q78_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(totals, name, "update", state_partitions=8)
    final = out.groupBy("user_id").agg(
        F.max_by(
            F.struct("n_events", "sum_cents", "n_errors"), "n_events"
        ).alias("_s")
    )
    return final.select(
        "user_id", "_s.n_events", "_s.sum_cents", "_s.n_errors"
    ).orderBy("user_id")


Q78_SQL = """
SELECT user_id, COUNT(*)::BIGINT AS n_events,
       SUM(CAST(ROUND(value * 100) AS BIGINT))::BIGINT AS sum_cents,
       (COUNT(*) FILTER (WHERE event_type = 'error'))::BIGINT AS n_errors
FROM events GROUP BY user_id ORDER BY user_id
"""


X83_ROOT = scratch_dir("x83_filegroups")


def x83_python_datasource(spark, sf_dir):
    """User-defined Python Data Source (Spark 4 pyspark.sql.datasource):
    the file-group layout read through ``format("filegroup")`` with one
    InputPartition per group — scan planning, schema, and partitioning
    all flow through the normal DataFrame reader path (see
    sources/pydatasource.py). The query lays down a deterministic
    4-group/10-file fixture at a fixed path (q53's embedded-path oracle
    pattern), reads it back through the source, and audits per group:
    file count, byte volume, and an md5-based content checksum proving
    the executors read the exact bytes. The DuckDB oracle reads the same
    tree via read_text()."""
    import os
    import shutil

    from samba_spark.sources import pydatasource

    shutil.rmtree(X83_ROOT, ignore_errors=True)
    for g in range(4):
        gdir = f"{X83_ROOT}/g{g}"
        os.makedirs(gdir)
        for i in range(g + 1):
            body = f"group g{g} file {i} " * (i + 1)
            with open(f"{gdir}/f{i}.txt", "w") as f:
                f.write(body)

    pydatasource.register(spark)
    rows = (
        spark.read.format("filegroup")
        .option("path", X83_ROOT)
        .option("suffix", ".txt")
        .load()
    )
    return (
        rows.groupBy(F.col("group").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("size").cast("long").alias("total_bytes"),
            F.sum(
                F.conv(F.substring(F.md5("content"), 1, 8), 16, 10).cast("long")
            ).alias("checksum"),
        )
        .orderBy("grp")
    )


X83_SQL = f"""
WITH t AS (
  SELECT regexp_extract(filename, '([^/]+)/[^/]+$', 1) AS grp, content
  FROM read_text('{X83_ROOT}/*/*.txt'))
SELECT grp, COUNT(*)::BIGINT AS n_files,
       SUM(length(content))::BIGINT AS total_bytes,
       SUM(('0x' || substr(md5(content), 1, 8))::BIGINT)::BIGINT AS checksum
FROM t GROUP BY grp ORDER BY grp
"""


def q79_pipe_sql(spark, sf_dir):
    """Spark 4 SQL pipe syntax (``|>``): the linear dataflow style —
    FROM |> WHERE |> AGGREGATE |> ORDER BY — parsed by Catalyst into the
    identical logical plan as the nested-SELECT equivalent (the oracle
    IS that equivalent), so filters still push down and aggregates still
    partial-combine. Money stays in integer cents per the repo-wide
    quantized-parity rule."""
    load_tables(spark, sf_dir, ["orders"])["orders"].createOrReplaceTempView(
        "q79_orders"
    )
    return spark.sql(
        """
        FROM q79_orders
        |> WHERE o_orderdate >= DATE'1997-01-01'
        |> AGGREGATE COUNT(*) AS n_orders,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
           GROUP BY o_orderpriority
        |> ORDER BY o_orderpriority
        """
    )


Q79_SQL = """
SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
FROM orders WHERE o_orderdate >= DATE '1997-01-01'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q80_collation(spark, sf_dir):
    """String collations (Spark 4): grouping under UTF8_LCASE merges case
    variants inside the aggregate itself — no lower() projection, the
    collation is a property of the comparison, which is how
    locale/case-insensitive semantics compose with joins and sorts too.
    The fixture's lang codes are case-mangled deterministically (even
    doc_ids upper-cased) so the merge is observable; output keys are
    lower()-normalized because the surviving representative within a
    collated group is engine-specific."""
    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    mangled = docs.select(
        F.when(F.col("doc_id") % 2 == 0, F.upper("lang"))
        .otherwise(F.col("lang"))
        .alias("k")
    )
    mangled.createOrReplaceTempView("q80_docs")
    return spark.sql(
        """
        SELECT lower(k) AS lang_ci, COUNT(*) AS n_docs
        FROM (SELECT k COLLATE UTF8_LCASE AS k FROM q80_docs)
        GROUP BY k ORDER BY lang_ci
        """
    ).select("lang_ci", F.col("n_docs").cast("long").alias("n_docs"))


Q80_SQL = """
WITH m AS (
  SELECT CASE WHEN doc_id % 2 = 0 THEN upper(lang) ELSE lang END AS k
  FROM documents)
SELECT lower(k) AS lang_ci, COUNT(*)::BIGINT AS n_docs
FROM m GROUP BY lower(k) ORDER BY lang_ci
"""


def q81_try_functions(spark, sf_dir):
    """Error-safe expression evaluation (ANSI-mode companions): try_divide
    / try_cast / try_to_number return NULL where strict evaluation would
    raise — the 100 TB posture for dirty data, where one malformed row
    must not kill a 6-hour job. Counts NULL-producing rows per order
    priority and sums the surviving quotients in integer basis points."""
    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    orders.createOrReplaceTempView("q81_orders")
    return spark.sql(
        """
        SELECT o_orderpriority,
               COUNT(*) AS n_rows,
               COUNT(CASE WHEN q IS NULL THEN 1 END) AS n_div_null,
               COUNT(CASE WHEN s IS NULL THEN 1 END) AS n_cast_null,
               SUM(CAST(ROUND(q * 10000) AS BIGINT)) AS sum_q_bp
        FROM (
          SELECT o_orderpriority,
                 try_divide(o_totalprice, o_custkey % 5) AS q,
                 try_cast(o_orderstatus AS INT) AS s
          FROM q81_orders)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """
    ).select(
        "o_orderpriority",
        F.col("n_rows").cast("long").alias("n_rows"),
        F.col("n_div_null").cast("long").alias("n_div_null"),
        F.col("n_cast_null").cast("long").alias("n_cast_null"),
        F.col("sum_q_bp").cast("long").alias("sum_q_bp"),
    )


Q81_SQL = """
WITH t AS (
  SELECT o_orderpriority,
         CASE WHEN o_custkey % 5 = 0 THEN NULL
              ELSE o_totalprice / (o_custkey % 5) END AS q,
         TRY_CAST(o_orderstatus AS INT) AS s
  FROM orders)
SELECT o_orderpriority, COUNT(*)::BIGINT AS n_rows,
       COUNT(CASE WHEN q IS NULL THEN 1 END)::BIGINT AS n_div_null,
       COUNT(CASE WHEN s IS NULL THEN 1 END)::BIGINT AS n_cast_null,
       SUM(CAST(ROUND(q * 10000) AS BIGINT))::BIGINT AS sum_q_bp
FROM t GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def x84_observed_metrics(spark, sf_dir):
    """Single-pass audit metrics (Observation API): row count, late-order
    count, and a cents total are observed ON the scan that feeds an
    unrelated per-priority aggregation — one job, one read, both outputs
    (plans/audit.py). The returned row is the metrics dict; the oracle
    recomputes the same aggregates directly, so a hash match proves the
    observe node saw every row exactly once."""
    from samba_spark.plans.audit import run_audited

    orders = load_tables(spark, sf_dir, ["orders"])["orders"]
    _, audit = run_audited(
        orders,
        {
            "n_rows": F.count(F.lit(1)).cast("long"),
            "n_late": F.sum(
                (F.col("o_orderdate") >= F.lit("1998-01-01")).cast("long")
            ),
            "cents": F.sum(
                F.round(F.col("o_totalprice") * 100).cast("long")
            ),
        },
        # the "real" work this pass is doing — metrics ride along free
        lambda d: d.groupBy("o_orderpriority").count().collect(),
    )
    return spark.createDataFrame(
        [
            (
                int(audit["n_rows"]),
                int(audit["n_late"]),
                int(audit["cents"]),
            )
        ],
        "n_rows long, n_late long, cents long",
    )


X84_SQL = """
SELECT COUNT(*)::BIGINT AS n_rows,
       SUM(CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01' THEN 1 ELSE 0
           END)::BIGINT AS n_late,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
FROM orders
"""


def q82_sql_scripting(spark, sf_dir):
    """SQL session variables + EXECUTE IMMEDIATE (Spark 4 scripting
    surface): a data-dependent threshold lands in a DECLAREd variable via
    ``SET VAR = (scalar subquery)``, an EXECUTE IMMEDIATE template is
    parameterized with USING, and the final query references the variable
    directly — the orchestration idioms migration scripts use, all inside
    Catalyst (the variable is constant-folded into the plan, so the
    filter still pushes down). Threshold is MAX/2: exactly representable
    in binary floating point, so the comparison is engine-exact (an AVG
    threshold could flip a boundary row by one ulp)."""
    load_tables(spark, sf_dir, ["orders"])["orders"].createOrReplaceTempView(
        "q82_orders"
    )
    spark.sql("DECLARE OR REPLACE VARIABLE q82_thr DOUBLE")
    spark.sql(
        "SET VAR q82_thr = (SELECT MAX(o_totalprice) / 2 FROM q82_orders)"
    )
    # parameterized statement: the status filter arrives as a bind, the
    # threshold as a session variable
    return spark.sql(
        """
        EXECUTE IMMEDIATE
          'SELECT o_orderpriority, COUNT(*) AS n_above,
                  SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
           FROM q82_orders
           WHERE o_totalprice > q82_thr AND o_orderstatus <> ?
           GROUP BY o_orderpriority ORDER BY o_orderpriority'
          USING 'X'
        """
    ).select(
        "o_orderpriority",
        F.col("n_above").cast("long").alias("n_above"),
        F.col("cents").cast("long").alias("cents"),
    )


Q82_SQL = """
WITH thr AS (SELECT MAX(o_totalprice) / 2 AS t FROM orders)
SELECT o_orderpriority, COUNT(*)::BIGINT AS n_above,
       SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
FROM orders, thr
WHERE o_totalprice > t AND o_orderstatus <> 'X'
GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q83_watermark_dedup(spark, sf_dir):
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark keeps
    a key only until the watermark passes its event time + delay —
    O(horizon keys) state instead of plain dropDuplicates' all-time
    distinct set (q44), the difference that matters at 100 TB/day. First
    arrivals emit immediately, so a single-batch availableNow replay
    yields exactly the distinct (user_id, event_type) set and the plain
    DISTINCT oracle applies."""
    import uuid

    from samba_spark.streaming import ops as S

    stream = S.read_events_stream(
        spark, sf_dir, nanos=True, path_glob="events.parquet"
    )
    dd = S.dedup_within_watermark(stream, "user_id", "event_type")
    name = "q83_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(
        dd.select("user_id", "event_type"), name, "append", state_partitions=8
    )
    return out.orderBy("user_id", "event_type")


Q83_SQL = """
SELECT DISTINCT user_id, event_type FROM events
ORDER BY user_id, event_type
"""


def q84_chained_stateful(spark, sf_dir):
    """CHAINED stateful streaming operators (Spark 3.5+): hourly tumbling
    counts feed a daily windowed rollup over window_time — two levels of
    watermark-bounded state in ONE incremental query
    (streaming/ops.two_level_window_rollup). Append mode emits a day once
    the final watermark (max ts − 1 h, advanced by availableNow's closing
    flush) passes its end, so both engines restrict to closed days: the
    oracle recomputes hourly→daily from scratch and applies the same
    closure predicate — a hash match proves the two-level incremental
    fold equals the batch recompute on every emitted window."""
    import uuid

    from samba_spark.streaming import ops as S

    stream = S.read_events_stream(
        spark, sf_dir, nanos=True, path_glob="events.parquet"
    )
    roll = S.two_level_window_rollup(stream)
    name = "q84_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(roll, name, "append", state_partitions=8)
    return out.orderBy("d_start", "event_type")


Q84_SQL = """
WITH hourly AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS h, event_type,
         COUNT(*) AS n
  FROM events GROUP BY h, event_type),
daily AS (
  SELECT time_bucket(INTERVAL '1 day', h) AS d_start, event_type,
         SUM(n)::BIGINT AS n_events, COUNT(*)::BIGINT AS n_fine_windows
  FROM hourly GROUP BY d_start, event_type),
wm AS (SELECT MAX(ts) - INTERVAL '1 hour' AS w FROM events)
SELECT CAST(d_start AS TIMESTAMP) AS d_start, event_type, n_events,
       n_fine_windows
FROM daily, wm
WHERE d_start + INTERVAL '1 day' <= w
ORDER BY d_start, event_type
"""


def x85_arrow_stats(spark, sf_dir):
    """Arrow-native Python boundary (Spark 4 mapInArrow): per-document
    char/space counts via pyarrow.compute kernels over zero-copy
    RecordBatches — no pandas object exists anywhere on the path, the
    cheapest Python boundary Spark offers (operators/arrowops.py). Rolled
    up per language so the output stays small; all-integer parity."""
    from samba_spark.operators.arrowops import arrow_text_stats

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    stats = arrow_text_stats(docs)
    return (
        stats.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("chars"),
            F.sum("n_spaces").cast("long").alias("spaces"),
        )
        .orderBy("lang")
    )


X85_SQL = """
SELECT lang, COUNT(*)::BIGINT AS n_docs,
       SUM(length(text))::BIGINT AS chars,
       SUM(length(text) - length(replace(text, ' ', '')))::BIGINT AS spaces
FROM documents GROUP BY lang ORDER BY lang
"""


def x86_arrow_cogroup(spark, sf_dir):
    """Cogrouped applyInArrow (Spark 4): per ACTIVE user (events-side
    keys), event count vs order count and integer-cents order volume —
    both cogroup sides arrive as raw pyarrow.Tables per key (the order
    side may be empty: one-sided semantics covered here and in the unit
    test). The right side is semi-joined down to left keys first because
    a Python cogroup pays one interpreter call PER KEY — bounding the key
    space is the operator's documented cost rule. Oracle = LEFT JOIN of
    the two group-bys (operators/arrowops.py)."""
    from samba_spark.operators.arrowops import arrow_cogroup_counts

    t = load_tables(spark, sf_dir, ["events", "orders"])
    return arrow_cogroup_counts(
        t["events"], t["orders"], restrict_to_left_keys=True
    ).orderBy("user_id")


X86_SQL = """
WITH e AS (SELECT user_id, COUNT(*)::BIGINT AS n_events
           FROM events GROUP BY user_id),
o AS (SELECT o_custkey AS user_id, COUNT(*)::BIGINT AS n_orders,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
      FROM orders GROUP BY o_custkey)
SELECT e.user_id AS user_id,
       e.n_events,
       COALESCE(o.n_orders, 0)::BIGINT AS n_orders,
       COALESCE(o.cents, 0)::BIGINT AS order_cents
FROM e LEFT JOIN o ON e.user_id = o.user_id
ORDER BY user_id
"""


X87_ROOT = scratch_dir("x87_sketch_rollup")


def x87_sketch_persistence(spark, sf_dir):
    """Sketches as STORED columns — the maintained-rollup-table pattern
    x80 computes in-flight: per-(day, event_type) HLL sketches are
    written to parquet as binary columns (2.5 KiB each), the raw events
    are forgotten, and the per-type distinct estimate is answered later
    by hll_union_agg over the STORED bytes alone. At 100 TB the daily
    sketch table is kilobytes where events are terabytes; yesterday's
    sketches never get recomputed when today's partition lands (append
    one day, union at read). Same est_ok oracle contract as x80: exact
    count rides along, and the hash match verifies the stored-and-merged
    estimator within ±5%."""
    import shutil

    events = load_tables(spark, sf_dir, ["events"])["events"]
    daily = (
        events.withColumn("day", F.to_date("ts"))
        .groupBy("day", "event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sketch"))
    )
    shutil.rmtree(X87_ROOT, ignore_errors=True)
    daily.write.parquet(X87_ROOT)

    stored = read_parquet(spark, X87_ROOT)
    est = stored.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("estimate")
    )
    exact = events.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("long").alias("exact_users")
    )
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("estimate") - F.col("exact_users")) * 20
                <= F.col("exact_users")
            ).alias("est_ok"),
        )
        .orderBy("event_type")
    )


X87_SQL = """
SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS exact_users,
       TRUE AS est_ok
FROM events GROUP BY event_type ORDER BY event_type
"""


def q85_stream_outer_join(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join (q43's inner sibling with
    the semantics only watermarks make possible): matched error→click
    pairs emit immediately; an unmatched error null-pads once the global
    watermark proves no future click can reach it. The oracle replays the
    batch left join and applies the same closure predicate — unmatched
    errors count only below min(max error ts, max click ts) − 1 h, the
    final global watermark (streaming/ops.interval_join_outer)."""
    import uuid

    from samba_spark.streaming import ops as S

    stream = S.read_events_stream(
        spark, sf_dir, nanos=True, path_glob="events.parquet"
    )
    errors = stream.where(F.col("event_type") == "error")
    clicks = stream.where(F.col("event_type") == "click")
    joined = S.interval_join_outer(errors, clicks, lookback="10 minutes")
    name = "q85_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(joined, name, "append", state_partitions=8)
    return out.orderBy("err_id", "click_id")


Q85_SQL = """
WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'error'),
c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'),
wm AS (SELECT least((SELECT MAX(ts) FROM e), (SELECT MAX(ts) FROM c))
              - INTERVAL '1 hour' AS w),
matched AS (
  SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id
  FROM e JOIN c ON e.user_id = c.user_id
                AND c.ts BETWEEN e.ts - INTERVAL '10 minutes' AND e.ts),
unmatched AS (
  SELECT e.event_id AS err_id, CAST(NULL AS BIGINT) AS click_id, e.user_id
  FROM e, wm
  WHERE e.ts < wm.w AND NOT EXISTS (
    SELECT 1 FROM c WHERE c.user_id = e.user_id
      AND c.ts BETWEEN e.ts - INTERVAL '10 minutes' AND e.ts))
SELECT err_id, click_id, user_id FROM matched
UNION ALL
SELECT err_id, click_id, user_id FROM unmatched
ORDER BY err_id, click_id
"""


def x94_count_min(spark, sf_dir):
    """Count-Min heavy hitters over the corpus token stream: a 4×512
    counter matrix built in one pass (O(depth*width) state, mergeable by
    cell-wise sum), then point-estimates for the true top-20 tokens via
    a broadcast of the tiny table. The md5-salted bucket hash is replayed
    bit-for-bit by the oracle, which rebuilds the ENTIRE sketch in SQL —
    the driver row verifies the estimator exactly, including each
    token\'s overestimate, not just the exact path. Completes the sketch
    shelf: HLL (x80) approximate-distinct, bitmap (x82) exact-distinct,
    approx_top_k (x81) native heavy hitters, GK (x91) quantiles, CMS
    (x94) point frequencies."""
    from samba_spark.operators.sketches import (
        count_min_estimate,
        count_min_table,
    )
    from samba_spark.operators.textual import tokens_col

    docs = load_tables(spark, sf_dir, ["documents"])["documents"]
    tok = docs.select(F.explode(tokens_col(F.col("text"))).alias("token"))
    cms = count_min_table(tok, "token", depth=4, width=512)
    top = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), F.asc("token"))
        .limit(20)
    )
    est = count_min_estimate(cms, top.select("token"), "token")
    return (
        top.join(est, "token")
        .select(
            "token",
            "true_cnt",
            "est_cms",
            (F.col("est_cms") - F.col("true_cnt")).alias("overestimate"),
        )
        .orderBy(F.desc("true_cnt"), F.asc("token"))
    )


X94_SQL = r"""
WITH toked AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
tok AS (SELECT t AS token FROM toked, UNNEST(toks) AS u(t)),
ent AS (
  SELECT j, (('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 8))
             ::BIGINT % 512) AS bucket
  FROM tok, UNNEST(range(0, 4)) AS r(j)),
cms AS (SELECT j, bucket, COUNT(*) AS cnt FROM ent GROUP BY j, bucket),
top AS (
  SELECT token, COUNT(*)::BIGINT AS true_cnt
  FROM tok GROUP BY token
  ORDER BY true_cnt DESC, token ASC LIMIT 20),
est AS (
  SELECT top.token, top.true_cnt, MIN(cms.cnt) AS est_cms
  FROM top, UNNEST(range(0, 4)) AS r(j)
  JOIN cms ON cms.j = r.j AND cms.bucket =
    (('0x' || substr(md5(CAST(r.j AS VARCHAR) || ':' || top.token), 1, 8))
     ::BIGINT % 512)
  GROUP BY top.token, top.true_cnt)
SELECT token, true_cnt, est_cms::BIGINT AS est_cms,
       (est_cms - true_cnt)::BIGINT AS overestimate
FROM est ORDER BY true_cnt DESC, token ASC
"""


def x97_join_size_estimate(spark, sf_dir):
    """Sketch-driven join-cardinality estimation — the cost-based
    optimizer statistic, computed WITHOUT running the join: Count-Min
    tables (x94's operator) over each side's join key, then
    ``min_j Σ_b cmsA[j][b]·cmsB[j][b]`` (sketches.count_min_join_size).
    Estimates |lineitem ⋈ σ(status='F') orders| on orderkey; the output
    row carries the true size next to the estimate so the driver
    verifies the ESTIMATOR exactly (both are deterministic md5-bucket
    replays), including its guaranteed-overestimate sign. At 100 TB the
    two sketch builds are one scan each with O(depth·width) state — the
    join itself never runs."""
    from samba_spark.operators.sketches import (
        count_min_join_size,
        count_min_table,
    )

    t = load_tables(spark, sf_dir, ["lineitem", "orders"])
    filt = t["orders"].where(F.col("o_orderstatus") == "F")
    cms_l = count_min_table(
        t["lineitem"].select(F.col("l_orderkey").alias("k")), "k",
        depth=4, width=1024,
    )
    cms_o = count_min_table(
        filt.select(F.col("o_orderkey").alias("k")), "k",
        depth=4, width=1024,
    )
    true_size = (
        t["lineitem"]
        .join(filt, F.col("l_orderkey") == F.col("o_orderkey"))
        .agg(F.count(F.lit(1)).cast("long").alias("true_size"))
    )
    return true_size.crossJoin(count_min_join_size(cms_l, cms_o)).select(
        "true_size",
        "est_join_size",
        (F.col("est_join_size") - F.col("true_size")).alias("overestimate"),
    )


X97_SQL = """
WITH la AS (
  SELECT j, (('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
             CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT % 1024) AS bucket
  FROM lineitem, UNNEST(range(0, 4)) AS r(j)),
cms_l AS (SELECT j, bucket, COUNT(*) AS cnt FROM la GROUP BY j, bucket),
ob AS (
  SELECT j, (('0x' || substr(md5(CAST(j AS VARCHAR) || ':' ||
             CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 1024) AS bucket
  FROM orders, UNNEST(range(0, 4)) AS r(j)
  WHERE o_orderstatus = 'F'),
cms_o AS (SELECT j, bucket, COUNT(*) AS cnt FROM ob GROUP BY j, bucket),
est AS (
  SELECT CASE WHEN COUNT(*) < 4 THEN 0 ELSE MIN(s) END AS est_join_size
  FROM (
    SELECT l.j, SUM(l.cnt * o.cnt) AS s
    FROM cms_l l JOIN cms_o o ON l.j = o.j AND l.bucket = o.bucket
    GROUP BY l.j)),
ts AS (
  SELECT COUNT(*)::BIGINT AS true_size
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F')
SELECT true_size, est_join_size::BIGINT AS est_join_size,
       (est_join_size - true_size)::BIGINT AS overestimate
FROM ts CROSS JOIN est
"""


def q91_stream_full_outer_join(spark, sf_dir):
    """Stream-stream FULL OUTER interval join (streaming/ops.
    interval_join_full_outer) — completes the q43/q85 join-type matrix.
    Matched error→click pairs emit immediately; unmatched errors
    null-pad once watermark > err_ts; unmatched clicks must outlive the
    lookback and null-pad only once watermark > click_ts + 10 min. The
    oracle replays the batch full join with exactly those two closure
    predicates against the final global watermark."""
    import uuid

    from samba_spark.streaming import ops as S

    stream = S.read_events_stream(
        spark, sf_dir, nanos=True, path_glob="events.parquet"
    )
    errors = stream.where(F.col("event_type") == "error")
    clicks = stream.where(F.col("event_type") == "click")
    joined = S.interval_join_full_outer(errors, clicks, lookback="10 minutes")
    name = "q91_" + uuid.uuid4().hex[:8]
    out = S.run_to_memory(joined, name, "append", state_partitions=8)
    return out.orderBy("err_id", "click_id", "user_id")


Q91_SQL = """
WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
           FROM events WHERE event_type = 'error'),
c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_type = 'click'),
wm AS (SELECT least((SELECT MAX(ts) FROM e), (SELECT MAX(ts) FROM c))
              - INTERVAL '1 hour' AS w),
matched AS (
  SELECT e.event_id AS err_id, c.event_id AS click_id, e.user_id
  FROM e JOIN c ON e.user_id = c.user_id
                AND c.ts BETWEEN e.ts - INTERVAL '10 minutes' AND e.ts),
unmatched_e AS (
  SELECT e.event_id AS err_id, CAST(NULL AS BIGINT) AS click_id, e.user_id
  FROM e, wm
  WHERE e.ts < wm.w AND NOT EXISTS (
    SELECT 1 FROM c WHERE c.user_id = e.user_id
      AND c.ts BETWEEN e.ts - INTERVAL '10 minutes' AND e.ts)),
unmatched_c AS (
  SELECT CAST(NULL AS BIGINT) AS err_id, c.event_id AS click_id, c.user_id
  FROM c, wm
  WHERE c.ts + INTERVAL '10 minutes' < wm.w AND NOT EXISTS (
    SELECT 1 FROM e WHERE e.user_id = c.user_id
      AND c.ts BETWEEN e.ts - INTERVAL '10 minutes' AND e.ts))
SELECT err_id, click_id, user_id FROM matched
UNION ALL SELECT err_id, click_id, user_id FROM unmatched_e
UNION ALL SELECT err_id, click_id, user_id FROM unmatched_c
"""



PATTERNS: dict[str, QuerySpec] = {
    "q77_recursive_cte": QuerySpec(q77_recursive_cte, Q77_SQL),
    "x78_sequence_pattern": QuerySpec(x78_sequence_pattern, X78_SQL),
    "x79_stratified_split": QuerySpec(x79_stratified_split, X79_SQL),
    "x80_hll_rollup": QuerySpec(x80_hll_rollup, X80_SQL),
    "x94_count_min": QuerySpec(x94_count_min, X94_SQL),
    "x97_join_size_estimate": QuerySpec(x97_join_size_estimate, X97_SQL),
    "x81_approx_topk": QuerySpec(x81_approx_topk, X81_SQL),
    "x82_bitmap_distinct": QuerySpec(x82_bitmap_distinct, X82_SQL),
    "q78_stateful_processor": QuerySpec(q78_stateful_processor, Q78_SQL),
    "x83_python_datasource": QuerySpec(x83_python_datasource, X83_SQL),
    "q79_pipe_sql": QuerySpec(q79_pipe_sql, Q79_SQL),
    "q80_collation": QuerySpec(q80_collation, Q80_SQL),
    "q81_try_functions": QuerySpec(q81_try_functions, Q81_SQL),
    "x84_observed_metrics": QuerySpec(x84_observed_metrics, X84_SQL),
    "q82_sql_scripting": QuerySpec(q82_sql_scripting, Q82_SQL),
    "q83_watermark_dedup": QuerySpec(q83_watermark_dedup, Q83_SQL),
    "q84_chained_stateful": QuerySpec(q84_chained_stateful, Q84_SQL),
    "x85_arrow_stats": QuerySpec(x85_arrow_stats, X85_SQL),
    "x86_arrow_cogroup": QuerySpec(x86_arrow_cogroup, X86_SQL),
    "x87_sketch_persistence": QuerySpec(x87_sketch_persistence, X87_SQL),
    "q85_stream_outer_join": QuerySpec(q85_stream_outer_join, Q85_SQL),
    "q91_stream_full_outer_join": QuerySpec(
        q91_stream_full_outer_join, Q91_SQL
    ),
}
