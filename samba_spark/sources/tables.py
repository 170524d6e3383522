"""Fixture-table loading (TESTDATA.md) and the engine's parquet read path.

At 100 TB these reads hit a real warehouse; the contract stays the same —
``spark.read.parquet`` gives Catalyst the vectorized scan with predicate
pushdown and column pruning for free.

Parquet reads in the package go through :func:`read_parquet` (a guard
test keeps it so; the three persisted stores ``dedup``/``indexstore``/
``sessionize`` still read directly). A read without a schema makes Spark
run a job that reads parquet footers to infer one (~120 ms wall for one
small file, ``local[4]`` on 4 vCPUs); a read with a schema runs none.
``read_parquet`` keeps a small bounded LRU memo of Spark's own inferred
``df.schema``, keyed on the parquet-inference confs, the absolute path and
the file version (every file's relative path, size, mtime and inode), so a
path whose files are unchanged is inferred once per process and a rewritten
or grown path is inferred again.

The memo is bypassed, and Spark infers as before, for:

* URI paths (``hdfs://``, ``s3a://``, ``file:``): their files cannot be
  versioned with ``os.stat``;
* relative paths, globs and paths that do not exist locally;
* callers that pass reader options (``spark.read.option(...).parquet``),
  which do not come through here at all.

Datasets the engine wrote itself are read with the schema it wrote
(``spark.read.schema(...)``), which never infers.
"""

from __future__ import annotations

import os

import functools
import glob as _glob
import threading
from collections import OrderedDict
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# Session confs that change what Spark infers from the same footers (the
# last two only for partitioned directories, whose key=value columns are
# typed by inference too).
_INFER_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType",
)
SCHEMA_MEMO_MAX = 256
_schema_memo: OrderedDict = OrderedDict()
_schema_memo_lock = threading.Lock()


def file_version(path: str) -> tuple | None:
    """The sorted ``(relpath, size, mtime_ns, inode)`` of every file under
    a local absolute ``path`` (a file or a directory tree), or None when
    the path cannot be versioned: a URI, a relative path (Spark resolves
    it against the JVM's working directory, not Python's) or a path that
    does not exist. A stat-based version misses only a same-size rewrite
    in place within one filesystem timestamp tick."""
    if urlparse(path).scheme or not os.path.isabs(path):
        return None
    try:
        if not os.path.isdir(path):
            st = os.stat(path)
            return (("", st.st_size, st.st_mtime_ns, st.st_ino),)
        out = []
        for dirpath, _, files in os.walk(path):
            for f in files:
                full = os.path.join(dirpath, f)
                st = os.stat(full)
                out.append(
                    (
                        os.path.relpath(full, path),
                        st.st_size,
                        st.st_mtime_ns,
                        st.st_ino,
                    )
                )
    except FileNotFoundError:  # missing, or a file removed mid-walk
        return None
    return tuple(sorted(out))


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """``spark.read.parquet(path)`` without the schema-inference job when
    it can be skipped: with ``schema`` the read uses it as is; otherwise
    Spark's inferred schema for an unchanged local path is taken from the
    memo (see the module docstring for when the memo is bypassed)."""
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    version = file_version(path)
    if version is None:
        return spark.read.parquet(path)
    confs = tuple(spark.conf.get(k) for k in _INFER_CONFS)
    key = (confs, os.path.normpath(path), version)
    with _schema_memo_lock:
        hit = _schema_memo.get(key)
        if hit is not None:
            _schema_memo.move_to_end(key)
    if hit is not None:
        return spark.read.schema(hit).parquet(path)
    df = spark.read.parquet(path)
    with _schema_memo_lock:
        _schema_memo[key] = df.schema
        while len(_schema_memo) > SCHEMA_MEMO_MAX:
            _schema_memo.popitem(last=False)
    return df


# The fixture generator has shipped events.ts under two physical layouts:
# TIMESTAMP(NANOS) (round 1) and TIMESTAMP(MICROS) (round 2). Spark's
# vectorized reader rejects NANOS unless either (a)
# spark.sql.legacy.parquet.nanosAsLong is set, or (b) an explicit LongType
# schema is supplied for the column; MICROS reads natively as TimestampType.
# The driver runs queries in its OWN session without the legacy conf, so the
# portable read is: sniff the parquet footer once (pyarrow, driver-side,
# O(footer) not O(data)) and pick the matching read path.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # epoch-nanos as INT64
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_ts_is_nanos(path: str) -> bool:
    """True iff the ``ts`` column at ``path`` needs the LongType+div-1000
    read (TIMESTAMP(NANOS), or already-raw INT64 nanos). ``path`` may be a
    single parquet file or a directory of part files. The sniff is cached
    on the path's file version, so a file rewritten in another layout is
    sniffed again."""
    version = file_version(path)
    if version is None:
        return _sniff_ts_is_nanos(path)
    return _sniff_ts_is_nanos_cached(os.path.normpath(path), version)


def _sniff_ts_is_nanos(path: str) -> bool:
    import pyarrow.dataset as ds

    typ = str(ds.dataset(path, format="parquet").schema.field("ts").type)
    return typ in ("timestamp[ns]", "int64")


@functools.lru_cache(maxsize=64)
def _sniff_ts_is_nanos_cached(path: str, version: tuple) -> bool:
    return _sniff_ts_is_nanos(path)


def resolve_events_file(path: str, path_glob: str | None = None) -> str:
    """A concrete parquet file/dir to sniff: ``path`` joined with the first
    ``path_glob`` match when a glob is given (streaming sources take a
    directory + glob)."""
    if path_glob is None:
        return path
    matches = sorted(_glob.glob(os.path.join(path, path_glob)))
    return matches[0] if matches else path


TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    out = {}
    for name in names or TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            if name == "events" and events_ts_is_nanos(path):
                # Explicit LongType schema for the nanos column — works in
                # ANY session, legacy conf or not. `div` (integer) keeps the
                # nanos→micros truncation exact past 2^53.
                from pyspark.sql import functions as F

                df = read_parquet(spark, path, EVENTS_RAW_SCHEMA)
                df = df.withColumn(
                    "ts", F.timestamp_micros(F.expr("ts div 1000"))
                )
            else:
                df = read_parquet(spark, path)
                if name == "events" and isinstance(
                    df.schema["ts"].dataType, T.TimestampNTZType
                ):
                    # MICROS files infer as TIMESTAMP_NTZ under Spark 4's
                    # default inferTimestampNTZ; every downstream time op
                    # (unix_micros, watermarks, window()) is written against
                    # TIMESTAMP, so pin the session-tz-aware type here. The
                    # wall-clock is UTC-generated and sessions run with
                    # timeZone=UTC, so the instant is unchanged.
                    from pyspark.sql import functions as F

                    df = df.withColumn("ts", F.col("ts").cast("timestamp"))
            out[name] = df
    return out


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
