"""The parquet read path (sources/tables.py ``read_parquet``): Spark's
inferred schema is memoized per (inference confs, path, file version), so a
warm read of unchanged files runs no schema-inference job, while a
rewritten or grown path, or a changed inference conf, is inferred again.
"""

import contextlib
import os
import re
import sys
import uuid
from collections import OrderedDict
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from samba_spark.sources import tables
from samba_spark.sources.tables import TABLE_NAMES, load_tables, read_parquet

PKG = os.path.join(os.path.dirname(os.path.dirname(__file__)), "samba_spark")


@contextlib.contextmanager
def job_group(spark):
    """Yield a list that, on exit, holds the ids of every Spark job the
    block started in this thread."""
    sc = spark.sparkContext
    gid = f"read_parquet_{uuid.uuid4().hex}"
    sc.setJobGroup(gid, "read_parquet test")
    jobs = []
    try:
        yield jobs
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
        jobs.extend(sc.statusTracker().getJobIdsForGroup(gid))


def _write(path, **cols):
    pq.write_table(pa.table(cols), str(path))


def test_warm_load_tables_runs_no_jobs_and_matches_plain_read(spark, sf_smoke):
    load_tables(spark, sf_smoke)
    with job_group(spark) as jobs:
        warm = load_tables(spark, sf_smoke)
    assert jobs == []
    assert set(warm) == {
        n for n in TABLE_NAMES
        if os.path.exists(os.path.join(sf_smoke, f"{n}.parquet"))
    }
    for name, df in warm.items():
        if name == "events":  # load_tables normalizes events.ts
            continue
        plain = spark.read.parquet(os.path.join(sf_smoke, f"{name}.parquet"))
        assert df.schema == plain.schema, name
        assert df.exceptAll(plain).count() == 0, name
        assert plain.exceptAll(df).count() == 0, name


def test_rewritten_file_gets_new_schema(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    _write(p, a=pa.array([1, 2], pa.int64()), b=pa.array(["x", "y"]))
    assert read_parquet(spark, p).columns == ["a", "b"]
    _write(p, c=pa.array([1.5]), d=pa.array([True]), e=pa.array(["z"]))
    df = read_parquet(spark, p)
    assert df.schema == spark.read.parquet(p).schema
    assert [tuple(r) for r in df.collect()] == [(1.5, True, "z")]


def test_directory_gaining_a_part_file_is_inferred_again(spark, tmp_path):
    d = tmp_path / "dir"
    d.mkdir()
    _write(d / "part-0.parquet", a=pa.array([1], pa.int64()))
    conf = "spark.sql.parquet.mergeSchema"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "true")
    try:
        assert read_parquet(spark, str(d)).columns == ["a"]
        with job_group(spark) as warm_jobs:
            read_parquet(spark, str(d))
        assert warm_jobs == []
        _write(d / "part-1.parquet", a=pa.array([2], pa.int64()),
               b=pa.array(["new"]))
        with job_group(spark) as jobs:
            df = read_parquet(spark, str(d))
        assert jobs, "a grown directory must be inferred again"
        assert sorted(df.columns) == ["a", "b"]
        assert df.count() == 2
    finally:
        spark.conf.set(conf, old)


def test_inference_conf_flip_is_inferred_again(spark, tmp_path):
    from pyspark.sql import types as T

    p = str(tmp_path / "ntz.parquet")
    # no tz: a wall-clock (isAdjustedToUTC=false) timestamp column
    _write(p, ts=pa.array([0], pa.timestamp("us")))
    conf = "spark.sql.parquet.inferTimestampNTZ.enabled"
    old = spark.conf.get(conf)
    try:
        types = []
        for flag in ("true", "false"):
            spark.conf.set(conf, flag)
            types.append(type(read_parquet(spark, p).schema["ts"].dataType))
        assert types == [T.TimestampNTZType, T.TimestampType]
    finally:
        spark.conf.set(conf, old)


def test_memo_stays_within_its_bound(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_schema_memo", OrderedDict())
    monkeypatch.setattr(tables, "SCHEMA_MEMO_MAX", 3)
    paths = []
    for i in range(5):
        p = str(tmp_path / f"t{i}.parquet")
        _write(p, **{f"c{i}": pa.array([i], pa.int64())})
        paths.append(p)
        assert read_parquet(spark, p).columns == [f"c{i}"]
        assert len(tables._schema_memo) <= 3
    # least recently used go first: the last three paths remain
    assert [k[1] for k in tables._schema_memo] == paths[2:]


def test_concurrent_reads_keep_the_memo_consistent(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_schema_memo", OrderedDict())
    monkeypatch.setattr(tables, "SCHEMA_MEMO_MAX", 2)
    paths = []
    for i in range(3):
        p = str(tmp_path / f"c{i}.parquet")
        _write(p, **{f"c{i}": pa.array([i], pa.int64())})
        paths.append(p)

    def reads(worker):
        return [
            (i, read_parquet(spark, paths[i]).columns)
            for i in ((worker + k) % 3 for k in range(6))
        ]

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            results = [f.result(timeout=300) for f in
                       [pool.submit(reads, w) for w in range(8)]]
    finally:
        sys.setswitchinterval(old_interval)
    for res in results:
        assert all(cols == [f"c{i}"] for i, cols in res)
    assert len(tables._schema_memo) <= 2


def test_uri_and_relative_paths_bypass_the_memo(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_schema_memo", OrderedDict())
    p = str(tmp_path / "u.parquet")
    _write(p, a=pa.array([7], pa.int64()))
    assert read_parquet(spark, "file://" + p).collect()[0].a == 7
    monkeypatch.chdir(tmp_path)
    assert tables.file_version("u.parquet") is None
    assert len(tables._schema_memo) == 0


# Modules that still read parquet without a schema or the helper: the
# read path itself and the three persisted stores, whose schemas move
# into one store module later.
_INFERRED_READ_ALLOWLIST = {
    os.path.join("sources", "tables.py"),
    os.path.join("operators", "dedup.py"),
    os.path.join("operators", "indexstore.py"),
    os.path.join("operators", "sessionize.py"),
}
_INFERRED_READ = re.compile(r"\.read\s*\.\s*parquet\s*\(")


def test_no_new_schema_inferring_parquet_reads():
    offenders = []
    for dirpath, _, files in os.walk(PKG):
        for f in files:
            if not f.endswith(".py"):
                continue
            full = os.path.join(dirpath, f)
            rel = os.path.relpath(full, PKG)
            if rel in _INFERRED_READ_ALLOWLIST:
                continue
            with open(full) as fh:
                for i, line in enumerate(fh, 1):
                    if _INFERRED_READ.search(line):
                        offenders.append(f"{rel}:{i}: {line.strip()}")
    assert not offenders, (
        "parquet reads that infer a schema on every call; use "
        "sources.tables.read_parquet or spark.read.schema(...):\n"
        + "\n".join(offenders)
    )
