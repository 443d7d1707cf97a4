"""io.load_table resolves each table once per session and reads a
large one-row-group file through a split copy (hearthstats_spark/io.py
module docstring): later reads run no Spark job, the copy holds the
source's rows and schema in one equal file per core, a rewritten
source is never served stale, and small files are read in place.
``ann_index.persisted`` reads its artifacts back through the same
once-per-session resolution. ``io.local_frame`` builds driver-side
rows as a local relation equal to ``spark.createDataFrame``'s frame,
and is the engine's only ``createDataFrame`` call."""

from __future__ import annotations

import ast
import hashlib
import os
import shutil
import time
from datetime import datetime
from urllib.parse import urlparse

import pyarrow.compute as pc
import pyarrow.parquet as pq

from tests.conftest import SF_SMALL, jobs_of

SF_LARGE = os.path.join(os.path.dirname(SF_SMALL), "sf0.1")


def _local_files(df) -> list[str]:
    return [urlparse(f).path for f in df.inputFiles()]


def _copy_dir(df) -> str:
    """The one directory every input file of ``df`` lies in."""
    [d] = {os.path.dirname(f) for f in _local_files(df)}
    return d


def _open_cost(spark) -> int:
    return spark._jsparkSession.sessionState().conf().filesOpenCostInBytes()


def test_second_load_runs_no_spark_job(spark):
    """The first load in a session infers the schema with a Spark
    job; every later load of the same table reads with the remembered
    schema and submits none."""
    from hearthstats_spark.io import load_table

    session = spark.newSession()  # nothing resolved in it yet
    for name in ("lineitem", "events"):
        first = jobs_of(session, lambda: load_table(session, SF_SMALL, name))
        assert first, f"{name}: first load should infer with a job"
        frames = []
        again = jobs_of(session, lambda: frames.append(
            load_table(session, SF_SMALL, name)))
        assert again == [], f"{name}: second load ran jobs {again}"
        # a new relation per call: same schema, and events.ts still
        # normalized to a plain timestamp
        assert frames[0].schema == load_table(session, SF_SMALL, name).schema
        if name == "events":
            assert dict(frames[0].dtypes)["ts"] == "timestamp"


def test_second_persisted_read_runs_no_spark_job(spark, cache_dir):
    """A committed artifact's first read-back in a session infers its
    schema with a Spark job; a second ``persisted`` read of it
    submits none and returns the same schema and rows."""
    from hearthstats_spark.operators.ann_index import persisted

    session = spark.newSession()  # nothing resolved in it yet

    def build():
        return session.range(5).selectExpr("id", "id * 2 AS twice")

    frames = []
    first = jobs_of(session, lambda: frames.append(
        persisted(session, SF_SMALL, "io_probe", build)))
    assert first, "first persisted call should build and infer with jobs"
    again = jobs_of(session, lambda: frames.append(
        persisted(session, SF_SMALL, "io_probe", build)))
    assert again == [], f"second persisted read ran jobs {again}"
    assert frames[0].schema == frames[1].schema
    assert sorted(frames[1].collect()) == sorted(build().collect())


def test_large_file_split_copy_matches_source(spark, cache_dir):
    """sf0.1 lineitem is one row group above openCostInBytes: it is
    read from a copy of defaultParallelism one-row-group files in a
    ``lineitem.parquet`` directory, with the same Spark schema and the
    same canonical rows, whose scan gives every core an equal share."""
    from pyspark.sql import functions as F

    from hearthstats_spark.io import load_table
    from hearthstats_spark.oracle import canon_rows

    src = os.path.join(SF_LARGE, "lineitem.parquet")
    assert os.path.getsize(src) > _open_cost(spark)
    assert pq.ParquetFile(src).metadata.num_row_groups == 1

    df = load_table(spark, SF_LARGE, "lineitem")
    copy = _copy_dir(df)
    assert copy.startswith(cache_dir + os.sep)
    assert os.path.basename(copy) == "lineitem.parquet"  # plans name the table
    cores = spark.sparkContext.defaultParallelism
    files = _local_files(df)
    assert len(files) == cores
    assert all(pq.ParquetFile(f).metadata.num_row_groups == 1 for f in files)

    orig = spark.read.parquet(src)
    assert df.schema == orig.schema

    def digest(frame):
        # canonical rows per l_orderkey band hold a quarter of the
        # table in Python at a time; equal bands = equal multisets
        h = hashlib.sha256()
        for band in range(4):
            pdf = frame.filter(F.col("l_orderkey") % 4 == band).toPandas()
            h.update(repr(canon_rows(pdf)).encode())
        return h.hexdigest()

    assert digest(df) == digest(orig)

    scans = jobs_of(spark, lambda: df.agg(F.sum("l_quantity")).collect())
    assert max(tasks for _, tasks in scans) > 1, scans

    # every scan partition reads rows / cores rows, give or take one
    rows = pq.ParquetFile(src).metadata.num_rows
    sizes = [r["count"] for r in
             df.groupBy(F.spark_partition_id()).count().collect()]
    assert len(sizes) == cores, sizes
    assert all(abs(n - rows / cores) <= 1 for n in sizes), sizes


def test_rewritten_source_is_never_served_stale(spark, cache_dir, tmp_path):
    """Rewriting a source file gives it a new fingerprint: the next
    load infers the new schema and builds a new copy, so it returns
    the new rows and columns."""
    from pyspark.sql import functions as F

    from hearthstats_spark.io import load_table

    sf = tmp_path / "sf"
    sf.mkdir()
    dst = str(sf / "lineitem.parquet")
    shutil.copyfile(os.path.join(SF_LARGE, "lineitem.parquet"), dst)
    before = load_table(spark, str(sf), "lineitem")
    assert before.count() == 600_000
    copy_before = _copy_dir(before)

    # different rows and a different schema, still one row group
    # large enough to split
    new = pq.read_table(dst).slice(0, 400_000).drop_columns(["l_tax"])
    os.remove(dst)
    pq.write_table(new, dst, row_group_size=new.num_rows)
    assert os.path.getsize(dst) > _open_cost(spark)

    after = load_table(spark, str(sf), "lineitem")
    copy_after = _copy_dir(after)
    assert copy_after != copy_before
    assert after.columns == new.column_names
    [row] = after.agg(F.count(F.lit(1)).alias("n"),
                      F.sum("l_orderkey").alias("s")).collect()
    assert (row["n"], row["s"]) == (
        400_000, pc.sum(new.column("l_orderkey")).as_py())


def test_small_files_are_read_in_place(spark, cache_dir):
    """Every sf0.001 file is below openCostInBytes, so Spark would
    not split it whatever its row groups: each table reads its source
    file directly and nothing is written to the artifact store."""
    from hearthstats_spark.io import TABLES, load_table

    for name in TABLES:
        src = os.path.join(SF_SMALL, f"{name}.parquet")
        assert os.path.getsize(src) <= _open_cost(spark)
        assert _local_files(load_table(spark, SF_SMALL, name)) == [src], name
    assert not os.path.exists(cache_dir) or not os.listdir(cache_dir)


_LOCAL_DDL = ("a long, b int, c double, d string, e boolean, "
              "f timestamp")


def test_local_frame_matches_create_dataframe(spark, monkeypatch):
    """Under a non-UTC process timezone (naive datetimes are
    Python-local time on the list path, DST gap and fold included),
    ``local_frame`` returns the schema and values of
    ``spark.createDataFrame(rows, schema)`` for every column kind, a
    null row and an empty row list, as a LocalRelation whose
    ``collect()`` submits no Spark job."""
    from hearthstats_spark.io import local_frame

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    try:
        rows = [
            (1, 2, 3.5, "x", True, datetime(2024, 7, 1, 12, 0, 0, 5)),
            (-(2 ** 62), -7, -0.25, "", False, datetime(2024, 3, 10, 2, 30)),
            (3, 0, 1e300, "é", True, datetime(2024, 11, 3, 1, 30)),
            (4, 1, 0.0, "y", False, datetime(1969, 12, 31, 23, 59, 59, 9)),
            (None, None, None, None, None, None),
        ]
        for data in (rows, []):
            want = spark.createDataFrame(data, _LOCAL_DDL)
            got = local_frame(spark, data, _LOCAL_DDL)
            assert got.schema == want.schema
            micros = "unix_micros(f) AS f_us"
            assert (got.selectExpr("*", micros).collect()
                    == want.selectExpr("*", micros).collect())
            plan = got._jdf.queryExecution().optimizedPlan().toString()
            assert plan.startswith("LocalRelation"), plan
            assert jobs_of(spark, got.collect) == []
        # a StructType schema, as a collected frame's schema is passed
        frame = spark.createDataFrame(rows, _LOCAL_DDL)
        again = local_frame(spark, frame.collect(), frame.schema)
        assert again.collect() == frame.collect()
    finally:
        monkeypatch.undo()
        time.tzset()


def test_only_local_frame_calls_create_dataframe():
    """Driver-side rows take one path: ``createDataFrame`` is called in
    ``hearthstats_spark/`` only inside ``io.local_frame`` (a list
    passed to it is re-pickled through a Python-worker job)."""
    import hearthstats_spark

    root = os.path.dirname(hearthstats_spark.__file__)
    calls = []

    class Calls(ast.NodeVisitor):
        def __init__(self, rel: str):
            self.rel, self.scope = rel, ["<module>"]

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            if (isinstance(node.func, ast.Attribute)
                    and node.func.attr == "createDataFrame"):
                calls.append((self.rel, self.scope[-1], node.lineno))
            self.generic_visit(node)

    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path) as fh:
                    tree = ast.parse(fh.read(), path)
                Calls(os.path.relpath(path, root)).visit(tree)
    assert [(rel, scope) for rel, scope, _ in calls] == [
        ("io.py", "local_frame")], calls
