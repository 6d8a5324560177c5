"""The registry's physical decisions have one home each in ``scanfan``:
every plan barrier is ``scanfan.materialize`` (the package's one
``localCheckpoint()``), band shapes read table sizes through
``scanfan.rows`` (parquet footers, no Spark job), and every scan hands
Spark a schema inferred once per table version (``scanfan._schema``).

The structural tests pin that no other module checkpoints, no call
counts a fresh scan and no read outside ``_schema`` makes Spark infer a
parquet schema.  The pins record the barriers and the Spark jobs each of
the benchmark's ``operators`` queries takes at sf0.001; the description
test reads the job description a barrier's tasks ran under."""

import ast
import glob
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import TaskContext
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(glob.glob(os.path.join(ROOT, "unraveldocs_spark", "*.py")))
# the package and the programs that drive it; bench.py and
# __spark_entry__.py are harness files and stay out
READERS = SOURCES + sorted(
    glob.glob(os.path.join(ROOT, "tools", "*.py"))
    + glob.glob(os.path.join(ROOT, "jobs", "*.py"))
)


def _call_name(node):
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def _hits(tree):
    """``localCheckpoint:<line>`` for each localCheckpoint call and
    ``scan.count:<line>`` for each ``.count()`` taken directly on a
    ``scan(...)`` call."""
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _call_name(node)
        if name == "localCheckpoint":
            yield f"localCheckpoint:{node.lineno}"
        elif (name == "count" and isinstance(node.func, ast.Attribute)
              and isinstance(node.func.value, ast.Call)
              and _call_name(node.func.value) == "scan"):
            yield f"scan.count:{node.lineno}"


def test_barriers_and_size_probes_live_in_scanfan():
    found = {
        os.path.basename(p): [h.split(":")[0] for h in hits]
        for p in SOURCES
        if (hits := list(_hits(ast.parse(open(p).read()))))
    }
    assert found == {"scanfan.py": ["localCheckpoint"]}


def test_barrier_scan_sees_each_form():
    src = ("df.localCheckpoint()\nscan(spark, d, 't').count()\n"
           "scanfan.scan(spark, d, 't', fan=True).count()\n"
           "df.count()\nscan(spark, d, 't').select('a').count()\n")
    assert list(_hits(ast.parse(src))) == [
        "localCheckpoint:1", "scan.count:2", "scan.count:3",
    ]


def _chain(node):
    """The attribute and call names of a method chain, outermost first:
    ``spark.read.schema(s).parquet(p)`` gives parquet, schema, read."""
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Attribute):
            yield node.attr
            node = node.value
        else:
            node = node.func


def _bare_reads(tree):
    """``<function>:<line>`` for each ``read...parquet(...)`` call with no
    ``.schema(...)`` in its chain: a read that makes Spark infer the
    schema, one job per call."""
    def visit(node, where):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            where = node.name
        if isinstance(node, ast.Call):
            names = list(_chain(node.func))
            if names[:1] == ["parquet"] and "read" in names and "schema" not in names:
                yield f"{where}:{node.lineno}"
        for child in ast.iter_child_nodes(node):
            yield from visit(child, where)

    yield from visit(tree, "<module>")


def test_schema_inference_lives_in_scanfan_schema():
    found = {
        os.path.relpath(p, ROOT): [h.split(":")[0] for h in hits]
        for p in READERS
        if (hits := list(_bare_reads(ast.parse(open(p).read()))))
    }
    assert found == {os.path.join("unraveldocs_spark", "scanfan.py"): ["_schema"]}


def test_bare_read_sees_each_form():
    src = ("spark.read.parquet(p)\n"
           "def f(spark):\n"
           "    df = spark.read.option('k', 1).parquet(p)\n"
           "    spark.read.schema(s).parquet(p)\n"
           "    spark.read.parquet(p).schema\n"
           "    spark.readStream.schema(s).parquet(p)\n"
           "    df.write.parquet(p)\n")
    assert list(_bare_reads(ast.parse(src))) == [
        "<module>:1", "f:3", "f:5",
    ]


def _operators_queries():
    """perfbench's ``operators`` query names, read from its source
    without importing the harness."""
    src = open(os.path.join(ROOT, "perfbench", "workloads.py")).read()
    for node in ast.parse(src).body:
        if (isinstance(node, ast.Assign)
                and [t.id for t in node.targets] == ["QUERIES"]):
            return ast.literal_eval(node.value)
    raise AssertionError("no QUERIES in perfbench/workloads.py")


# the barriers each operators query takes, in order, at sf0.001 on local[4]
# (every table there has one row group, so each fanned scan fans out)
BARRIERS = {
    "knn_join": ["fan_out:embeddings", "hyperplane_units", "hyperplane_signatures"],
    "dedup_paragraph": ["fan_out:documents", "paragraph_keepers", "minhash_signatures"],
    "storage_admission": [],
    "sessionize": [],
    "regional_revenue": [],
    "contamination_check": ["fan_out:documents", "contamination_shingles"],
    "quality_score": ["fan_out:documents"],
}


def test_operators_barriers_pinned(spark, patch_materialize):
    from unraveldocs_spark.queries import REGISTRY
    from unraveldocs_spark.trainingdata import TRAINING_REGISTRY

    seen = []

    def spy(df, label):
        seen.append(label)
        return real(df, label)

    real = patch_materialize(spy)
    registry = {**REGISTRY, **TRAINING_REGISTRY}
    got = {}
    for q in _operators_queries():
        seen.clear()
        registry[q]["builder"](spark, SF)
        got[q] = list(seen)
    assert got == BARRIERS


def _description_in_tasks(spark, label):
    """The job description the barrier's tasks ran under, read back from
    the materialized rows, and the driver's description afterwards."""
    from unraveldocs_spark.scanfan import materialize

    @F.udf("string")
    def description(_):
        return TaskContext.get().getLocalProperty("spark.job.description")

    df = materialize(spark.range(1).select(description("id").alias("d")), label)
    after = spark.sparkContext.getLocalProperty("spark.job.description")
    return df.collect()[0]["d"], after


def test_barrier_job_is_described_and_caller_restored(spark):
    sc = spark.sparkContext
    sc.setJobDescription("measure:knn_join")
    try:
        assert _description_in_tasks(spark, "probe") == (
            "measure:knn_join materialize:probe", "measure:knn_join")
    finally:
        sc.setJobDescription(None)
    assert _description_in_tasks(spark, "probe") == ("materialize:probe", None)


def test_rows_reads_footers_exactly(spark, tmp_path):
    from unraveldocs_spark.scanfan import rows, scan

    for t in ("documents", "embeddings"):
        assert rows(SF, t) == scan(spark, SF, t).count()
    # a directory of files, rewritten in place: the footers are re-read
    path = tmp_path / "t.parquet"
    path.mkdir()
    for i, n in enumerate((3, 4)):
        pq.write_table(pa.table({"a": list(range(n))}), path / f"part-{i}.parquet",
                       row_group_size=2)
    assert rows(str(tmp_path), "t") == 7
    pq.write_table(pa.table({"a": list(range(10))}), path / "part-0.parquet")
    assert rows(str(tmp_path), "t") == 14 == scan(spark, str(tmp_path), "t").count()
    # a footer Spark could not read either: no row count, not a guess
    (path / "part-9.parquet").write_bytes(b"not parquet")
    with pytest.raises(ValueError, match="unreadable parquet footer"):
        rows(str(tmp_path), "t")


def test_column_max_reads_footer_statistics(spark, tmp_path):
    from unraveldocs_spark.scanfan import column_max, scan

    def spark_max(sf, t, c):
        return scan(spark, sf, t).agg(F.max(c)).collect()[0][0]

    assert column_max(SF, "documents", "doc_id") == spark_max(SF, "documents", "doc_id")
    path = tmp_path / "t.parquet"
    path.mkdir()
    for i, vals in enumerate(([5, 1, 3], [2, 9])):
        pq.write_table(pa.table({"a": vals}), path / f"part-{i}.parquet",
                       row_group_size=2)
    assert column_max(str(tmp_path), "t", "a") == 9
    # rewritten in place: the footer statistics are re-read
    pq.write_table(pa.table({"a": [40, 7]}), path / "part-0.parquet")
    assert column_max(str(tmp_path), "t", "a") == 40 == spark_max(str(tmp_path), "t", "a")
    # a file written without statistics: no maximum, not a guess
    pq.write_table(pa.table({"a": [1]}), path / "part-2.parquet",
                   write_statistics=False)
    with pytest.raises(ValueError, match="no max statistic"):
        column_max(str(tmp_path), "t", "a")


def _jobs(spark, fn):
    """The number of Spark jobs ``fn()`` submits, counted under a job
    group of its own once the listener bus has caught up."""
    sc = spark.sparkContext
    group = f"jobs-probe-{uuid.uuid4().hex}"
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_scan_runs_no_job(spark):
    from tools.check_correctness import TABLES
    from unraveldocs_spark.scanfan import scan

    for t in TABLES:
        scan(spark, SF, t)
        assert _jobs(spark, lambda: scan(spark, SF, t)) == 0, t
        assert scan(spark, SF, t).schema == (
            spark.read.parquet(f"{SF}/{t}.parquet").schema), t
    # the probe counts what it should: an inferring read is one job
    assert _jobs(spark, lambda: spark.read.parquet(f"{SF}/region.parquet")) == 1


def test_scan_sees_a_table_rewritten_in_place(spark, tmp_path):
    from unraveldocs_spark.scanfan import scan

    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert scan(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df = scan(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(1, "x"), (2, "y")]


# the Spark jobs a warm build (not the collect) of each operators query
# submits at sf0.001 on local[4]: the jobs of its barriers and of its
# query-code actions, and no schema inference (one job per scan when
# every scan inferred: 30 jobs over the seven, against 16 here)
BUILD_JOBS = {
    "knn_join": 4,
    "dedup_paragraph": 7,
    "storage_admission": 0,
    "sessionize": 0,
    "regional_revenue": 0,
    "contamination_check": 3,
    "quality_score": 2,
}


def test_operators_warm_build_jobs_pinned(spark):
    from unraveldocs_spark.queries import REGISTRY
    from unraveldocs_spark.trainingdata import TRAINING_REGISTRY

    registry = {**REGISTRY, **TRAINING_REGISTRY}
    got = {}
    for q in _operators_queries():
        build = registry[q]["builder"]
        build(spark, SF)
        got[q] = _jobs(spark, lambda: build(spark, SF))
    assert got == BUILD_JOBS
