"""The registry's physical decisions have one home each in ``scanfan``:
every plan barrier is ``scanfan.materialize`` (the package's one
``localCheckpoint()``), and band shapes read table sizes through
``scanfan.rows`` (parquet footers, no Spark job).

The structural tests pin that no other module checkpoints and no call
counts a fresh scan.  The pin records the barriers each of the
benchmark's ``operators`` queries takes at sf0.001; the description test
reads the job description a barrier's tasks ran under."""

import ast
import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark import TaskContext
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SOURCES = sorted(glob.glob(os.path.join(ROOT, "unraveldocs_spark", "*.py")))


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
