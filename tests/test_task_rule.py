"""Every stage width the package sets explicitly comes from one rule,
``scanfan.tasks``: a task per core, doubled for Python stages.
(``session.build_session``'s shuffle-partition default is the one width
still chosen elsewhere.)

The structural tests pin that nothing else reads the core count and no
call passes a literal partition count.  The plan tests build three
registry queries at the real width of the test session and at a
simulated 32-core one, and read the widths off their plans."""

import ast
import glob
import io
import os
import re
from contextlib import redirect_stdout

import pytest
from pyspark import SparkContext

SF = "/root/testdata/sf0.001"
PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   "unraveldocs_spark")
SOURCES = sorted(glob.glob(os.path.join(PKG, "*.py")))


def test_only_scanfan_reads_default_parallelism():
    readers = [os.path.basename(p) for p in SOURCES
               if "defaultParallelism" in open(p).read()]
    assert readers == ["scanfan.py"]


# call -> positional index of its partition count
_COUNT_ARG = {"repartition": 0, "coalesce": 0, "repartitionByRange": 0,
              "salted_repartition": 1}
_COUNT_KW = {"parallelism", "num_partitions", "numPartitions"}


def _literal_counts(tree):
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        args = [a for i, a in enumerate(node.args) if i == _COUNT_ARG.get(name)]
        args += [k.value for k in node.keywords if k.arg in _COUNT_KW]
        for a in args:
            if isinstance(a, ast.Constant) and isinstance(a.value, int):
                yield f"{name}:{node.lineno}"


def test_no_literal_partition_counts():
    found = {
        os.path.basename(p): hits
        for p in SOURCES
        if (hits := list(_literal_counts(ast.parse(open(p).read()))))
    }
    assert found == {}


def test_literal_count_scan_sees_each_form():
    src = ("df.repartition(8, 'k')\nsalted_repartition(t, 16)\n"
           "transcripts_spark(spark, 30, parallelism=8)\n"
           "run_extraction(spark, t, num_partitions=4)\n"
           "df.repartition(n)\nsalted_repartition(t)\n")
    assert list(_literal_counts(ast.parse(src))) == [
        "repartition:1", "salted_repartition:2", "transcripts_spark:3",
        "run_extraction:4",
    ]


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _widths(plan: str, kind: str) -> set[int]:
    """Partition counts of every ``kind`` exchange in ``plan``: kind is
    "round_robin", "salted" (the (conv_id, salt) extraction exchange) or
    "conv_idx" (the generator's skeleton exchange)."""
    pattern = {
        "round_robin": r"RoundRobinPartitioning\((\d+)\)",
        "salted": r"hashpartitioning\(conv_id#\d+, pmod\(hash\(turn_idx#\d+, 42\), \d+\), (\d+)\)",
        "conv_idx": r"hashpartitioning\(conv_idx#\d+, (\d+)\)",
    }[kind]
    return {int(w) for w in re.findall(pattern, plan)}


@pytest.fixture
def plans(spark, patch_materialize):
    """Builds the plans of quality_score (a fanned scan), extract_turns
    and extract_synthetic at sf0.001.  fan_out's ``materialize`` barrier
    is identity here: it materializes the round-robin exchange at build
    time, so the plan would show the checkpointed rows instead of the
    width they were spread to."""
    from unraveldocs_spark.entry_queries import q_extract_synthetic, q_extract_turns
    from unraveldocs_spark.trainingdata import q_quality_score

    patch_materialize(lambda df, label: df)

    def build():
        return {q.__name__[2:]: _plan(q(spark, SF)) for q in
                (q_quality_score, q_extract_turns, q_extract_synthetic)}
    return build


def _check(plans, p):
    assert _widths(plans["quality_score"], "round_robin") == {p}
    assert _widths(plans["extract_turns"], "salted") == {2 * p}
    synth = plans["extract_synthetic"]
    # the generator's two exchanges and the salted exchange: Python stages
    assert _widths(synth, "conv_idx") == {2 * p}
    assert _widths(synth, "round_robin") == {2 * p}
    assert _widths(synth, "salted") == {2 * p}


def test_widths_at_session_cores(spark, plans):
    assert spark.sparkContext.defaultParallelism == 4
    _check(plans(), 4)


def test_widths_at_simulated_32_cores(plans, monkeypatch):
    """The rule's one input, the core count, set to 32 on the local[4]
    session: fan-outs plan 32 ways and Python stages 64 ways."""
    monkeypatch.setattr(SparkContext, "defaultParallelism",
                        property(lambda sc: 32))
    _check(plans(), 32)
