"""The Arrow row boundary every Python stage goes through
(``schemas.map_rows`` / ``schemas.map_batches``): values reach the row
function as plain Python objects and leave typed by the declared schema."""

import datetime as dt

import numpy as np

from unraveldocs_spark.schemas import map_batches, map_rows

BIG = 2**55 + 3  # past float64's 53-bit mantissa


def test_bigint_above_2_53_is_exact(spark):
    df = spark.createDataFrame([(1, BIG), (2, -BIG)], "k int, v bigint")

    def run(k, v):
        assert type(v) is int
        yield k, v, v + 1

    out = map_rows(df, run, "k int, v bigint, w bigint").orderBy("k").collect()
    assert [(r.v, r.w) for r in out] == [(BIG, BIG + 1), (-BIG, -BIG + 1)]
    # an md5-56 digest computed inside the stage keeps its low bits too
    dg = map_rows(
        df.limit(1), lambda k, v: iter([(BIG - 2,)]), "dg bigint"
    ).collect()
    assert dg[0].dg == BIG - 2


def test_nulls_pass_through_in_and_out(spark):
    df = spark.createDataFrame(
        [(1, None, None, None), (2, "a", 7, 1.5)],
        "k int, s string, n bigint, x double",
    )

    def run(k, s, n, x):
        yield k, s, n, x, None if s is None else s.upper()

    out = map_rows(
        df, run, "k int, s string, n bigint, x double, u string"
    ).orderBy("k").collect()
    assert [tuple(r) for r in out] == [
        (1, None, None, None, None),
        (2, "a", 7, 1.5, "A"),
    ]


def test_row_yields_zero_or_two_rows(spark):
    df = spark.range(6).selectExpr("CAST(id AS INT) AS k")

    def run(k):
        if k % 2:
            yield k, "a"
            yield k, "b"

    out = sorted(tuple(r) for r in map_rows(df, run, "k int, tag string").collect())
    assert out == [(k, t) for k in (1, 3, 5) for t in ("a", "b")]
    none = map_rows(df, lambda k: iter(()), "k int, tag string")
    assert none.collect() == []


def test_empty_input_keeps_declared_schema(spark):
    from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

    def echo(*row):
        yield row

    df = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    out = map_rows(df, echo, TRANSCRIPTS_SCHEMA)
    assert out.collect() == []
    assert out.schema == TRANSCRIPTS_SCHEMA
    empty = map_rows(df.filter("turn_idx < 0"), echo, TRANSCRIPTS_SCHEMA)
    assert empty.count() == 0


def test_timestamp_passes_through_unchanged(spark):
    from unraveldocs_spark.extract import extract_stage
    from unraveldocs_spark.schemas import TRANSCRIPTS_SCHEMA

    ts = [dt.datetime(2026, 1, 1, 0, 0, 0), dt.datetime(2026, 3, 9, 12, 30, 45, 123456)]
    rows = [(f"c{i}", i, "user", "hello world", None, t) for i, t in enumerate(ts)]
    df = spark.createDataFrame(rows, TRANSCRIPTS_SCHEMA)
    echoed = map_rows(df, lambda *row: iter([row]), TRANSCRIPTS_SCHEMA).orderBy("turn_idx").collect()
    assert [r.ts for r in echoed] == ts
    # the streaming_windows path: event time rides through extraction
    carried = extract_stage(df, carry_ts=True).orderBy("turn_idx").collect()
    assert [r.ts for r in carried] == ts


def test_map_batches_casts_to_declared_types(spark):
    df = spark.range(5).selectExpr("id AS k", "CAST(id AS DOUBLE) AS x")

    def run(batch):
        x = np.asarray(batch.column("x"))
        # int64 numpy output lands in an int column, float64 in a double
        return batch.column("k"), (x * 2).astype(np.int64), x / 4

    out = map_batches(df, run, "k long, twice int, quarter double")
    assert out.schema.simpleString() == "struct<k:bigint,twice:int,quarter:double>"
    assert sorted(tuple(r) for r in out.collect()) == [
        (k, 2 * k, k / 4) for k in range(5)
    ]
