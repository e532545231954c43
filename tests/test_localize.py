"""``localize`` hands back a JVM-side ``LocalRelation`` — the rows never
round-trip through a Python RDD — that equals ``collect()`` row for row,
type for type and null for null, and it removes its workdirs."""

from __future__ import annotations

import datetime as dt
import decimal

from open_source_etl_spark.operators._localize import localize

SCHEMA = (
    "id long, name string, price double, qty int, amount decimal(18,4), "
    "ts timestamp, day date, flag boolean, tags array<string>, "
    "attrs map<string,int>, pt struct<x:double,y:double>"
)
ROWS = [
    (
        1, "ásció", 1.5, 3, decimal.Decimal("12.3456"),
        dt.datetime(2024, 1, 2, 3, 4, 5, 6), dt.date(2024, 1, 2), True,
        ["a", None, "日本"], {"k": 1}, (1.0, -2.0),
    ),
    (2, None, None, None, None, None, None, None, None, None, None),
    (3, "", float("nan"), -7, decimal.Decimal("0"), None, None, False, [], {}, (None, 0.0)),
]


def _plan_root(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def test_localize_is_local_relation_equal_to_collect(spark, tmp_path):
    src = spark.createDataFrame(ROWS, SCHEMA).orderBy("id")
    workdir = tmp_path / "stage"
    workdir.mkdir()
    (workdir / "part-0").write_text("x")

    out = localize(src, str(workdir))

    assert _plan_root(out) == "LocalRelation"
    assert not workdir.exists()
    assert out.schema == src.schema
    got, want = out.collect(), src.collect()
    assert [r.id for r in got] == [1, 2, 3]  # row order preserved
    for g, w in zip(got, want):
        for f in src.schema.fieldNames():
            a, b = g[f], w[f]
            if isinstance(b, float) and b != b:
                assert isinstance(a, float) and a != a
            else:
                assert a == b and type(a) is type(b), f
