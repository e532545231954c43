"""``word_kgrams`` / ``word_windows`` must restate the interpreted
``transform(sequence(...))`` word-gram lambda exactly — same strings, same
order — on the inputs the text queries see (null, empty, one word,
repeated spaces, non-ASCII), while keeping every step out of the
lambda interpreter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from open_source_etl_spark.functions.kgrams import word_kgrams, word_windows

TEXTS = [
    None,
    "",
    "one",
    "two words",
    "three small words",
    "a  b   c ",
    " leading and trailing ",
    "héllo wörld ñandú 日本 語 テキスト",
    "the cat the cat the cat",
]


@pytest.fixture(scope="module")
def words(spark):
    rows = [(i, t) for i, t in enumerate(TEXTS)]
    docs = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    return docs.select("doc_id", F.split("text", " ").alias("w"))


def _lambda_grams(words, k):
    """The replaced form: index lambda over sequence(), guarded so that
    sequence() never runs descending on arrays shorter than k."""
    grams = F.when(
        F.size("w") >= k,
        F.expr(f"transform(sequence(0, size(w) - {k}), i -> concat_ws(' ', slice(w, i + 1, {k})))"),
    ).otherwise(F.array().cast("array<string>"))
    return {r.doc_id: list(r.g or []) for r in words.select("doc_id", grams.alias("g")).collect()}


@pytest.mark.parametrize("k", [2, 3])
def test_word_kgrams_match_lambda(words, k):
    expected = _lambda_grams(words, k)
    got: dict = {i: [] for i in expected}
    for r in word_kgrams(words, "w", k).collect():
        got[r.doc_id].append(r.g)
    assert got == expected
    # the fixture exercises every edge: no grams, one gram, many grams
    assert {len(v) for v in expected.values()} >= {0, 1}
    assert max(len(v) for v in expected.values()) > 2


@pytest.mark.parametrize("k", [2, 3])
def test_word_windows_match_lambda(words, k):
    expected = _lambda_grams(words, k)
    win = word_windows("w", k)
    rows = words.select(
        "doc_id", win.alias("win"), win.cast("array<string>").alias("keys")
    ).collect()
    got = {
        r.doc_id: [" ".join(t[str(i)] for i in range(k)) for t in (r.win or [])]
        for r in rows
    }
    assert got == expected
    # the string-cast windows (dedup_ngram_jaccard's shingle keys) name
    # the same distinct shingles as the joined k-grams
    for r in rows:
        keys = r["keys"] or []
        assert len(keys) == len(expected[r.doc_id])
        assert len(set(keys)) == len(set(expected[r.doc_id]))


def test_word_kgrams_plan_has_no_lambda(words):
    plan = word_kgrams(words, "w", 2)._jdf.queryExecution().optimizedPlan().toString()
    assert "arrays_zip" in plan
    assert "lambda" not in plan.lower() and "transform(" not in plan
