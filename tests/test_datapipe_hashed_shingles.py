"""The xxhash64(shingle) production path (the DEFAULT) must be a pure
representation swap: identical survivors, doc-frequencies, and
shared-ngram counts to the string form on the fixtures (VERDICT round 5
item 4 / round 7 item 4).  The string form (``hash_shingles=False``) is
what the cross-engine DuckDB oracle restates; the hashed form is what a
100 TB run ships, cutting the shingle shuffle to 8-byte keys."""

from __future__ import annotations

from open_source_etl_spark.operators.datapipe_queries import (
    datapipe_boilerplate_prune,
    datapipe_contamination_ngram,
)

SF = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_boilerplate_prune_hashed_matches_string(spark):
    string = _rows(datapipe_boilerplate_prune(spark, SF, hash_shingles=False))
    hashed = _rows(datapipe_boilerplate_prune(spark, SF, hash_shingles=True))
    assert hashed == string
    # the fixture actually exercises both branches of the keep decision
    keeps = {r[3] for r in string}
    assert keeps == {True, False}


def test_contamination_ngram_hashed_matches_string(spark):
    string = _rows(datapipe_contamination_ngram(spark, SF, hash_shingles=False))
    hashed = _rows(datapipe_contamination_ngram(spark, SF, hash_shingles=True))
    assert hashed == string
    assert string, "fixture must produce contaminated docs"


def test_hashed_shingle_plan_carries_no_strings(spark):
    """The hashed plan's exchanges must not carry the text column: after
    the shingle projection, every shuffled key is the bigint hash.
    boilerplate_prune's projection moved into an Arrow kernel in round
    15 (the interpreted transform() lambda never reached codegen), so
    its guard is the MapInPandas node emitting a bigint hash column —
    no string shingle survives past the kernel.  contamination_ngram
    still hashes in the JVM (xxhash64)."""
    df = datapipe_boilerplate_prune(spark, SF, hash_shingles=True)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "pythonUDF" in plan or "MapInPandas" in plan
    # the shingle column leaving the kernel (and every downstream
    # aggregate/join key) is the 64-bit hash, not a string
    assert "s#" in plan and "substring" not in plan.lower()
    df2 = datapipe_contamination_ngram(spark, SF, hash_shingles=True)
    plan2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan2


def test_boilerplate_prune_hashed_matches_string_on_edge_rows(spark, tmp_path):
    """The Arrow kernel accepts what the string form accepts: null text
    or null ``n_chars`` yields no shingle, empty and short texts keep
    trivially, and non-ASCII texts (the per-char UTF-8 fallback) count
    the same shingles as ``substring``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    header = "shared boilerplate header, "
    texts = [header + f"ascii body number {i}" for i in range(4)]
    texts += [header + "ñandú café 日本語テキスト", header + "emoji 🚀 and ünïcödé ✓"]
    texts += ["ñandú café 日本語テキスト and ünïcödé", None, "", "tiny", "has text, null n_chars"]
    n_chars = [None if t is None else len(t) for t in texts]
    n_chars[-1] = None
    sf = tmp_path / "sf"
    sf.mkdir()
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(texts)), pa.int64()),
                "text": pa.array(texts, pa.string()),
                "n_chars": pa.array(n_chars, pa.int64()),
            }
        ),
        sf / "documents.parquet",
    )
    string = _rows(datapipe_boilerplate_prune(spark, str(sf), hash_shingles=False))
    hashed = _rows(datapipe_boilerplate_prune(spark, str(sf), hash_shingles=True))
    assert hashed == string
    by_id = {r[0]: r for r in string}
    assert by_id[4][2] > 0 and by_id[5][2] > 0  # non-ASCII docs share the header
    for doc in (7, 8, 9, 10):  # null, empty, short, null n_chars
        assert by_id[doc][1:] == (0, 0, True)
