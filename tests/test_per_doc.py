"""The per-document adapter (``functions.per_doc``): zero, one and many
output rows per document, extra input columns, and the make→walk
composition every media query is built on."""

from __future__ import annotations

from pyspark.sql.types import BinaryType, LongType, StringType

from open_source_etl_spark.functions.per_doc import (
    Decoder,
    per_doc,
    synth_decode,
    synthesize,
)


def test_walker_with_no_rows_keeps_schema_and_types(spark):
    """A batch whose walker returns no rows — ``walk_frames`` on payloads
    under 100 bytes, as ``multimodal_frame_sample`` sees them — yields an
    empty frame with the declared schema, and a mixed batch keeps only
    the rows that exist."""
    from open_source_etl_spark.multimodal.decode import FRAME_SCHEMA, walk_frames

    short = spark.createDataFrame(
        [(1, b"x" * 10), (2, b""), (3, b"y" * 99)], "doc_id long, payload binary"
    )
    out = per_doc(short, walk_frames, FRAME_SCHEMA)
    assert out.collect() == []
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        ("doc_id", LongType()),
        ("frame_idx", LongType()),
        ("frame_sha", StringType()),
    ]

    mixed = spark.createDataFrame(
        [(1, b"x" * 10), (2, bytes(range(200)))], "doc_id long, payload binary"
    ).coalesce(1)
    rows = per_doc(mixed, walk_frames, FRAME_SCHEMA).collect()
    assert [(r.doc_id, r.frame_idx) for r in rows] == [(2, 0)]
    assert isinstance(rows[0].frame_sha, str) and len(rows[0].frame_sha) == 64


def test_one_doc_expands_to_many_rows(spark):
    docs = spark.createDataFrame([(d,) for d in range(5)], "doc_id long").coalesce(1)
    out = per_doc(
        docs,
        lambda d: [(k, d * 10 + k) for k in range(d)],
        "doc_id long, k int, v long",
    )
    rows = sorted((r.doc_id, r.k, r.v) for r in out.collect())
    assert rows == [(d, k, d * 10 + k) for d in range(5) for k in range(d)]


def test_extra_input_columns_reach_the_walker(spark):
    """The ingest shape: ``doc_id, text`` in, ``fn(doc_id, text)`` per
    row, nulls passed through as ``None``."""
    docs = spark.createDataFrame(
        [(1, "ab"), (2, None), (3, "héllo")], "doc_id long, text string"
    )
    out = per_doc(
        docs,
        lambda d, t: [(t is None, len(t or ""), (t or "").upper())],
        "doc_id long, is_null boolean, n int, up string",
    )
    got = {r.doc_id: (r.is_null, r.n, r.up) for r in out.collect()}
    assert got == {1: (False, 2, "AB"), 2: (True, 0, ""), 3: (False, 5, "HÉLLO")}


def test_synth_decode_equals_decode_of_synthesized_payloads(spark):
    """The one-stage composition returns exactly what the two-stage
    synthesize-then-decode form returns."""
    from open_source_etl_spark.multimodal.decode import decode_wav_real
    from open_source_etl_spark.multimodal.synth import make_wav_bytes

    docs = spark.createDataFrame([(d,) for d in (0, 3, 7, 99)], "doc_id long")
    payloads = synthesize(docs, make_wav_bytes)
    assert payloads.schema["payload"].dataType == BinaryType()
    assert payloads.columns == ["doc_id", "payload"]
    fused = synth_decode(docs, make_wav_bytes, decode_wav_real)
    assert isinstance(decode_wav_real, Decoder)
    assert sorted(fused.collect()) == sorted(decode_wav_real(payloads).collect())
