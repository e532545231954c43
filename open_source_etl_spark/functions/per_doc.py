"""One ``mapInPandas`` adapter for per-document kernels.

Every media decoder and ingest extractor has the same shape: a pure
function of one document's columns that returns that document's output
rows.  ``per_doc`` hosts such a function in one Arrow-batched Python
stage; the kernels themselves never see a pandas frame.

A media family is then a table entry: ``make(doc_id) -> bytes`` builds
the payload, a ``Decoder`` pairs ``walk(doc_id, raw) -> rows`` with its
output schema, and ``synth_decode`` composes the two inside one stage,
so the payload bytes never cross the JVM boundary.

This module must not import ``multimodal.decode``: a Python worker that
unpickles a ``dec_mp3`` walker imports only that walker's module.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator
from typing import TYPE_CHECKING, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql.types import StructType, _parse_datatype_string

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

PAYLOAD_SCHEMA = "doc_id long, payload binary"


def per_doc(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: str | StructType,
) -> DataFrame:
    """Run ``fn(doc_id, *other_cols)`` once per input row of ``df``
    (whose first column is ``doc_id``) in one ``mapInPandas`` stage.

    ``fn`` returns the document's output rows without ``doc_id``; the
    adapter puts ``doc_id`` in front of each row, appends the values to
    one list per column and yields one pandas frame per Arrow batch.
    Zero rows, one row and many rows per document all take this path.
    """
    if isinstance(schema, str):
        names = _parse_datatype_string(schema).fieldNames()
    else:
        names = schema.fieldNames()

    def kernel(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        for pdf in batches:
            out: list[list] = [[] for _ in names]
            add_id = out[0].append
            adds = [col.append for col in out[1:]]
            for args in zip(*(pdf[c].tolist() for c in pdf.columns)):
                doc_id = args[0]
                for row in fn(*args):
                    add_id(doc_id)
                    for add, v in zip(adds, row):
                        add(v)
            yield pd.DataFrame(dict(zip(names, out)))

    return df.mapInPandas(kernel, schema)


class Decoder(NamedTuple):
    """A decode kernel as a table entry: ``walk(doc_id, raw)`` returns
    the document's rows (without ``doc_id``) and ``schema`` is the
    output schema, ``doc_id`` first.  Calling it on a frame with
    ``doc_id`` and ``payload`` columns runs the walk over every row."""

    walk: Callable[[int, bytes], list[tuple]]
    schema: str | StructType

    def __call__(self, media_df: DataFrame) -> DataFrame:
        return per_doc(media_df.select("doc_id", "payload"), self.walk, self.schema)


def synthesize(
    docs_df: DataFrame, make: Callable[..., bytes], *cols: str
) -> DataFrame:
    """``doc_id`` → ``doc_id, payload`` with ``payload = make(doc_id,
    *cols)``: the ingest stand-in (a deployment reads the same two
    columns with ``spark.read.format("binaryFile")``)."""
    return per_doc(
        docs_df.select("doc_id", *cols), lambda *a: [(make(*a),)], PAYLOAD_SCHEMA
    )


def synth_decode(
    docs_df: DataFrame, make: Callable[[int], bytes], decoder: Decoder
) -> DataFrame:
    """``decoder(synthesize(docs_df, make))`` as one Python stage: each
    payload is built and walked inside the worker."""
    walk, schema = decoder
    return per_doc(docs_df.select("doc_id"), lambda d: walk(d, make(d)), schema)


def synth_parse(
    docs_df: DataFrame,
    make: Callable[[int, str], bytes],
    parse: Callable[[int, bytes], tuple],
    schema: str | StructType,
) -> DataFrame:
    """The ingest shape: per ``doc_id, text`` row, build the document's
    file with ``make(doc_id, str(text))`` and emit ``parse``'s one row."""
    return per_doc(
        docs_df.select("doc_id", "text"),
        lambda d, t: [parse(d, make(d, str(t)))],
        schema,
    )
