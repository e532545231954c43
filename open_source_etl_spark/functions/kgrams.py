"""Word k-grams that stay inside whole-stage codegen.

A ``transform(sequence(0, size(w) - k), i -> ...)`` projection is a
higher-order-function lambda: Spark evaluates it row by row through the
interpreter (``ArrayTransform`` is a ``CodegenFallback``), so every
n-gram stream built on it leaves codegen at its hottest step.  The same
windows come out of plain collection functions instead: the k-word
windows of ``w`` are the element-wise zip of its k shifted slices,

    arrays_zip(slice(w, 1, m), slice(w, 2, m), ..., slice(w, k, m))
    with m = greatest(size(w) - k + 1, 0),

and ``size``/``greatest``/``slice``/``arrays_zip``/``explode``/
``concat_ws`` are all code-generated.  ``m`` is clamped at 0 because
``slice`` raises on a negative length; a null array stays null (``size``
is null, ``greatest`` skips it, ``slice`` of null is null), so it yields
no k-grams, like a text shorter than k words.

Joining each window into a string needs no lambda either: explode the
windows first, then ``concat_ws(' ', window.*)`` is an ordinary
projection.  Words from ``split(text, ' ')`` never contain the
separator, so the joined k-gram determines its window and a set of
windows has exactly the size of the set of their strings.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def word_windows(words: str, k: int) -> Column:
    """The consecutive k-word windows of the array column ``words``, in
    order, as an array of structs with fields ``"0"`` .. ``"k-1"``."""
    m = F.greatest(F.size(words) - (k - 1), F.lit(0))
    return F.arrays_zip(*[F.slice(words, i + 1, m) for i in range(k)])


def word_kgrams(df: DataFrame, words: str, k: int, alias: str = "g") -> DataFrame:
    """One row per word k-gram of the array column ``words``: the other
    columns of ``df`` plus ``alias``, the k words joined by single
    spaces, in window order within each row."""
    keep = [c for c in df.columns if c != words]
    return df.select(
        *keep, F.explode(word_windows(words, k)).alias("_kgram")
    ).select(*keep, F.concat_ws(" ", "_kgram.*").alias(alias))
