"""Materialize-then-clean for queries that stage data in a temp workdir.

Several registered queries demonstrate a LAYOUT or SINK property (bucketed
tables, partitioned landing, format roundtrips, streaming upserts) by
writing real files to a ``tempfile.mkdtemp`` workdir and reading them back.
Returning the lazy frame would leak the workdir — the caller collects at
an unknown later time, so the query can never delete its own staging
(every bench run and parity sweep used to leave full fact-table copies in
/tmp).  ``localize`` closes the lifecycle: collect the (presentation-
sized) result inside the query, delete the workdir, and hand back a local
frame with the identical schema.  Only valid for small results — the
registered queries using it all return bounded aggregates.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame


def local_relation(df: DataFrame) -> DataFrame:
    """Collect ``df`` into the driver JVM and return its rows as a
    ``LocalRelation`` with the same schema (row order preserved).

    The rows never cross into Python: ``spark.createDataFrame`` on a
    Python list would serialize them back through a PythonRDD, which
    starts a pyspark daemon and its workers just to replay a few rows."""
    spark = df.sparkSession
    jrows = df._jdf.collectAsList()
    jdf = spark._jsparkSession.createDataFrame(jrows, df._jdf.schema())
    return DataFrame(jdf, spark)


def localize(df: DataFrame, *workdirs: str) -> DataFrame:
    """Collect ``df``, remove every workdir, and return the rows as a
    local DataFrame with the same schema (row order preserved)."""
    out = local_relation(df)
    for wd in workdirs:
        shutil.rmtree(wd, ignore_errors=True)
    return out
