"""UDF/UDAF/UDTF surface as oracle-checked queries (EXT, SURVEY.md §2B).

Each query exercises one escape-hatch shape — scalar pandas UDF, grouped
aggregate pandas UDF, Python UDTF — against a pure-SQL DuckDB twin, so
the Arrow interchange itself is under differential test.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, scoped_view
from ..functions.udfs import ChunkText, exact_cents_sum, group_size, net_revenue
from ..registry import query






@query(
    "udf_pandas_scalar",
    oracle="""
    SELECT
      l_orderkey,
      l_linenumber,
      l_extendedprice * (1 - l_discount) AS net_revenue
    FROM lineitem
    WHERE l_orderkey <= 1000
    ORDER BY l_orderkey, l_linenumber
    """,
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized scalar pandas UDF computing net revenue; IEEE
    double arithmetic matches the SQL expression bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        net_revenue("l_extendedprice", "l_discount").alias("net_revenue"),
    ).orderBy("l_orderkey", "l_linenumber")


@query(
    "udaf_grouped_pandas",
    oracle="""
    SELECT
      l_returnflag,
      CAST(SUM(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents,
      COUNT(*) AS n_items
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def udaf_grouped_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-aggregate pandas UDF (UDAF): per-flag price total in exact
    integer cents — order-independent accumulation, reproducible across
    partitionings (the DECIMAL parity trick, in Python)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            exact_cents_sum("l_extendedprice").alias("total_cents"),
            group_size("l_extendedprice").alias("n_items"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "udtf_text_chunks",
    oracle="""
    SELECT
      d.doc_id,
      c.i // 256 AS chunk_idx,
      substring(d.text, c.i + 1, 256) AS chunk,
      length(substring(d.text, c.i + 1, 256)) AS chunk_len
    FROM documents d,
      LATERAL (
        SELECT unnest(generate_series(0, length(d.text) - 1, 256)) AS i
      ) c
    ORDER BY d.doc_id, chunk_idx
    """,
)
def udtf_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF: fixed-width (256-char) document chunking via a lateral
    table function — one document row expands to its context-window
    chunks."""
    view = scoped_view(spark, sf_dir, "documents", "udtf_docs_src")
    spark.udtf.register("chunk_text", ChunkText)
    return spark.sql(
        f"""
        SELECT d.doc_id, c.chunk_idx, c.chunk, c.chunk_len
        FROM {view} d,
        LATERAL chunk_text(d.text, 256) c
        ORDER BY d.doc_id, c.chunk_idx
        """
    )


@query(
    "udf_sql_scalar",
    oracle="""
    SELECT
      l_returnflag,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6)))
           AS DOUBLE) AS net_revenue,
      COUNT(*) AS n_items
    FROM lineitem
    WHERE l_extendedprice * (1 - l_discount) > 50000
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def udf_sql_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-defined scalar function (Spark 4 ``CREATE FUNCTION … RETURN
    expr``): the reusable-expression tier BELOW Python UDFs — the body
    inlines into the calling plan at analysis time, so it stays inside
    whole-stage codegen with zero serialization boundary (PLANS.md shows
    no Python stage), unlike even an Arrow-vectorized pandas UDF.  The
    engine's answer to the reference's repeated hand-built SQL snippets
    (`dags/…:82,174-188`): name the expression once in the catalog."""
    view = scoped_view(spark, sf_dir, "lineitem", "udf_sql_lineitem")
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION net_price(p DOUBLE, d DOUBLE)
        RETURNS DOUBLE RETURN p * (1 - d)
        """
    )
    return spark.sql(
        f"""
        SELECT
          l_returnflag,
          CAST(SUM(CAST(net_price(l_extendedprice, l_discount)
                        AS DECIMAL(28,6))) AS DOUBLE) AS net_revenue,
          COUNT(*) AS n_items
        FROM {view}
        WHERE net_price(l_extendedprice, l_discount) > 50000
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """
    )


@query(
    "sql_scripting_iterative",
    oracle="""
    WITH RECURSIVE probe AS (
      SELECT CAST(1000 AS BIGINT) AS threshold,
             (SELECT COUNT(*) FROM orders WHERE o_totalprice > 1000) AS n
      UNION ALL
      SELECT threshold * 2,
             (SELECT COUNT(*) FROM orders o WHERE o.o_totalprice > p.threshold * 2)
      FROM probe p WHERE p.n >= 100
    )
    SELECT threshold, CAST(n AS BIGINT) AS n_above
    FROM probe
    WHERE n < 100
    ORDER BY threshold
    LIMIT 1
    """,
)
def sql_scripting_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 SQL SCRIPTING (BEGIN/DECLARE/WHILE, SQL/PSM-style):
    double a price threshold until fewer than 100 orders exceed it,
    inside one SQL script — the procedural control flow warehouses run
    as stored procedures.  The oracle replays the doubling recurrence as
    a recursive CTE that re-counts ``orders`` every round.

    The script reads ``orders`` once instead: at least 100 prices exceed
    T exactly when there are at least 100 non-null prices and the
    100th-largest is above T (ties included — the top 100 are then all
    above T, and if any 100 are above T so are the 100 largest).  One
    top-100 probe fetches that count and price into two scalar
    variables, the WHILE loop doubles the threshold against them on the
    driver, and one count above the final threshold gives ``n_above``.

    Eager work at build: a script runs every statement when
    ``spark.sql`` is called and returns its last result as a local
    relation, so all its jobs fire before the DataFrame is returned and
    the action fires none.  They are: the top-100 probe (one job, one
    scan of ``orders``); one single-task job per WHILE condition check
    and per ``SET threshold`` (the scripting engine evaluates each as a
    query over a one-row relation; 19 for the nine doublings the sf0.01
    and sf0.1 fixtures take); and the final count (two jobs, the second
    scan of ``orders``)."""
    spark.conf.set("spark.sql.scripting.enabled", "true")
    view = scoped_view(spark, sf_dir, "orders", "sqlscript_orders")
    return spark.sql(
        f"""
        BEGIN
          DECLARE threshold BIGINT DEFAULT 1000;
          DECLARE n_top BIGINT;
          DECLARE p100 DOUBLE;
          SET (n_top, p100) = (
            SELECT COUNT(*), MIN(o_totalprice)
            FROM (SELECT o_totalprice FROM {view}
                  WHERE o_totalprice IS NOT NULL
                  ORDER BY o_totalprice DESC LIMIT 100));
          WHILE n_top >= 100 AND p100 > threshold DO
            SET threshold = threshold * 2;
          END WHILE;
          SELECT threshold, COUNT(*) AS n_above
          FROM {view} WHERE o_totalprice > threshold;
        END
        """
    )


@query(
    "udf_arrow_batch",
    oracle="""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes_utf8,
           CAST(strlen(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
    FROM documents
    WHERE strlen(text) % 3 = 0
    ORDER BY doc_id
    """,
)
def udf_arrow_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow``: the lowest-overhead Python boundary — raw
    ``pyarrow.RecordBatch`` in and out, no pandas materialization at
    all (one tier below the pandas UDFs this module demonstrates, two
    below row-at-a-time Python).  The kernel computes per-document byte
    stats with pyarrow compute kernels (C++, zero Python per row) and
    filters inside the batch, so what crosses back is already reduced.

    Byte semantics are explicit on both sides (pyarrow binary_length,
    DuckDB strlen), so unicode documents — which the adversarial
    fixtures inject — agree exactly."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(batches):
        for batch in batches:
            t = pa.table(
                {
                    "doc_id": batch.column(batch.schema.get_field_index("doc_id")),
                    "text": batch.column(batch.schema.get_field_index("text")),
                }
            )
            n_bytes = pc.binary_length(pc.cast(t["text"], pa.binary()))
            nonspace = pc.binary_length(
                pc.cast(
                    pc.replace_substring(t["text"], pattern=" ", replacement=""),
                    pa.binary(),
                )
            )
            out = pa.table(
                {
                    "doc_id": t["doc_id"],
                    "n_bytes_utf8": pc.cast(n_bytes, pa.int64()),
                    "n_nonspace": pc.cast(nonspace, pa.int64()),
                }
            )
            # pyarrow has no modulo kernel: n % 3 == 0  <=>  n - 3*(n/3) == 0
            # (integer divide truncates)
            third = pc.divide(out["n_bytes_utf8"], 3)
            keep = pc.equal(
                pc.subtract(out["n_bytes_utf8"], pc.multiply(third, 3)), 0
            )
            yield from out.filter(keep).to_batches()

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        kernel, "doc_id long, n_bytes_utf8 long, n_nonspace long"
    ).orderBy("doc_id")


@query(
    "udaf_arrow_grouped",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
           CAST(MAX(strlen(text)) AS BIGINT) AS max_bytes
    FROM documents
    WHERE lang IS NOT NULL
    GROUP BY lang
    ORDER BY lang
    """,
)
def udaf_arrow_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Arrow aggregation (``groupBy().applyInArrow``): each
    language group arrives as one pyarrow Table and reduces with C++
    compute kernels — the Arrow-native sibling of the pandas UDAF
    (udaf_grouped_pandas), again with zero pandas materialization.
    NULL-lang docs are excluded on both engines (a NULL group key is a
    real group to Spark but its per-group kernel output would need
    NULL-safe comparison downstream — the filter keeps the contract
    crisp)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def kernel(table: "pa.Table") -> "pa.Table":
        nbytes = pc.binary_length(pc.cast(table["text"], pa.binary()))
        return pa.table(
            {
                "lang": [table["lang"][0].as_py()],
                "n_docs": pa.array([table.num_rows], pa.int64()),
                # .as_py() yields None for an all-NULL group — exactly
                # SQL's SUM/MAX NULL semantics (coercing to 0 here would
                # silently diverge from the oracle on a future fixture
                # drop with nullable text)
                "total_bytes": pa.array([pc.sum(nbytes).as_py()], pa.int64()),
                "max_bytes": pa.array([pc.max(nbytes).as_py()], pa.int64()),
            }
        )

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("lang").isNotNull())
        .select("lang", "text")
    )
    return (
        docs.groupBy("lang")
        .applyInArrow(
            kernel, "lang string, n_docs long, total_bytes long, max_bytes long"
        )
        .orderBy("lang")
    )


@query(
    "udf_cogrouped_asof",
    oracle="""
    WITH errs AS (
      SELECT event_id AS err_id, user_id, CAST(ts AS TIMESTAMP) AS err_ts
      FROM events
      WHERE event_type = 'error' AND user_id IS NOT NULL
        AND user_id % 7 = 0
    ), clicks AS (
      SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) AS click_ts,
             value
      FROM events
      WHERE event_type = 'click' AND user_id IS NOT NULL
        AND user_id % 7 = 0
    )
    SELECT e.user_id, e.err_id, e.err_ts,
           c.click_id, CAST(c.value AS DOUBLE) AS click_value
    FROM errs e LEFT JOIN LATERAL (
      SELECT click_id, value FROM clicks c
      WHERE c.user_id = e.user_id AND c.click_ts <= e.err_ts
      ORDER BY c.click_ts DESC, c.click_id DESC LIMIT 1
    ) c ON TRUE
    ORDER BY e.user_id, e.err_id
    """,
)
def udf_cogrouped_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped pandas kernel (``groupBy().cogroup().applyInPandas``):
    per-user AS-OF matching between two event streams — for every error
    the most recent click at-or-before it — via ``pd.merge_asof`` inside
    each cogroup.  This is the API tier for per-key logic that needs
    BOTH sides of a join as local frames (as-of, interval alignment,
    per-key reconciliation); both inputs arrive hash-partitioned on the
    key, so the kernel never sees another user's rows.

    Ties (the perturbed fixtures truncate timestamps to the hour) are
    made deterministic by sorting clicks on (ts, event_id) — merge_asof
    then resolves an equal-ts run to the max event_id, which the
    oracle's lateral ORDER BY ... DESC LIMIT 1 states identically.
    NULL user_ids are excluded on both engines (a NULL cogroup key is a
    real group to Spark but can never equi-match in SQL).

    The demo runs on a deterministic 1-in-7 user slice: cogroup pays a
    Python kernel invocation PER KEY, so thousands of tiny fixture
    groups are all overhead — the wrong regime for this API.  Use it
    when per-key frames are large (sessions, instruments); for as-of at
    corpus scale the declarative forms (join_asof, join_asof_nearest)
    are the path, with NO per-key Python cost."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & (F.col("user_id") % 7 == 0)
    )
    errs = ev.filter(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), F.col("ts").alias("err_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "value",
    )

    def kernel(left, right):
        import pandas as pd

        if left.empty:
            return pd.DataFrame(
                columns=["user_id", "err_id", "err_ts", "click_id", "click_value"]
            )
        left = left.sort_values(["err_ts", "err_id"])
        if right.empty:
            out = left.assign(click_id=pd.NA, click_value=pd.NA)
        else:
            right = right.sort_values(["click_ts", "click_id"]).drop(
                columns=["user_id"]
            )
            out = pd.merge_asof(
                left, right, left_on="err_ts", right_on="click_ts",
                direction="backward",
            ).rename(columns={"value": "click_value"})
        out = out[["user_id", "err_id", "err_ts", "click_id", "click_value"]]
        out["click_id"] = out["click_id"].astype("Int64")
        out["click_value"] = out["click_value"].astype("Float64")
        return out

    return (
        errs.groupBy("user_id")
        .cogroup(clicks.groupBy("user_id"))
        .applyInPandas(
            kernel,
            "user_id long, err_id long, err_ts timestamp, "
            "click_id long, click_value double",
        )
        .orderBy("user_id", "err_id")
    )
