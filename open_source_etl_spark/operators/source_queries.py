"""Source-format queries: the line-delimited JSON scan exercised as a
real file roundtrip (SURVEY.md §2B "JSON scan").

The fixture set is parquet-only, so the query materializes a JSONL copy
of a column subset (distributed write, temp dir), scans it back with the
JSON source — inference tier, mirroring the reference's header-sniff
fallback (`dags/…:164-172`) — and aggregates.  The oracle computes the
same aggregate straight from parquet: if the JSON write→scan roundtrip
loses or distorts anything, the hash mismatches.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..registry import query
from ..functions.zorder import morton_code, morton_sql
from ..sources import read_jsonl, read_orc, write_jsonl, write_orc
from ._localize import local_relation, localize


@query(
    "json_file_scan",
    oracle="""
    SELECT
      event_type,
      COUNT(*) AS n_events,
      CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
      MIN(event_id) AS min_event_id,
      MAX(event_id) AS max_event_id
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL write → schema-inferred JSON scan → aggregate.

    Doubles survive the roundtrip exactly (Spark writes shortest-repr,
    reads back the same binary64); the sum accumulates in DECIMAL so the
    total is partition-order-independent (functions/parity.py)."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    base = tempfile.mkdtemp(prefix="osetl-jsonl-")
    write_jsonl(ev, base + "/events")
    back = read_jsonl(spark, base + "/events")
    return localize(
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sum_value"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type"),
        base,
    )


@query(
    "orc_file_scan",
    oracle="""
    SELECT lang, source,
      CAST(COUNT(*) AS BIGINT) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      MIN(doc_id) AS min_doc_id,
      MAX(doc_id) AS max_doc_id
    FROM documents
    GROUP BY lang, source
    ORDER BY lang, source
    """,
)
def orc_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write → scan → aggregate (the second columnar format beside
    parquet; SURVEY.md §2B scans).  The oracle aggregates the original
    parquet, so any loss in the ORC roundtrip (types, nulls, encoding)
    hash-mismatches.  ORC scans share parquet's pushdown/pruning behavior
    at scale — the aggregate's filterless scan still prunes to the four
    referenced columns (ReadSchema)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    base = tempfile.mkdtemp(prefix="osetl-orc-")
    write_orc(docs, base + "/documents")
    back = read_orc(spark, base + "/documents")
    return localize(
        back.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang", "source"),
        base,
    )


@query(
    "layout_zorder_key",
    oracle=f"""
    WITH b AS (
      SELECT p_partkey, p_size,
        CAST(FLOOR(p_retailprice / 100) AS BIGINT) AS price_bucket
      FROM part
      WHERE p_size IS NOT NULL AND p_retailprice IS NOT NULL
    )
    SELECT p_partkey, p_size, price_bucket,
      CAST({morton_sql('p_size', 'price_bucket')} AS BIGINT) AS zkey
    FROM b
    ORDER BY zkey, p_partkey
    LIMIT 200
    """,
)
def layout_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key: Morton-interleave (p_size, price bucket) and
    sort by it — the multi-dimension clustering write order (Delta/Iceberg
    Z-ORDER) as a plain ORDER BY.  Sorting 100 TB by this key gives
    min/max row-group pruning on BOTH dimensions; the key itself is pure
    shift/and/or codegen, built by functions/zorder.py and verified
    bit-exactly against the SQL twin.

    NULL dimensions have no interleaving position (and Spark sorts NULL
    keys FIRST where DuckDB sorts them LAST — a LIMIT over the z-order
    would pick different rows): rows missing either dimension are
    excluded on both engines; a table layout job would route them to a
    trailing unclustered file group."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isNotNull() & F.col("p_retailprice").isNotNull()
    )
    b = part.select(
        "p_partkey",
        "p_size",
        F.floor(F.col("p_retailprice") / 100).cast("bigint").alias("price_bucket"),
    )
    return (
        b.select(
            "p_partkey",
            "p_size",
            "price_bucket",
            morton_code(F.col("p_size"), F.col("price_bucket")).cast("bigint").alias("zkey"),
        )
        .orderBy("zkey", "p_partkey")
        .limit(200)
    )


@query(
    "xml_file_scan",
    oracle="""
    SELECT c_mktsegment,
      CAST(COUNT(*) AS BIGINT) AS n_customers,
      CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal,
      MIN(c_custkey) AS min_custkey,
      MAX(c_custkey) AS max_custkey
    FROM customer
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def xml_file_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML write → rowTag scan → aggregate (Spark 4 native XML — the
    document-interchange format beside JSONL/ORC/parquet/CSV; SURVEY.md
    §2B scans).  The oracle aggregates the original parquet, so any loss
    in the XML roundtrip (types, escaping, nulls) hash-mismatches.  XML
    parse cost is per-row CPU at scale: schema is supplied from the
    source frame, never inferred by a second pass over the files."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    base = tempfile.mkdtemp(prefix="osetl-xml-")
    path = base + "/customer"
    cust.write.format("xml").option("rowTag", "customer").save(path)
    back = (
        spark.read.format("xml")
        .schema(cust.schema)
        .option("rowTag", "customer")
        .load(path)
    )
    return localize(
        back.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double").alias(
                "total_acctbal"
            ),
            F.min("c_custkey").alias("min_custkey"),
            F.max("c_custkey").alias("max_custkey"),
        )
        .orderBy("c_mktsegment"),
        base,
    )


@query(
    "join_bucketed_colocated",
    oracle="""
    SELECT o.o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_orderkey % 5 = 0 AND o.o_orderkey % 5 = 0
    GROUP BY o.o_orderstatus
    ORDER BY o.o_orderstatus
    """,
)
def join_bucketed_colocated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join with ZERO exchanges via bucketed layout
    (``sources/bucketing.py``, previously library/test-only): both fact
    tables are written ``bucketBy(8, orderkey) sortBy(orderkey)``, so
    Catalyst satisfies the join's distribution AND ordering requirements
    from the file layout — the shuffle happened once at ingestion and is
    amortized over every subsequent join.  At 100 TB this is the
    difference between re-exchanging two fact tables per query and none
    (broadcast only covers the dim side; lineitem⋈orders is big⋈big).

    Broadcast is disabled around the join so the plan proves BUCKETING
    (restored after); the aggregation on top still exchanges its own
    grouped partials — the pin is "no exchange BELOW the join".
    tests/test_plans.py::test_bucketed_query_joins_without_exchange
    asserts it stays that way.
    """
    # a deterministic 20% orderkey slice: the LAYOUT property under test
    # (join satisfied by bucketing, zero exchange below it) is independent
    # of which keys are written, and the bench entry should time the
    # plan shape, not the volume of a demo ingestion write
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 5 == 0)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 5 == 0)
        .select(F.col("o_orderkey").alias("l_orderkey"), "o_orderstatus")
    )
    import uuid as _uuid

    from ..sources import bucketed_join, write_bucketed

    # unique table names per invocation: the session catalog is
    # in-memory, so a fixed name collides with a previous JVM's leftover
    # warehouse directory (LOCATION_ALREADY_EXISTS); both tables are
    # dropped below once the (collected) result is materialized
    tag = _uuid.uuid4().hex[:8]
    t_li, t_ord = f"q_li_bucketed_{tag}", f"q_ord_bucketed_{tag}"
    write_bucketed(li, t_li, "l_orderkey", n_buckets=8)
    write_bucketed(orders, t_ord, "l_orderkey", n_buckets=8)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, t_li, t_ord, "l_orderkey")
        out = (
            joined.groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_items"),
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,4)"
                    )
                )
                .cast("double")
                .alias("revenue"),
            )
            .orderBy("o_orderstatus")
        )
        # materialize the bucketed join under the no-broadcast conf; the
        # returned frame is the (tiny) aggregated result
        res = local_relation(out)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql(f"DROP TABLE IF EXISTS {t_li}")
        spark.sql(f"DROP TABLE IF EXISTS {t_ord}")
    return res.orderBy("o_orderstatus")


@query(
    "layout_partition_prune_dpp",
    oracle="""
    WITH m AS (
      SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS order_year
      FROM orders
    ), sel AS (
      SELECT order_year FROM m
      WHERE order_year % 2 = (SELECT MIN(order_year) % 2 FROM m)
    )
    SELECT CAST(year(o.o_orderdate) AS INTEGER) AS order_year,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
             AS revenue
    FROM orders o
    JOIN sel ON CAST(year(o.o_orderdate) AS INTEGER) = sel.order_year
    GROUP BY 1
    ORDER BY order_year
    """,
)
def layout_partition_prune_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning: the fact table is written PARTITIONED BY
    year, then joined to a filtered dimension whose qualifying years
    are only known at RUNTIME — Catalyst injects a dynamic-pruning
    subquery into the fact scan, so only the joined years' partitions
    are read (`dynamicpruningexpression` in the physical plan;
    tests/test_plans.py pins it).  Year (7 values) rather than month (80):
    the pruning mechanics are identical, and a bench entry shouldn't pay
    80 partitioned-write directory commits to demonstrate them.  At
    100 TB this is the scan-cost difference between reading half the
    partitions and reading the whole table —
    the join-driven complement of the static pruning
    `partition_path_derivation` demonstrates.

    The dim filter (years sharing the first year's parity) derives
    from the data, so a regenerated fixture with a shifted date range
    replays identically.  DPP needs a real selective PREDICATE on the
    dim side — a LIMIT doesn't qualify — hence the parity filter over a
    separately-written year dimension.
    """
    import shutil as _sh
    import tempfile as _tf

    base = _tf.mkdtemp(prefix="osetl-dpp-")
    try:
        frame = dpp_frame(spark, sf_dir, base)
        if frame is None:
            _sh.rmtree(base, ignore_errors=True)
            return spark.createDataFrame(
                [], "order_year int, n_orders bigint, revenue double"
            )
        return localize(frame, base)
    except BaseException:
        _sh.rmtree(base, ignore_errors=True)
        raise


def dpp_frame(spark: SparkSession, sf_dir: str, base: str) -> DataFrame | None:
    """The lazy DPP join over a partitioned copy written under ``base``
    (shared with the plan test so the dynamic-pruning pin audits the same
    plan the query materializes).  The fact write carries ONLY the
    partition column and the measure — the layout property under test is
    independent of the other seven orders columns, and the bench entry
    should time the pruned scan, not a demo ingestion write."""
    orders = load_table(spark, sf_dir, "orders")
    year = F.year("o_orderdate").cast("int")
    fact_path = base + "/orders_by_year"
    dim_path = base + "/year_dim"
    # repartition on the partition column first: a partitioned write from
    # N unaligned tasks emits up to N files per year directory (a
    # small-file storm at scale); aligned, it's one file per year
    orders.select(year.alias("order_year"), "o_totalprice").repartition(
        "order_year"
    ).write.partitionBy("order_year").parquet(fact_path)
    orders.select(year.alias("order_year")).distinct().withColumn(
        "parity", F.col("order_year") % 2
    ).write.parquet(dim_path)

    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path)
    p0 = dim.agg(F.min("order_year")).first()[0]
    if p0 is None:
        return None
    sel = dim.filter(F.col("parity") == int(p0) % 2).select("order_year")
    return (
        fact.join(sel.hint("broadcast"), "order_year")
        .groupBy(F.col("order_year").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy("order_year")
    )
