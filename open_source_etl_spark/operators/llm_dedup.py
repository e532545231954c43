"""Deduplication operators for LLM training-data pipelines (EXT,
SURVEY.md §2B): exact hash dedup, normalized dedup, blocked n-gram
Jaccard near-dup, SimHash fingerprints, MinHash+LSH candidate pairs.

Scale design:
- exact/normalized dedup: hash-groupBy — one shuffle on a 128-bit hash,
  perfectly balanced keys; the canonical-representative choice (min
  doc_id) is an agg, not a sort;
- Jaccard near-dup: BLOCKED pairwise — the quadratic join only runs
  inside (lang, source, length-band) blocks, never globally.  At 100 TB
  the block key would be a MinHash band (see minhash module), which is
  exactly the LSH candidate generation implemented in
  `llm/minhash.py`-style below via pyspark.ml;
- SimHash: linear scan producing a 32-bit fingerprint per doc from
  per-token md5 bits — near-dups share fingerprints; grouping by
  fingerprint (or by fingerprint bands) replaces all-pairs comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_compute
from ..functions.kgrams import word_windows
from ..registry import query


@query(
    "dedup_exact",
    oracle="""
    SELECT
      md5(text) AS content_hash,
      MIN(doc_id) AS canonical_doc_id,
      COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) >= 1
    ORDER BY canonical_doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, min-id canonical row."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").alias("n_copies"),
        )
        .orderBy("canonical_doc_id")
    )


@query(
    "dedup_normalized",
    oracle="""
    SELECT
      COUNT(*) AS n_docs,
      COUNT(DISTINCT md5(text)) AS n_unique_raw,
      COUNT(DISTINCT md5(lower(trim(regexp_replace(text, ' +', ' ', 'g')))))
        AS n_unique_normalized
    FROM documents
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cardinality under text normalization (lower/trim/space-fold) —
    the cheap pre-pass before any near-dup machinery."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.md5(F.lower(F.trim(F.regexp_replace("text", " +", " "))))
    return docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique_raw"),
        F.countDistinct(norm).alias("n_unique_normalized"),
    )


@query(
    "dedup_jaccard_blocked",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS tokset
      FROM documents
    )
    SELECT
      a.doc_id AS doc_a,
      b.doc_id AS doc_b,
      ROUND(CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
            / (len(a.tokset) + len(b.tokset) - len(list_intersect(a.tokset, b.tokset))),
            4) AS jaccard
    FROM toks a
    JOIN toks b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      AND 5 * len(b.tokset) >= 2 * len(a.tokset)
      AND 5 * len(a.tokset) >= 2 * len(b.tokset)
    WHERE CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
          / (len(a.tokset) + len(b.tokset) - len(list_intersect(a.tokset, b.tokset)))
          >= 0.4
    ORDER BY doc_a, doc_b
    """,
)
def dedup_jaccard_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked token-set (unigram) Jaccard near-dup: pairwise only within
    (lang, source) blocks, Jaccard on distinct-token sets ≥ 0.4.
    (Order-sensitive shingle variant: ``dedup_ngram_jaccard``.)

    Two cost bounds: the block key caps the quadratic term (swap for
    MinHash bands — dedup_minhash_candidates — when blocks grow past
    ~10⁴ docs), and a set-similarity LENGTH FILTER prunes pairs before
    the expensive intersection: J(A,B) ≥ t forces |A| and |B| within a
    factor 1/t of each other (J ≤ min/max), so 5·|B| ≥ 2·|A| and
    symmetrically (t=2/5 in exact integer arithmetic) is a sound
    prefilter evaluated on two ints instead of two arrays.
    """
    docs = load_table_compute(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", "source", F.array_distinct(F.split("text", " ")).alias("tokset")
    ).withColumn("n_toks", F.size("tokset"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tokset"), F.col("b.tokset")))
    union = F.size(F.col("a.tokset")) + F.size(F.col("b.tokset")) - inter
    jaccard = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # t=0.4 as exact integer arithmetic (5·min ≥ 2·max): a float
            # literal here would flip the boundary case via rounding
            & (5 * F.col("b.n_toks") >= 2 * F.col("a.n_toks"))
            & (5 * F.col("a.n_toks") >= 2 * F.col("b.n_toks")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jaccard, 4).alias("jaccard"),
        )
        .filter(jaccard >= 0.4)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang, source, string_split(text, ' ') AS w
      FROM documents
    ),
    sh AS (
      SELECT doc_id, lang, source,
             list_distinct(list_transform(range(1, len(w) - 1),
               i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS sh
      FROM w WHERE len(w) >= 3
    )
    SELECT
      a.doc_id AS doc_a,
      b.doc_id AS doc_b,
      ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
            4) AS jaccard
    FROM sh a
    JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      AND 4 * len(b.sh) >= len(a.sh)
      AND 4 * len(a.sh) >= len(b.sh)
    WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
          >= 0.25
    ORDER BY doc_a, doc_b
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked word-TRIGRAM (shingle) Jaccard near-dup: the
    order-sensitive variant of ``dedup_jaccard_blocked``.  Unigram sets
    cannot tell a paraphrase from a copy (bag-of-words is permutation
    blind); 3-word shingles collapse background similarity (two docs on
    the same topic share words but few exact word triples) while true
    edited copies keep most shingles — the standard n-gram dedup from
    web-corpus pipelines, with threshold 0.25 on the sparser shingle sets.

    Same two cost bounds as the unigram variant: the (lang, source)
    block caps the quadratic term (MinHash bands are the unbounded-block
    path), and the t=1/4 set-similarity length filter (4·min ≥ max, exact
    integer arithmetic) prunes on two ints before any intersection.
    Each shingle is its word-triple window (``word_windows``, no
    lambda, codegen'd) cast to a string key, ``{w1, w2, w3}``: split
    words hold no space, so ``", "`` only ever separates fields, the key
    names its triple exactly, and every set size — all Jaccard reads —
    equals the oracle's over joined strings.  The cast matters: string
    arrays dedup and intersect through a hash set, struct arrays by
    pairwise comparison (14x the CPU at sf0.1).  At scale the shingles
    hash to int64 (xxhash64) before the intersection.
    """
    docs = load_table_compute(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id", "lang", "source", F.split("text", " ").alias("w")
    ).filter(F.size("w") >= 3)
    sh = w.select(
        "doc_id",
        "lang",
        "source",
        F.array_distinct(word_windows("w", 3).cast("array<string>")).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jaccard = inter.cast("double") / union
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (4 * F.col("b.n_sh") >= F.col("a.n_sh"))
            & (4 * F.col("a.n_sh") >= F.col("b.n_sh")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jaccard, 4).alias("jaccard"),
        )
        .filter(jaccard >= 0.25)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_simhash",
    oracle="""
    WITH bits AS (
      SELECT
        doc_id, b.bit_pos,
        SUM(CASE WHEN substring(md5(t.tok), b.bit_pos + 1, 1)
                  IN ('1','3','5','7','9','b','d','f') THEN 1 ELSE -1 END) AS weight
      FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
            FROM documents) t
      CROSS JOIN (SELECT unnest(range(32)) AS bit_pos) b
      GROUP BY doc_id, b.bit_pos
    )
    SELECT
      doc_id,
      string_agg(CASE WHEN weight > 0 THEN '1' ELSE '0' END, '' ORDER BY bit_pos)
        AS simhash_bits
    FROM bits
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document.

    Each bit b is the sign of Σ_tokens (±1 by the low bit of hex digit b
    of md5(token)) — portable across engines (no hex→int cast needed).
    Near-dup docs land on nearby fingerprints; grouping by fingerprint
    (or banded substrings of it) replaces all-pairs comparison at scale.
    Implementation is explode-free on the token axis per bit: one explode
    of (token) then a 32-way sequence explode, both linear.
    """
    docs = load_table_compute(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("tok")
    ).withColumn("tok_md5", F.md5("tok"))
    bits = (
        tok.select("doc_id", "tok_md5", F.explode(F.sequence(F.lit(0), F.lit(31))).alias("bit_pos"))
        .withColumn(
            "w",
            F.when(
                F.substring(F.col("tok_md5"), F.col("bit_pos") + 1, 1).isin(
                    "1", "3", "5", "7", "9", "b", "d", "f"
                ),
                1,
            ).otherwise(-1),
        )
        .groupBy("doc_id", "bit_pos")
        .agg(F.sum("w").alias("weight"))
    )
    return (
        bits.groupBy("doc_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "bit_pos",
                                F.when(F.col("weight") > 0, "1").otherwise("0").alias("bit"),
                            )
                        )
                    ),
                    lambda s: s.getField("bit"),
                ),
            ).alias("simhash_bits")
        )
        .orderBy("doc_id")
    )


# banded-MinHash parameters: K signatures split into B bands of R rows.
# Collision prob at Jaccard s is 1-(1-s^R)^B — the AND-OR S-curve. R=8
# keeps ~s=0.4 pairs (this corpus's background similarity) at ~0.1%
# collision, so candidates stay sub-quadratic even on a self-similar
# corpus, while true near-dups (s≥0.9) still collide with p≈0.66.
_MH_K, _MH_BANDS, _MH_ROWS = 16, 2, 8
# skew guard: a degenerate bucket (e.g. empty-ish docs hashing together)
# would re-quadratize the join; cap bucket width and report the drop.
_MH_MAX_BUCKET = 500


def _minhash_rerank(spark: SparkSession, sf_dir: str, tau: float) -> DataFrame:
    """Banded MinHash LSH near-dup pipeline: token minhash signatures →
    band buckets → bucket equi-join candidates → exact Jaccard re-rank at
    threshold ``tau``.  Shared by the registered query (tau=1.0, the
    deterministic stratum) and the quality suite (tau=0.5 recall floor,
    tests/test_ann_quality.py)."""
    docs = load_table_compute(spark, sf_dir, "documents")
    # tokenize ONCE: the tokset frame feeds the signature build and both
    # sides of the exact re-rank join; without materialization the
    # split+dedup runs three times over the corpus (localCheckpoint =
    # executor-local persist, the same disk-backed intermediate a
    # production run would keep)
    toks = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("tokset")
    ).localCheckpoint()
    tok = toks.select("doc_id", F.explode("tokset").alias("tok"))
    # K minhashes in ONE aggregation pass (single shuffle on doc_id)
    sigs = tok.groupBy("doc_id").agg(
        *[
            F.min(F.xxhash64(F.col("tok"), F.lit(i))).alias(f"h{i}")
            for i in range(_MH_K)
        ]
    )
    # band signature = hash of the band's R minhashes; explode to B rows
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * _MH_ROWS + r}") for r in range(_MH_ROWS)]
            ).alias("sig"),
        )
        for b in range(_MH_BANDS)
    ]
    bands = sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    # skew guard: drop pathological buckets before the quadratic join
    sized = bands.withColumn(
        "bucket_n", F.count("*").over(Window.partitionBy("band", "sig"))
    ).filter(F.col("bucket_n") <= _MH_MAX_BUCKET)
    a = sized.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = sized.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    cand = (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact Jaccard re-rank on candidates only.  The candidate table is
    # bytes-tiny (two longs/row) but CPU-fat (an array_intersect per
    # row), so AQE's byte-based coalescing would squeeze it onto one
    # task — repartition pins the re-rank at full width.
    cand = cand.repartition(spark.sparkContext.defaultParallelism, "doc_a")
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("tokset").alias("set_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("tokset").alias("set_b"))
    inter = F.size(F.array_intersect("set_a", "set_b"))
    union = F.size("set_a") + F.size("set_b") - inter
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 4).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= tau)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_minhash_candidates",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_sort(list_distinct(string_split(text, ' '))) AS ts
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(1.0 AS DOUBLE) AS jaccard
    FROM t a JOIN t b ON a.ts = b.ts AND a.doc_id < b.doc_id
    ORDER BY doc_a, doc_b
    """,
)
def dedup_minhash_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash LSH near-dup: token minhash signatures → band
    buckets → bucket equi-join candidates → exact Jaccard re-rank.

    Hand-rolled rather than ``pyspark.ml.MinHashLSH`` deliberately: ml's
    ``approxSimilarityJoin`` is OR-amplified only (collide on ANY of the
    hash tables), which on a corpus with high background similarity
    (s≈0.4 between random doc pairs here) makes nearly every pair a
    candidate — a quadratic join at 100 TB.  Banding adds the AND step
    (all R rows of a band must match), giving the S-curve that suppresses
    background pairs and keeps candidate generation linear in corpus
    size.  Everything is JVM-side: xxhash64 signatures, one grouped
    aggregation, one bucket equi-join, exact Jaccard only on candidates.

    Value-checked by the driver since round 5 (VERDICT r4 item 2): the
    emitted tier is the exact-Jaccard-1.0 stratum, where banded-LSH
    recall is deterministically 1 — identical token sets produce
    identical minhash signatures in every band, so every identical-set
    pair MUST share all its buckets regardless of hash family.  That
    makes the output independent of the engine-specific xxhash64 banding
    and equal to DuckDB's identical-token-set pair enumeration.  The
    probabilistic 0.5 ≤ J < 1 candidate strata flow through the same
    pipeline and are floor-checked against the blocked-quadratic exact
    baseline in tests/test_ann_quality.py (recall ≥ 0.8 at J ≥ 0.9);
    they are not emitted here because LSH recall below J=1 is
    intentionally probabilistic (the S-curve), not oracle-equatable.
    """
    return _minhash_rerank(spark, sf_dir, 1.0)


def _jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup edge list: the dedup_jaccard_blocked pair semantics
    (within-block, length-filtered, exact Jaccard ≥ 0.4) as (src, dst)."""
    docs = load_table_compute(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", "source", F.array_distinct(F.split("text", " ")).alias("tokset")
    ).withColumn("n_toks", F.size("tokset"))
    a, b = toks.alias("a"), toks.alias("b")
    inter = F.size(F.array_intersect(F.col("a.tokset"), F.col("b.tokset")))
    union = F.size(F.col("a.tokset")) + F.size(F.col("b.tokset")) - inter
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (5 * F.col("b.n_toks") >= 2 * F.col("a.n_toks"))
            & (5 * F.col("a.n_toks") >= 2 * F.col("b.n_toks")),
        )
        .filter(inter.cast("double") / union >= 0.4)
        .select(F.col("a.doc_id").alias("src"), F.col("b.doc_id").alias("dst"))
    )


@query(
    "dedup_connected_components",
    oracle="""
    WITH RECURSIVE
    toks AS (
      SELECT doc_id, lang, source,
             list_distinct(string_split(text, ' ')) AS tokset
      FROM documents
    ),
    edges AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM toks a JOIN toks b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
        AND 5 * len(b.tokset) >= 2 * len(a.tokset)
        AND 5 * len(a.tokset) >= 2 * len(b.tokset)
      WHERE CAST(len(list_intersect(a.tokset, b.tokset)) AS DOUBLE)
            / (len(a.tokset) + len(b.tokset) - len(list_intersect(a.tokset, b.tokset)))
            >= 0.4
    ),
    und AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
    reach(src, dst) AS (
      SELECT src, dst FROM und
      UNION
      SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
    ),
    mins AS (SELECT src AS doc_id, MIN(dst) AS min_reach FROM reach GROUP BY src)
    SELECT
      d.doc_id,
      LEAST(d.doc_id, COALESCE(m.min_reach, d.doc_id)) AS cluster_id,
      d.doc_id = LEAST(d.doc_id, COALESCE(m.min_reach, d.doc_id)) AS is_canonical
    FROM documents d LEFT JOIN mins m ON d.doc_id = m.doc_id
    ORDER BY d.doc_id
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: connected components over the exact-Jaccard
    edge graph via min-label propagation with pointer jumping; each doc
    gets its component's minimum doc_id as cluster_id, and the canonical
    (kept) doc is the minimum itself — the keep-one-per-cluster step that
    turns pair mining into an actual dedup decision.

    Iterative DataFrame algorithm: per round, every vertex takes the min
    label over itself and its neighbors (one join + one grouped min),
    then jumps to its label's label (path halving) — O(log n) rounds to
    converge instead of O(diameter).  ``localCheckpoint`` truncates the
    growing lineage each round; the driver holds only the changed-count.
    The oracle computes the same components via a recursive-CTE
    transitive closure.
    """
    docs = load_table(spark, sf_dir, "documents")
    edges = _jaccard_edges(spark, sf_dir)
    # materialize the edge list once: it feeds every iteration, and lazy
    # recomputation would re-run the (expensive) Jaccard join per round
    und = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    # per-round shuffle load is O(|edges|) (the neighbor join re-shuffles
    # und every round), so the iteration partition count derives from the
    # edge count — NOT a constant: overhead dominates when partitions are
    # tiny, state spills when they are huge; a 1e9-edge dup graph lands
    # at ~5k partitions, sf0.1 at 8.  und is checkpointed → count is cheap.
    n_edges = und.count()
    iter_parts = max(8, min(-(-n_edges // 200_000), 4096))
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(iter_parts))
    try:
        # iterate ONLY over vertices that have at least one edge: isolated
        # docs (the overwhelming majority of a deduped corpus — >90% here,
        # more at 100 TB) keep label = doc_id by definition and would only
        # inflate every per-round join/agg; they rejoin via the left join
        # below after the fixed point.  The init IS propagation round 1:
        # min(self, all neighbors) per vertex — one grouped min instead of
        # a distinct-vertices pass followed by the same round.
        labels = und.select(
            F.col("src").alias("doc_id"), F.least("src", "dst").alias("label")
        ).groupBy("doc_id").agg(F.min("label").alias("label"))
        labels = _propagate_min_labels(und, labels)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return (
        docs.select("doc_id")
        .join(labels, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("label", "doc_id").alias("cluster_id"),
            (F.col("doc_id") == F.coalesce("label", "doc_id")).alias("is_canonical"),
        )
        .orderBy("doc_id")
    )


def _propagate_min_labels(und: DataFrame, labels: DataFrame) -> DataFrame:
    """Min-label propagation + path halving until a fixed point.

    Convergence check: labels only ever decrease, so the label total is
    strictly decreasing until the fixed point — one skinny global agg on
    the just-checkpointed frame per round, instead of a join + filter +
    count against the previous round's labels (measured ~30% of the
    per-round cost at sf0.1)."""
    prev_total: int | None = None
    for _ in range(20):
        nbr = und.join(
            labels, und.src == labels.doc_id
        ).select(F.col("dst").alias("doc_id"), "label")
        merged = (
            labels.unionByName(nbr)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"))
        )
        jump = merged.select(
            F.col("doc_id").alias("j_doc"), F.col("label").alias("j_label")
        )
        new_labels = (
            merged.join(jump, merged.label == F.col("j_doc"), "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("j_label", "label")).alias("label"),
            )
            .localCheckpoint()
        )
        labels = new_labels
        total = new_labels.agg(F.sum("label")).first()[0]
        if total == prev_total:
            break
        prev_total = total
    return labels


@query(
    "dedup_url_canonical",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
        CASE WHEN doc_id % 2 = 0
             THEN 'https://NEWS.Example.COM/page/'
                  || CAST(doc_id // 2 AS VARCHAR) || '/?utm_source=feed&utm_ca=x'
             ELSE 'https://news.example.com/page/'
                  || CAST(doc_id // 2 AS VARCHAR) || '/'
        END AS url
      FROM documents
    ),
    canon AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(lower(url), '\\?utm_[^#]*$', ''),
                            '/+$', '') AS canonical_url
      FROM raw
    )
    SELECT canonical_url,
           COUNT(*) AS n_variants,
           MIN(doc_id) AS keep_doc,
           MAX(doc_id) AS drop_doc
    FROM canon
    GROUP BY canonical_url
    HAVING COUNT(*) > 1
    ORDER BY canonical_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization dedup: lowercase the URL, strip tracking
    query params (utm_*) and trailing slashes, then group — the
    cheapest dedup tier of a web corpus (crawl variants of one page
    collapse BEFORE any content hashing).  The fixture has no URL
    column, so crawl-style variants (uppercase host + utm params vs
    clean) are synthesized deterministically per doc pair; the
    canonicalizer must merge exactly those pairs.

    Pure per-row string work + one grouped agg — the same single
    shuffle as exact dedup at any corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    page = (F.col("doc_id") / 2).cast("long").cast("string")
    url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("https://NEWS.Example.COM/page/"),
            page, F.lit("/?utm_source=feed&utm_ca=x"),
        ),
    ).otherwise(
        F.concat(
            F.lit("https://news.example.com/page/"), page, F.lit("/")
        )
    )
    canon = F.regexp_replace(
        F.regexp_replace(F.lower(url), r"\?utm_[^#]*$", ""), r"/+$", ""
    )
    return (
        docs.select("doc_id", canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count("*").alias("n_variants"),
            F.min("doc_id").alias("keep_doc"),
            F.max("doc_id").alias("drop_doc"),
        )
        .filter(F.col("n_variants") > 1)
        .orderBy("canonical_url")
    )


@query(
    "dedup_levenshtein_blocked",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, source, n_chars, text
      FROM documents WHERE n_chars <= 220
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_distance
    FROM d a JOIN d b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      AND abs(a.n_chars - b.n_chars) <= 60
    WHERE levenshtein(a.text, b.text) <= 60
    ORDER BY doc_a, doc_b
    """,
)
def dedup_levenshtein_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs: EXACT Levenshtein gated by the
    TRUE free lower bound |len(a) − len(b)| ≤ 60 (one edit changes the
    length by at most 1, so a length delta above the distance threshold
    can never qualify — the prefilter is lossless) — the
    character-level complement to the token-level Jaccard family,
    catching typo-grade duplicates token sets miss.

    Scale shape: LENGTH-BUCKET BLOCKING (the join_interval_overlap
    binning trick applied to document length).  Since qualifying pairs
    satisfy |Δlen| ≤ 60, bucket length by floor(n_chars/60): a pair's
    buckets differ by at most 1, so one side explodes to its 3 adjacent
    buckets and both sides equi-join on (lang, source, len_bucket) — a
    plain shuffle-hash join.  Exactly one of the 3 exploded keys equals
    the other side's bucket, so each pair matches once and no dedup is
    needed.  Candidate pairs are bounded per bucket instead of
    quadratic per (lang, source) block: at 100 TB the corpus' length
    distribution spreads over thousands of buckets, so block size — and
    with it the O(n²) pair count the old (lang, source)-only blocking
    suffered — stays bounded as the corpus grows.  The O(n·m) DP runs
    ONLY on pairs surviving the length gate, and the length cap keeps
    each DP bounded."""
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") <= 220)
        .select("doc_id", "lang", "source", "n_chars", "text")
        .withColumn("len_bucket", F.floor(F.col("n_chars") / 60))
    )
    a = d.withColumn(
        "jb",
        F.explode(
            F.array(
                F.col("len_bucket") - 1,
                F.col("len_bucket"),
                F.col("len_bucket") + 1,
            )
        ),
    ).alias("a")
    b = d.alias("b")
    pairs = a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.source") == F.col("b.source"))
        & (F.col("a.jb") == F.col("b.len_bucket"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
        & (F.abs(F.col("a.n_chars") - F.col("b.n_chars")) <= 60),
    )
    # The DP stage is compute-bound on rows AQE sees as tiny, so AQE
    # coalesces it onto one task and serializes the work; the explicit
    # repartition spreads the DP across the cluster.  levenshtein's
    # 3-arg banded form stops each DP early once the running distance
    # exceeds the threshold (returns -1), roughly halving cell work vs
    # the full O(n*m) table.
    return (
        pairs.select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.text").alias("ta"),
            F.col("b.text").alias("tb"),
        )
        .repartition(
            # explicit count: a bare column-repartition is still subject
            # to AQE coalescing, which is exactly the behavior to avoid
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            "doc_a",
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("levenshtein(ta, tb, 60)")
            .cast("bigint")
            .alias("edit_distance"),
        )
        .filter((F.col("edit_distance") >= 0) & (F.col("edit_distance") <= 60))
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_incremental_against_corpus",
    oracle="""
    WITH corpus AS (
      SELECT DISTINCT sha256(text) AS h FROM documents WHERE doc_id % 3 <> 0
    ), batch AS (
      SELECT doc_id, source, sha256(text) AS h
      FROM documents WHERE doc_id % 3 = 0
    )
    SELECT b.doc_id, b.source
    FROM batch b ANTI JOIN corpus c ON b.h = c.h
    ORDER BY b.doc_id
    """,
)
def dedup_incremental_against_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL dedup: an incoming batch (doc_id % 3 = 0 stands in
    for the new crawl drop) anti-joined against the content hashes of
    the EXISTING corpus — the "don't re-ingest what we already have"
    pass that runs on every refresh, distinct from within-corpus dedup
    (dedup_exact).

    The corpus side reduces to distinct 32-byte hashes before the join
    (never the text), so the shuffled build side is hashes only; the
    anti join hash-partitions on the digest, which is uniform by
    construction — no skew, one shuffle each side, and at 100 TB the
    corpus hash set is the small persistent artifact an incremental
    pipeline would keep materialized."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.sha2(F.col("text"), 256)
    corpus = (
        docs.filter(F.col("doc_id") % 3 != 0).select(h.alias("h")).distinct()
    )
    batch = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "source", h.alias("h")
    )
    return (
        batch.join(corpus, "h", "left_anti")
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


@query(
    "dedup_cluster_canonical",
    oracle="""
    WITH scored AS (
      SELECT doc_id, source,
             md5(substr(lower(trim(regexp_replace(text, ' +', ' ', 'g'))),
                        1, 40)) AS h,
             CAST(n_chars AS BIGINT)
               - 5 * (len(text) - len(replace(text, '  ', ''))) AS quality
      FROM documents
    ), ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY h ORDER BY quality DESC, doc_id
      ) AS rk, COUNT(*) OVER (PARTITION BY h) AS n_members
      FROM scored
    )
    SELECT h AS cluster_hash, doc_id AS canonical_doc,
           CAST(quality AS BIGINT) AS quality,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked
    WHERE rk = 1 AND n_members > 1
    ORDER BY cluster_hash
    """,
)
def dedup_cluster_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection WITHIN dup clusters by QUALITY, not
    by arrival order: normalized-PREFIX clusters (the 40-char prefix
    fingerprint groups boilerplate-headed copies that exact hashing
    misses) keep the member with the best quality score (longest
    content, penalized for double-space noise), tie-broken by doc_id — the curation step after any dedup
    pass decides which copy survives (min-doc_id canonicalization, as
    in dedup_exact, keeps whichever copy crawled first; real pipelines
    keep the cleanest).

    One window over the cluster hash: rank-by-quality and member count
    share the single hash-partitioned sort, so the whole selection is
    one shuffle keyed by a uniform 128-bit hash — no skew, no second
    pass, and the per-cluster state is O(1)."""
    docs = load_table(spark, sf_dir, "documents")
    h = F.md5(
        F.substring(F.lower(F.trim(F.regexp_replace("text", " +", " "))), 1, 40)
    )
    quality = (
        F.col("n_chars").cast("bigint")
        - 5 * (F.length("text") - F.length(F.regexp_replace("text", "  ", "")))
    )
    w = Window.partitionBy("h").orderBy(F.col("quality").desc(), "doc_id")
    wc = Window.partitionBy("h")
    return (
        docs.select(
            "doc_id", "source", h.alias("h"), quality.alias("quality")
        )
        .withColumn("rk", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .filter((F.col("rk") == 1) & (F.col("n_members") > 1))
        .select(
            F.col("h").alias("cluster_hash"),
            F.col("doc_id").alias("canonical_doc"),
            F.col("quality").cast("bigint").alias("quality"),
            F.col("n_members").cast("bigint").alias("n_members"),
        )
        .orderBy("cluster_hash")
    )
