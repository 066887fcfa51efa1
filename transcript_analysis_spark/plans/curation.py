"""Corpus-curation operators: the decide/anonymize/compress layer a
large-scale training-data pipeline runs AFTER dedup/quality signals
exist.

The portable-arithmetic discipline of plans/data_pipeline.py applies
throughout — every hash, truncation, and rounding is exact or
fixed-point int64 math both engines reproduce bit-for-bit.

Scale notes, per operator:

- ``pii_k_anonymity``: per-row masking/pseudonymization is map-only;
  the quasi-identifier group sizes are ONE small aggregate
  (|nations| x |segments| x |balance buckets| rows) joined back via
  broadcast — the fact table is never shuffled for suppression.
- ``duplicate_ngram_coverage`` / ``dedup_trim_spans``: the signal and
  the ACTION of exact-substring dedup (Lee et al. 2022,
  "Deduplicating Training Data Makes Language Models Better"), on word
  3-grams. One corpus explode each, collapsed/checkpointed into a
  sufficient-statistic table; all shuffles on shingle/doc_id keys,
  never doc x doc; the trim rewrite is a per-row indexed filter
  lambda, not a token explode + ordered re-aggregation.
- ``dedup_keep_best``: one surviving document per near-dup connected
  component (longest text, then smallest doc_id) — a single
  struct-max hash aggregate after the O(log n)-round contraction.
- ``bpe_merge_learn`` / ``bpe_encode_stats``: iterative tokenizer
  training (operators/bpe.py) — one corpus-sized aggregate, then
  vocabulary-sized merge rounds, corpus-size-independent.
- ``lm_perplexity_filter``: corpus-self-trained bigram-LM quality
  gate; int64-quantized model logps make NLL sums exact integer math.
- ``hybrid_rrf_fusion``: reciprocal-rank fusion of BM25 relevance and
  the quality prior; global ranks via the bucketed-rank pattern (no
  single-task window), fused score as an exact integer rational.
- ``dataset_split_assignment``: content-hash train/val/test split —
  reproducible, growth-stable, leak-free for exact copies; map-only.
- ``embedding_int8_quantize``: symmetric per-vector int8 quantization
  (4x storage compression for ANN); per-row JVM array math with
  fixed-point integer outputs.

Reference parity: the reference keeps raw identities and full text in
PostgreSQL (`sql/schema.sql`) and has no curation stage; these
operators are the scale-path additions the task brief asks for beyond
reference coverage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transcript_analysis_spark.functions.rounding import (
    duck_round_ratio,
    duck_round_ratio_wide,
    duck_round_ratio_wide_q,
    spark_round_ratio,
    spark_round_ratio_wide,
)
from transcript_analysis_spark.operators.components import connected_components
from transcript_analysis_spark.plans.data_pipeline import (
    _DUCK_SHINGLES,
    _STOPWORDS,
    _duck_minhash_select,
    _t,
    duck_char_hash,
    minhash_lsh_candidate_pairs,
    spark_char_hash,
)
from transcript_analysis_spark.plans.registry import register
from transcript_analysis_spark.sources.tables import fanout

# --- PII / k-anonymity ----------------------------------------------------

K_ANON = 5                 # minimum quasi-identifier group size
BAL_BUCKET_WIDTH = 1000.0  # acctbal generalization width
SUPPRESSED_INT = -1        # integer quasi-identifiers under k -> sentinel
SUPPRESSED_STR = "*"       # string quasi-identifiers under k -> sentinel


@register(
    "pii_k_anonymity",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey,
             regexp_replace(c_name, '[0-9]', '#', 'g') AS name_masked,
             'cust-' || CAST({duck_char_hash('c_name')} AS VARCHAR)
               AS name_token,
             c_nationkey,
             c_mktsegment,
             CAST(floor(c_acctbal / {BAL_BUCKET_WIDTH}) AS BIGINT)
               AS bal_bucket
      FROM customer
    ),
    groups AS (
      SELECT c_nationkey, c_mktsegment, bal_bucket,
             CAST(COUNT(*) AS BIGINT) AS group_size
      FROM base GROUP BY c_nationkey, c_mktsegment, bal_bucket
    )
    SELECT b.c_custkey, b.name_masked, b.name_token,
           CASE WHEN g.group_size < {K_ANON} THEN {SUPPRESSED_INT}
                ELSE b.c_nationkey END AS nation_out,
           CASE WHEN g.group_size < {K_ANON} THEN '{SUPPRESSED_STR}'
                ELSE b.c_mktsegment END AS segment_out,
           CASE WHEN g.group_size < {K_ANON} THEN {SUPPRESSED_INT}
                ELSE b.bal_bucket END AS bal_bucket_out,
           g.group_size,
           g.group_size < {K_ANON} AS suppressed
    FROM base b
    JOIN groups g
      ON g.c_nationkey = b.c_nationkey
     AND g.c_mktsegment = b.c_mktsegment
     AND g.bal_bucket = b.bal_bucket
    """,
    tags=("curation", "pii"),
)
def pii_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anonymize the customer table for corpus release: mask digits in
    the display name, derive a stable pseudonym from the portable
    content hash (joinable across releases without exposing the
    name), generalize the account balance into coarse buckets, and
    suppress the quasi-identifier columns of any
    (nation, segment, balance-bucket) group smaller than k=5 —
    classic k-anonymity suppression.

    Plan shape: per-row masking is map-only; group sizes are one tiny
    aggregate broadcast back (the fact side is never shuffled)."""
    base = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]", "#").alias("name_masked"),
        F.concat(F.lit("cust-"),
                 F.expr(spark_char_hash("c_name")).cast("string"))
            .alias("name_token"),
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / BAL_BUCKET_WIDTH).cast("long")
            .alias("bal_bucket"),
    )
    groups = (base.groupBy("c_nationkey", "c_mktsegment", "bal_bucket")
              .agg(F.count(F.lit(1)).alias("group_size")))
    joined = base.join(F.broadcast(groups),
                       ["c_nationkey", "c_mktsegment", "bal_bucket"])
    supp = F.col("group_size") < K_ANON
    return joined.select(
        "c_custkey", "name_masked", "name_token",
        F.when(supp, F.lit(SUPPRESSED_INT))
         .otherwise(F.col("c_nationkey")).cast("int").alias("nation_out"),
        F.when(supp, F.lit(SUPPRESSED_STR))
         .otherwise(F.col("c_mktsegment")).alias("segment_out"),
        F.when(supp, F.lit(SUPPRESSED_INT))
         .otherwise(F.col("bal_bucket")).cast("long").alias("bal_bucket_out"),
        F.col("group_size").cast("long").alias("group_size"),
        supp.alias("suppressed"),
    )


# --- duplicate n-gram coverage -------------------------------------------

def _dup_coverage(occ_counts: DataFrame) -> DataFrame:
    """duplicate_ngram_coverage's tail over per-(doc_id, shingle)
    occurrence counts ``n_occ``: (doc_id, n_positions,
    n_dup_positions, dup_fraction). Shared with corpus_release_prep."""
    dup = (occ_counts
           .groupBy("shingle")
           .agg(F.count(F.lit(1)).alias("n_docs"))
           .filter(F.col("n_docs") >= 2)
           .select("shingle", F.lit(1).alias("is_dup")))
    marked = occ_counts.join(dup, "shingle", "left")
    return (marked.groupBy("doc_id")
            .agg(F.sum("n_occ").cast("long").alias("n_positions"),
                 F.sum(F.when(F.col("is_dup").isNotNull(), F.col("n_occ"))
                        .otherwise(F.lit(0))).cast("long")
                  .alias("n_dup_positions"))
            .withColumn("dup_fraction",
                        spark_round_ratio("n_dup_positions",
                                          "n_positions", 6)))


@register(
    "duplicate_ngram_coverage",
    oracle=f"""
    WITH docs_w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    occ AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, GREATEST(0, CAST(len(words) AS BIGINT) - 2)),
               i -> array_to_string(words[i:i+2], ' '))) AS shingle
      FROM docs_w
    ),
    dup AS (
      SELECT shingle
      FROM (SELECT shingle, COUNT(DISTINCT doc_id) AS n_docs
            FROM occ GROUP BY shingle)
      WHERE n_docs >= 2
    )
    SELECT o.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_positions,
           CAST(SUM(CASE WHEN d.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_positions,
           {duck_round_ratio(
               "SUM(CASE WHEN d.shingle IS NOT NULL THEN 1 ELSE 0 END)",
               "COUNT(*)", 6)} AS dup_fraction
    FROM occ o LEFT JOIN dup d ON d.shingle = o.shingle
    GROUP BY o.doc_id
    """,
    headline=True,
    tags=("curation", "dedup"),
)
def duplicate_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-text coverage: the fraction of word
    3-gram POSITIONS whose shingle also occurs in at least one other
    document — the doc-level statistic exact-substring dedup uses to
    decide trim-vs-drop (Lee et al. 2022). Positional occurrences
    (not the distinct shingle set) so a doc that repeats a cross-doc
    shingle many times is scored accordingly.

    Plan shape: one distinct+count aggregate on the shingle key to
    build the duplicated-shingle set, one shingle-key left join to
    mark positions, one doc_id aggregate. All shuffles are on the
    shingle / doc_id keys — candidate work is O(total positions),
    never doc x doc."""
    docs = (fanout(_t(spark, sf_dir, "documents"))
            .select("doc_id", F.split("text", " ").alias("words")))
    # ONE corpus explode, collapsed immediately to the per-(doc,
    # shingle) occurrence counts — the sufficient statistic for both
    # the duplicated-shingle set and the coverage rollup. Materialized
    # once (localCheckpoint) so neither branch re-shingles the corpus.
    occ_counts = (docs.select("doc_id", F.explode(F.expr(
        "CASE WHEN size(words) >= 3 THEN"
        " transform(sequence(1, size(words) - 2),"
        " i -> concat_ws(' ', slice(words, i, 3)))"
        " ELSE array() END")).alias("shingle"))
        .groupBy("doc_id", "shingle")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .localCheckpoint(eager=True))
    return _dup_coverage(occ_counts)


# --- hybrid rank fusion ---------------------------------------------------

RRF_K = 60  # standard reciprocal-rank-fusion constant


def _bucketed_rank(df: DataFrame, score_col: str, rank_col: str) -> DataFrame:
    """Exact global dense ordering rank (row_number by score desc,
    doc_id asc) WITHOUT a global single-task window: scores are
    bucketed (floor(score*100) — equal scores always share a bucket,
    buckets order with scores), ranks are row_numbers within each
    bucket partition, and each bucket's offset is the count of rows in
    strictly-higher buckets, computed by a non-equi join over the
    O(#buckets) count table. Scales as a partitioned window + a tiny
    broadcast join instead of one task sorting the world."""
    from pyspark.sql import Window

    # Both the bucketed frame and its count table are referenced from
    # two branches each (counts + the rank join; the x/y sides of the
    # offset self-join) — unpinned, the INPUT subtree re-derives once
    # per reference, and nesting two ranks multiplied that to ~4x the
    # input plan (hybrid_rrf_fusion re-scanned documents 21x). The
    # pins are the narrow-base discipline: `b` is input + one bucket
    # column (per-row narrow), `counts` is O(#buckets) rows.
    b = df.withColumn("_bkt", F.expr(
        f"cast(floor({score_col} * 100) as bigint)")) \
        .localCheckpoint(eager=True)
    counts = (b.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_c"))
              .localCheckpoint(eager=True))
    offs = (counts.alias("x")
            .join(F.broadcast(counts.alias("y")),
                  F.col("y._bkt") > F.col("x._bkt"), "left")
            .groupBy(F.col("x._bkt").alias("_bkt"))
            .agg(F.coalesce(F.sum("y._c"), F.lit(0)).alias("_off")))
    w = Window.partitionBy("_bkt").orderBy(F.desc(score_col),
                                           F.asc("doc_id"))
    return (b.join(F.broadcast(offs), "_bkt")
            .withColumn(rank_col,
                        (F.col("_off") + F.row_number().over(w))
                        .cast("long"))
            .drop("_bkt", "_c", "_off"))


def _register_rrf() -> None:
    # oracle composed from the already-registered component oracles;
    # import scale_ops explicitly so a direct `import curation` (tests)
    # registers bm25_scores before the lookup
    from transcript_analysis_spark.plans import scale_ops  # noqa: F401
    from transcript_analysis_spark.plans.registry import _REGISTRY
    bm_oracle = _REGISTRY["bm25_scores"].oracle
    q_oracle = _REGISTRY["text_quality_scores"].oracle

    @register(
        "hybrid_rrf_fusion",
        oracle=f"""
        WITH bm AS ({bm_oracle}),
        q AS ({q_oracle}),
        j AS (
          SELECT bm.doc_id, bm.bm25, q.quality
          FROM bm JOIN q ON q.doc_id = bm.doc_id
        ),
        ranked AS (
          SELECT doc_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                      AS BIGINT) AS rank_bm25,
                 CAST(ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id)
                      AS BIGINT) AS rank_quality
          FROM j
        )
        SELECT doc_id, rank_bm25, rank_quality,
               {duck_round_ratio(
                   f'rank_bm25 + rank_quality + 2 * {RRF_K}',
                   f'({RRF_K} + rank_bm25) * ({RRF_K} + rank_quality)',
                   6)} AS rrf
        FROM ranked
        """,
        tags=("curation", "ranking"),
    )
    def hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Reciprocal-rank fusion of two retrieval signals — BM25
        lexical relevance and the text-quality prior — the standard
        hybrid-search combiner (Cormack et al. 2009):
        rrf = 1/(k + r_bm25) + 1/(k + r_quality), k = 60.

        Exactness: both input scores are already engine-exact rounded
        values, ranks are integers, and the fused score is the exact
        integer rational (r_a + r_b + 2k) / ((k + r_a)(k + r_b))
        half-up-rounded via functions/rounding.py — no float-sum or
        round-boundary hazard (1/(60+r) alone CAN terminate exactly on
        a decimal half at r=68, which plain round() would split on).

        Scale: global ranking uses the bucketed-rank pattern (no
        single-task window); the fusion itself is per-row math."""
        from transcript_analysis_spark.plans.data_pipeline import (
            text_quality_scores)
        from transcript_analysis_spark.plans.scale_ops import bm25_scores
        bm = bm25_scores(spark, sf_dir).select("doc_id", "bm25")
        q = text_quality_scores(spark, sf_dir).select("doc_id", "quality")
        j = bm.join(q, "doc_id")
        ranked = _bucketed_rank(
            _bucketed_rank(j, "bm25", "rank_bm25"),
            "quality", "rank_quality")
        num = f"rank_bm25 + rank_quality + 2 * {RRF_K}"
        den = f"({RRF_K} + rank_bm25) * ({RRF_K} + rank_quality)"
        return ranked.select(
            "doc_id", "rank_bm25", "rank_quality",
            spark_round_ratio(num, den, 6).alias("rrf"))


_register_rrf()


# --- deterministic dataset split -----------------------------------------

SPLIT_BUCKETS = 10  # hash-mod buckets: 0-7 train, 8 val, 9 test


@register(
    "dataset_split_assignment",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id, lang,
             ({duck_char_hash("text || '|split'")}) % {SPLIT_BUCKETS}
               AS bucket
      FROM documents
    )
    SELECT doc_id, lang,
           CASE WHEN bucket <= 7 THEN 'train'
                WHEN bucket = 8 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """,
    tags=("curation", "sampling"),
)
def dataset_split_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content hash
    (80/10/10 in expectation): reproducible across engines and runs,
    stable under corpus growth (a doc's split never changes when other
    docs arrive — unlike row_number modulo), and content-keyed so
    exact duplicates land in the SAME split (no train/test leakage
    through copies). Map-only: zero shuffle.

    The '|split' salt decorrelates this hash from every other use of
    the content hash (sampling, fingerprints): membership in the
    sample set and the test set stay independent."""
    d = _t(spark, sf_dir, "documents")
    bucket = F.expr(spark_char_hash("text || '|split'")) % SPLIT_BUCKETS
    return d.select(
        "doc_id", "lang",
        F.when(bucket <= 7, F.lit("train"))
         .when(bucket == 8, F.lit("val"))
         .otherwise(F.lit("test")).alias("split"))


# --- duplicate-span trimming ---------------------------------------------

@register(
    "dedup_trim_spans",
    oracle=f"""
    WITH docs_w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    pos AS (
      SELECT doc_id, i,
             array_to_string(words[i:i+2], ' ') AS shingle
      FROM docs_w,
           unnest(generate_series(1, GREATEST(0, CAST(len(words) AS BIGINT) - 2)))
             AS t(i)
    ),
    dup AS (
      SELECT shingle
      FROM (SELECT shingle, COUNT(DISTINCT doc_id) AS n_docs
            FROM pos GROUP BY shingle)
      WHERE n_docs >= 2
    ),
    cov AS (
      SELECT DISTINCT p.doc_id, p.i + o.off AS t
      FROM pos p JOIN dup d ON d.shingle = p.shingle
      CROSS JOIN (VALUES (0), (1), (2)) AS o(off)
    ),
    tokens AS (
      SELECT doc_id, i AS t, words[i] AS w
      FROM docs_w,
           unnest(generate_series(1, CAST(len(words) AS BIGINT))) AS u(i)
    )
    SELECT k.doc_id,
           COALESCE(string_agg(k.w, ' ' ORDER BY k.t), '') AS trimmed_text,
           CAST(COUNT(k.w) AS BIGINT) AS n_kept,
           CAST(MAX(k.total) - COUNT(k.w) AS BIGINT) AS n_dropped
    FROM (
      SELECT tk.doc_id, tk.t,
             CASE WHEN c.t IS NULL THEN tk.w END AS w,
             CAST(len(d.words) AS BIGINT) AS total
      FROM tokens tk
      JOIN docs_w d ON d.doc_id = tk.doc_id
      LEFT JOIN cov c ON c.doc_id = tk.doc_id AND c.t = tk.t
    ) k
    GROUP BY k.doc_id
    """,
    tags=("curation", "dedup"),
)
def dedup_trim_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ACTION of exact-substring dedup: rewrite every document
    with cross-document duplicated spans removed. A token survives iff
    no duplicated 3-gram window covers its position (Lee et al. 2022's
    span removal, at shingle granularity).

    Plan shape: one positional-shingle explode (checkpointed once,
    reused for the duplicated-set build and the coverage expansion);
    covered positions collapse to a PER-DOC array via collect_set, and
    the rewrite itself is per-row JVM array math — an indexed
    `filter` lambda over the original words — so the corpus text is
    never exploded token-by-token or re-assembled through an ordered
    string aggregate."""
    docs = (fanout(_t(spark, sf_dir, "documents"))
            .select("doc_id", F.split("text", " ").alias("words")))
    pos = (docs.select("doc_id", F.explode(F.expr(
        "CASE WHEN size(words) >= 3 THEN"
        " transform(sequence(1, size(words) - 2),"
        " i -> struct(i as i, concat_ws(' ', slice(words, i, 3)) as s))"
        " ELSE array() END")).alias("p"))
        .select("doc_id", F.col("p.i").alias("i"),
                F.col("p.s").alias("shingle"))
        .localCheckpoint(eager=True))
    dup = (pos.select("doc_id", "shingle").distinct()
           .groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
           .filter(F.col("n_docs") >= 2).select("shingle"))
    cov = (pos.join(dup, "shingle")
           .select("doc_id", F.explode(F.expr(
               "array(i, i + 1, i + 2)")).alias("t"))
           .distinct()
           .groupBy("doc_id").agg(F.collect_set("t").alias("cov_arr")))
    joined = docs.join(cov, "doc_id", "left").withColumn(
        "kept", F.expr(
            "filter(words, (w, idx) ->"
            " NOT array_contains(coalesce(cov_arr, array()), idx + 1))"))
    return joined.select(
        "doc_id",
        F.concat_ws(" ", F.col("kept")).alias("trimmed_text"),
        F.size("kept").cast("long").alias("n_kept"),
        (F.size("words") - F.size("kept")).cast("long").alias("n_dropped"))


# --- canonical selection over near-dup components ------------------------

def _duck_lsh_component_ctes() -> str:
    """The recursive-CTE component labeling shared with
    `neardup_components` (plans/data_pipeline.py) — minhash bands ->
    candidate pairs -> min-label transitive walk."""
    return f"""{_DUCK_SHINGLES},
    hashed AS (
      SELECT doc_id, {duck_char_hash('shingle')} AS h FROM shingles
    ),
    sig AS (
      SELECT doc_id, {_duck_minhash_select()}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      SELECT doc_id, 0 AS band, CAST(mh0 AS VARCHAR) || '_' || CAST(mh1 AS VARCHAR) AS key FROM sig
      UNION ALL
      SELECT doc_id, 1, CAST(mh2 AS VARCHAR) || '_' || CAST(mh3 AS VARCHAR) FROM sig
      UNION ALL
      SELECT doc_id, 2, CAST(mh4 AS VARCHAR) || '_' || CAST(mh5 AS VARCHAR) FROM sig
      UNION ALL
      SELECT doc_id, 3, CAST(mh6 AS VARCHAR) || '_' || CAST(mh7 AS VARCHAR) FROM sig
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs
      UNION SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT u AS n FROM edges),
    walk(n, label) AS (
      SELECT n, n FROM nodes
      UNION
      SELECT e.u, w.label
      FROM walk w JOIN edges e ON e.v = w.n
      WHERE w.label < e.u
    ),
    comp AS (SELECT n AS doc_id, MIN(label) AS component_id FROM walk GROUP BY n)"""


@register(
    "dedup_keep_best",
    oracle=f"""
    WITH RECURSIVE {_duck_lsh_component_ctes()},
    member AS (
      SELECT c.component_id, c.doc_id, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.doc_id
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY component_id
                                   ORDER BY n_chars DESC, doc_id ASC) AS rk
      FROM member
    )
    SELECT component_id,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_discarded,
           CAST(MAX(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
             AS kept_doc_id,
           CAST(MAX(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
             AS kept_n_chars
    FROM ranked GROUP BY component_id
    """,
    tags=("curation", "dedup", "iterative"),
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decision step of near-duplicate dedup: within each LSH
    connected component, KEEP the best document (longest text;
    doc_id breaks ties) and count what gets discarded. This is what
    a 100 TB dedup job actually emits — a keep-list, not a pair
    list.

    Plan shape: component labels come from the O(log n)-round
    large-star/small-star contraction (`operators/components.py`);
    the per-component winner is a single hash-aggregate with a
    struct max (no window function, no per-component sort)."""
    pairs = minhash_lsh_candidate_pairs(spark, sf_dir)
    labels = connected_components(
        pairs.selectExpr("doc_a as u", "doc_b as v"))
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = labels.join(docs, labels["n"] == docs["doc_id"])
    return (members.groupBy(F.col("label").alias("component_id"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_members"),
                 (F.count(F.lit(1)) - 1).cast("long").alias("n_discarded"),
                 F.max(F.struct(
                     F.col("n_chars"),
                     (-F.col("doc_id")).alias("neg_id"))).alias("best"))
            .select("component_id", "n_members", "n_discarded",
                    (-F.col("best.neg_id")).cast("long").alias("kept_doc_id"),
                    F.col("best.n_chars").cast("long").alias("kept_n_chars")))


# --- BPE tokenizer training ----------------------------------------------

BPE_N_MERGES = 10

# Oracle construction for the iterative BPE loop (upgrading it from
# rows-only): each learned round is UNROLLED into CTEs — the
# kmeans_centroids / pagerank trajectory-oracle discipline applied to
# tokenizer training. The per-round merge application exploits an
# encoding trick: every symbol is wrapped in its own separator pair
# (sep + sym + sep, 0x1F — absent from any text by construction), so
# the merge of pair (l, r) is EXACTLY DuckDB's left-to-right
# non-overlapping replace of sep+l+sep+sep+r+sep — boundary-anchored
# on both sides (no mid-symbol false matches, e.g. pair (b,c) cannot
# fire inside symbol "ab"), and adjacent occurrences share no
# characters, so 'aaaa' under (a,a) becomes [aa, aa] exactly like the
# engine's fold (a freshly merged symbol is never the left side of
# another merge in the same pass: merged = l||r != l). Verified
# merge-for-merge against the Spark loop (which is itself pinned
# against a pure-Python reference).
_BPE_SEP = "\x1f"


def _duck_bpe_rounds(n: int) -> str:
    S = _BPE_SEP
    ctes = [f"""v0 AS (
      SELECT array_to_string(list_transform(string_split(word, ''),
               c -> '{S}' || c || '{S}'), '') AS s,
             CAST(COUNT(*) AS BIGINT) AS weight
      FROM (SELECT unnest(list_filter(string_split(text, ' '),
                          w -> w != '')) AS word FROM documents)
      GROUP BY 1
    )"""]
    for k in range(1, n + 1):
        prev = f"v{k-1}"
        ctes.append(f"""p{k} AS (
      SELECT syms[i] AS l, syms[i+1] AS r, CAST(SUM(weight) AS BIGINT) AS wc
      FROM (SELECT list_filter(string_split(s, '{S}'), x -> x != '') AS syms,
                   weight FROM {prev}) z,
           unnest(generate_series(1, GREATEST(0, CAST(len(syms) AS BIGINT) - 1))) AS t(i)
      GROUP BY 1, 2
    ),
    t{k} AS MATERIALIZED (SELECT l, r, wc FROM p{k}
                          ORDER BY wc DESC, l, r LIMIT 1),
    v{k} AS MATERIALIZED (
      SELECT replace(v.s, '{S}' || t.l || '{S}' || '{S}' || t.r || '{S}',
                     '{S}' || t.l || t.r || '{S}') AS s, v.weight
      FROM {prev} v CROSS JOIN t{k} t
    )""")
    return ",\n    ".join(ctes)


def _duck_bpe_learn_oracle() -> str:
    return f"""
    WITH {_duck_bpe_rounds(BPE_N_MERGES)}
    SELECT * FROM (
      {" UNION ALL ".join(
        f'SELECT CAST({k} AS INT) AS rank, l AS "left", r AS "right",'
        f' l || r AS merged, wc AS weighted_count FROM t{k}'
        for k in range(1, BPE_N_MERGES + 1))}
    )
    """


def _duck_bpe_encode_oracle() -> str:
    S = _BPE_SEP
    expr = "d.s"
    for k in range(1, BPE_N_MERGES + 1):
        expr = (f"replace({expr}, '{S}' || t{k}.l || '{S}' || '{S}'"
                f" || t{k}.r || '{S}', '{S}' || t{k}.l || t{k}.r || '{S}')")
    joins = " ".join(f"CROSS JOIN t{k}" for k in range(1, BPE_N_MERGES + 1))
    return f"""
    WITH {_duck_bpe_rounds(BPE_N_MERGES)},
    dwords AS (
      SELECT doc_id, array_to_string(list_transform(string_split(word, ''),
               c -> '{S}' || c || '{S}'), '') AS s
      FROM (SELECT doc_id, unnest(list_filter(string_split(text, ' '),
                            w -> w != '')) AS word FROM documents)
    ),
    enc AS (
      SELECT d.doc_id,
             list_filter(string_split({expr}, '{S}'), x -> x != '') AS toks
      FROM dwords d {joins}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(len(toks)) AS BIGINT) AS n_subword_tokens,
           CAST(SUM(len(list_filter(toks, t -> length(t) >= 2))) AS BIGINT)
             AS n_merged_tokens
    FROM enc GROUP BY doc_id
    """


@register(
    "bpe_merge_learn",
    oracle=None,  # composed below: the unrolled-rounds SQL is built by
                  # a helper shared with bpe_encode_stats
    tags=("curation", "tokenizer", "iterative"),
)
def bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (Sennrich et al. 2016): the first
    `BPE_N_MERGES` learned merges over the corpus, frequency-weighted.
    One corpus-sized aggregate collapses the text to a (word, weight)
    vocabulary; every merge round then runs on vocabulary cardinality
    — corpus-size-independent, the `operators/bpe.py` loop.

    Oracle-checked as of round 6: the rounds are UNROLLED into
    generated SQL (the kmeans/pagerank trajectory discipline) with
    merge application as boundary-anchored string replace over
    separator-wrapped symbols — see `_duck_bpe_rounds`. The weaker
    claim that "no SQL oracle is possible" was wrong: recursion was
    never needed, only unrolling."""
    from transcript_analysis_spark.operators.bpe import learn_bpe_merges
    docs = fanout(_t(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(docs, n_merges=BPE_N_MERGES)
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string,"
        " weighted_count long")


@register(
    "bpe_encode_stats",
    oracle=None,  # composed below (shares the unrolled-rounds helper)
    tags=("curation", "tokenizer"),
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode every document with the learned BPE merge table and
    report token statistics — the apply side of tokenizer training.
    The merge table is a constant folded into the JVM expression tree
    (map-only over the corpus: nothing broadcast, nothing shuffled)."""
    from transcript_analysis_spark.operators.bpe import (
        apply_bpe, learn_bpe_merges)
    docs = fanout(_t(spark, sf_dir, "documents"))
    merges = learn_bpe_merges(docs, n_merges=BPE_N_MERGES)
    return apply_bpe(docs, merges)


# Attach the composed unrolled oracles (built from one shared rounds
# helper so learn and encode can never diverge). This upgrades both
# BPE queries from rows-only to fully oracle-checked — the driver's
# last two "no_oracle" rows are gone.
from transcript_analysis_spark.plans.registry import _REGISTRY as _CURATION_REG  # noqa: E402
_CURATION_REG["bpe_merge_learn"].oracle = _duck_bpe_learn_oracle()
_CURATION_REG["bpe_encode_stats"].oracle = _duck_bpe_encode_oracle()


# --- self-trained LM perplexity filter -----------------------------------

LM_ALPHA_NUM = 1        # add-alpha smoothing a = 1/2: P = (2*c2+1)/(2*c1+V)
NLL_FLAG_THRESHOLD = 3.45   # flag docs with avg bigram NLL above this


def _bigram_positions(docs_w: DataFrame) -> DataFrame:
    """One (doc_id, w1, w2) row per adjacent word pair of a
    (doc_id, words) frame — the bigram explode of both LM queries."""
    return (docs_w.select("doc_id", F.explode(F.expr(
        "CASE WHEN size(words) >= 2 THEN"
        " transform(sequence(1, size(words) - 1),"
        " i -> struct(element_at(words, i) as w1,"
        "             element_at(words, i + 1) as w2))"
        " ELSE array() END")).alias("bg"))
        .select("doc_id", F.col("bg.w1").alias("w1"),
                F.col("bg.w2").alias("w2")))


def _lm_scored(pos_counts: DataFrame) -> DataFrame:
    """lm_perplexity_filter's tail over per-(doc_id, w1, w2) bigram
    counts ``cnt``: fit the smoothed bigram model on the counts and
    score them, giving (doc_id, n_bigrams, nll_e9). Shared with
    corpus_release_prep."""
    big = pos_counts.groupBy("w1", "w2").agg(F.sum("cnt").alias("c2"))
    uni = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (big.select(F.col("w1").alias("w"))
             .union(big.select(F.col("w2").alias("w")))
             .distinct()
             .agg(F.count(F.lit(1)).alias("v")))
    model = (big.join(uni, "w1").join(F.broadcast(vocab))
             .select("w1", "w2", F.expr(
                 "cast(round(ln((2.0 * c2 + 1.0) / (2.0 * c1 + v))"
                 " * 1000000000.0) as bigint)").alias("logp_e9")))
    return (pos_counts.join(F.broadcast(model), ["w1", "w2"])
            .groupBy("doc_id")
            .agg(F.sum("cnt").cast("long").alias("n_bigrams"),
                 (-F.sum(F.col("cnt") * F.col("logp_e9"))).cast("long")
                  .alias("nll_e9")))


@register(
    "lm_perplexity_filter",
    oracle=f"""
    WITH docs_w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    pos AS (
      SELECT doc_id,
             words[i]     AS w1,
             words[i + 1] AS w2
      FROM docs_w,
           unnest(generate_series(1, GREATEST(0, CAST(len(words) AS BIGINT) - 1)))
             AS t(i)
    ),
    pc AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
           FROM pos GROUP BY doc_id, w1, w2),
    big AS (SELECT w1, w2, CAST(SUM(cnt) AS BIGINT) AS c2
            FROM pc GROUP BY w1, w2),
    uni AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1
            FROM big GROUP BY w1),
    vocab AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v
      FROM (SELECT w1 AS w FROM big UNION SELECT w2 FROM big)
    ),
    model AS (
      SELECT b.w1, b.w2,
             CAST(round(ln((2.0 * b.c2 + 1.0) / (2.0 * u.c1 + v.v))
                        * 1000000000.0) AS BIGINT) AS logp_e9
      FROM big b JOIN uni u ON u.w1 = b.w1 CROSS JOIN vocab v
    ),
    scored AS (
      SELECT p.doc_id,
             CAST(SUM(p.cnt) AS BIGINT) AS n_bigrams,
             CAST(-SUM(p.cnt * m.logp_e9) AS BIGINT) AS nll_e9
      FROM pc p JOIN model m ON m.w1 = p.w1 AND m.w2 = p.w2
      GROUP BY p.doc_id
    )
    SELECT doc_id, n_bigrams,
           {duck_round_ratio('nll_e9', 'n_bigrams', 4, n_prescale=9)}
             AS avg_nll,
           round(exp({duck_round_ratio('nll_e9', 'n_bigrams', 4,
                                       n_prescale=9)}), 3) AS ppl,
           {duck_round_ratio('nll_e9', 'n_bigrams', 4, n_prescale=9)}
             > {NLL_FLAG_THRESHOLD} AS flagged
    FROM scored
    """,
    headline=True,
    tags=("curation", "quality", "lm"),
)
def lm_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-based quality gate with a corpus-SELF-TRAINED bigram
    LM (the CCNet/KenLM pattern: docs whose text surprises a model of
    the corpus are flagged). Model: add-1/2-smoothed bigram
    P(w2|w1) = (2*c(w1,w2) + 1) / (2*c(w1) + V), where c(w1) is w1's
    CONTEXT count (sum of its outgoing bigrams) and V the distinct
    words observed in bigram positions — both derivable from the
    bigram counts alone, trained and applied in the same plan.

    Cross-engine determinism: each model entry's log-probability is
    quantized ONCE to int64 fixed point (round(ln(p) * 1e9), the
    fourgram_model_score discipline), so per-doc NLL totals are exact
    integer sums — immune to float summation order — and the final
    average is the integer-ratio half-up rounding of
    functions/rounding.py. The flag threshold compares that exact
    rounded value, so the boolean is deterministic too.

    Plan shape at scale: ONE corpus explode, collapsed immediately to
    per-(doc, bigram) counts and materialized (localCheckpoint) — the
    sufficient statistic for BOTH model fitting and scoring, so the
    corpus is shingled once, not once per branch. Everything above it
    is vocabulary-sized; the model is BROADCAST back to the count
    table (never a corpus shuffle on the model key), and the only
    corpus-keyed shuffle is the final doc_id rollup."""
    docs = (fanout(_t(spark, sf_dir, "documents"))
            .select("doc_id", F.split("text", " ").alias("words")))
    pos_counts = (_bigram_positions(docs)
                  .groupBy("doc_id", "w1", "w2")
                  .agg(F.count(F.lit(1)).alias("cnt"))
                  .localCheckpoint(eager=True))
    scored = _lm_scored(pos_counts)
    avg_nll = spark_round_ratio("nll_e9", "n_bigrams", 4, n_prescale=9)
    return scored.select(
        "doc_id", "n_bigrams",
        avg_nll.alias("avg_nll"),
        F.round(F.exp(avg_nll), 3).alias("ppl"),
        (avg_nll > NLL_FLAG_THRESHOLD).alias("flagged"))


# --- held-out LM eval with stupid backoff ---------------------------------

BACKOFF_ALPHA = 0.4  # stupid-backoff discount (Brants et al. 2007)


def _register_backoff_eval() -> None:
    from transcript_analysis_spark.plans.data_pipeline import EVAL_SOURCES

    train_pred = f"source NOT IN {EVAL_SOURCES!r}"
    eval_pred = f"source IN {EVAL_SOURCES!r}"

    @register(
        "lm_backoff_eval",
        oracle=f"""
        WITH train_w AS (
          SELECT doc_id, string_split(text, ' ') AS words
          FROM documents WHERE {train_pred}
        ),
        eval_w AS (
          SELECT doc_id, string_split(text, ' ') AS words
          FROM documents WHERE {eval_pred}
        ),
        ttok AS (SELECT unnest(words) AS w FROM train_w),
        tstats AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS t,
                 CAST(COUNT(DISTINCT w) AS BIGINT) AS v
          FROM ttok
        ),
        uni AS (
          SELECT w, CAST(COUNT(*) AS BIGINT) AS u FROM ttok GROUP BY w
        ),
        tpos AS (
          SELECT words[i] AS w1, words[i + 1] AS w2
          FROM train_w,
               unnest(generate_series(1, GREATEST(0, CAST(len(words) AS BIGINT) - 1)))
                 AS x(i)
        ),
        big AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
                FROM tpos GROUP BY w1, w2),
        ctx AS (SELECT w1, CAST(SUM(c2) AS BIGINT) AS c1
                FROM big GROUP BY w1),
        bimodel AS (
          SELECT b.w1, b.w2,
                 CAST(round(ln((2.0 * b.c2 + 1.0) / (2.0 * x.c1 + s.v))
                            * 1000000000.0) AS BIGINT) AS logp_e9
          FROM big b JOIN ctx x ON x.w1 = b.w1 CROSS JOIN tstats s
        ),
        unimodel AS (
          SELECT u.w,
                 CAST(round((ln({BACKOFF_ALPHA})
                             + ln((2.0 * u.u + 1.0) / (2.0 * s.t + s.v)))
                            * 1000000000.0) AS BIGINT) AS logp_e9
          FROM uni u CROSS JOIN tstats s
        ),
        oov AS (
          SELECT CAST(round((ln({BACKOFF_ALPHA})
                             + ln(1.0 / (2.0 * s.t + s.v)))
                            * 1000000000.0) AS BIGINT) AS logp_e9
          FROM tstats s
        ),
        epos AS (
          SELECT doc_id, words[i] AS w1, words[i + 1] AS w2
          FROM eval_w,
               unnest(generate_series(1, GREATEST(0, CAST(len(words) AS BIGINT) - 1)))
                 AS x(i)
        ),
        ec AS (SELECT doc_id, w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
               FROM epos GROUP BY doc_id, w1, w2)
        SELECT e.doc_id,
               CAST(SUM(e.cnt) AS BIGINT) AS n_bigrams,
               CAST(SUM(CASE WHEN b.logp_e9 IS NULL
                             AND u.logp_e9 IS NOT NULL
                        THEN e.cnt ELSE 0 END) AS BIGINT) AS n_backoff,
               CAST(SUM(CASE WHEN b.logp_e9 IS NULL AND u.logp_e9 IS NULL
                        THEN e.cnt ELSE 0 END) AS BIGINT) AS n_oov,
               {duck_round_ratio(
                   "-SUM(e.cnt * COALESCE(b.logp_e9, u.logp_e9, o.logp_e9))",
                   "SUM(e.cnt)", 4, n_prescale=9)} AS avg_nll
        FROM ec e
        LEFT JOIN bimodel b ON b.w1 = e.w1 AND b.w2 = e.w2
        LEFT JOIN unimodel u ON u.w = e.w2
        CROSS JOIN oov o
        GROUP BY e.doc_id
        """,
        tags=("curation", "quality", "lm"),
    )
    def lm_backoff_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Held-out cross-entropy: train the smoothed bigram LM on the
        NON-eval sources only, score the eval split with STUPID
        BACKOFF (Brants et al. 2007) — unseen bigram backs off to
        alpha * smoothed unigram, unseen word to alpha * the uniform
        floor. This is the realistic eval-perplexity shape (unlike
        `lm_perplexity_filter`, which scores in-corpus and never
        meets an unseen bigram); n_backoff / n_oov expose how often
        each tier fires.

        All three model tiers quantize their log-probs to int64 at
        MODEL level (bigram table, unigram table, one OOV constant),
        so per-doc sums stay exact integer math; the two model joins
        are vocabulary-sized broadcasts against the eval bigram-count
        table, and the only corpus-keyed shuffle is the doc_id
        rollup."""
        docs = fanout(_t(spark, sf_dir, "documents"))
        is_eval = F.col("source").isin(*EVAL_SOURCES)

        def words_of(df):
            return df.select("doc_id", F.split("text", " ").alias("words"))

        def bigram_counts(df, with_doc: bool):
            keys = (["doc_id", "w1", "w2"] if with_doc else ["w1", "w2"])
            return (_bigram_positions(words_of(df))
                    .groupBy(*keys).agg(F.count(F.lit(1)).alias("cnt")))

        train = docs.filter(~is_eval)
        # model tables PINNED: tstats is referenced by bimodel,
        # unimodel AND oov, big by ctx AND its own join — unpinned,
        # each reference re-ran the train-corpus explode (7 documents
        # scans measured in the full plan; 3 with the pins: word
        # counts, bigram counts, eval split). uni and tstats are both
        # derived from the one pinned |vocab|-row count table.
        wcounts = (words_of(train)
                   .select(F.explode("words").alias("w"))
                   .groupBy("w").agg(F.count(F.lit(1)).alias("u"))
                   .localCheckpoint(eager=True))
        tstats = wcounts.agg(F.sum("u").cast("long").alias("t"),
                             F.count(F.lit(1)).cast("long").alias("v"))
        uni = wcounts
        big = bigram_counts(train, with_doc=False) \
            .localCheckpoint(eager=True)
        ctx = big.groupBy("w1").agg(F.sum("cnt").alias("c1"))
        bimodel = (big.join(ctx, "w1").join(F.broadcast(tstats))
                   .select("w1", "w2", F.expr(
                       "cast(round(ln((2.0 * cnt + 1.0) / (2.0 * c1 + v))"
                       " * 1000000000.0) as bigint)").alias("bi_logp")))
        unimodel = (uni.join(F.broadcast(tstats))
                    .select(F.col("w").alias("w2"), F.expr(
                        f"cast(round((ln({BACKOFF_ALPHA})"
                        f" + ln((2.0 * u + 1.0) / (2.0 * t + v)))"
                        f" * 1000000000.0) as bigint)").alias("uni_logp")))
        oov = tstats.select(F.expr(
            f"cast(round((ln({BACKOFF_ALPHA}) + ln(1.0 / (2.0 * t + v)))"
            f" * 1000000000.0) as bigint)").alias("oov_logp"))

        ec = bigram_counts(docs.filter(is_eval), with_doc=True)
        scored = (ec.join(F.broadcast(bimodel), ["w1", "w2"], "left")
                  .join(F.broadcast(unimodel), "w2", "left")
                  .join(F.broadcast(oov))
                  .groupBy("doc_id")
                  .agg(F.sum("cnt").cast("long").alias("n_bigrams"),
                       F.sum(F.when(F.col("bi_logp").isNull()
                                    & F.col("uni_logp").isNotNull(),
                                    F.col("cnt")).otherwise(0))
                        .cast("long").alias("n_backoff"),
                       F.sum(F.when(F.col("bi_logp").isNull()
                                    & F.col("uni_logp").isNull(),
                                    F.col("cnt")).otherwise(0))
                        .cast("long").alias("n_oov"),
                       (-F.sum(F.col("cnt") * F.coalesce(
                           "bi_logp", "uni_logp", "oov_logp")))
                       .cast("long").alias("nll_e9")))
        return scored.select(
            "doc_id", "n_bigrams", "n_backoff", "n_oov",
            spark_round_ratio("nll_e9", "n_bigrams", 4, n_prescale=9)
             .alias("avg_nll"))


_register_backoff_eval()


# --- end-to-end release prep ---------------------------------------------

COV_DROP_THRESHOLD = 0.9  # drop docs with > 90% duplicated positions


def _register_release_prep() -> None:
    # composed from the registered component oracles so the composite
    # can never drift from its stages
    from transcript_analysis_spark.plans.registry import _REGISTRY
    cov_oracle = _REGISTRY["duplicate_ngram_coverage"].oracle
    ppl_oracle = _REGISTRY["lm_perplexity_filter"].oracle
    spl_oracle = _REGISTRY["dataset_split_assignment"].oracle

    @register(
        "corpus_release_prep",
        oracle=f"""
        WITH cov AS ({cov_oracle}),
        ppl AS ({ppl_oracle}),
        spl AS ({spl_oracle}),
        minid AS (
          SELECT text, MIN(doc_id) AS canonical_id
          FROM documents GROUP BY text
        ),
        dupflag AS (
          SELECT d.doc_id, d.doc_id <> m.canonical_id AS is_copy
          FROM documents d JOIN minid m ON m.text = d.text
        )
        SELECT s.doc_id, s.lang, s.split,
               CASE WHEN f.is_copy THEN 'duplicate'
                    WHEN c.dup_fraction > {COV_DROP_THRESHOLD}
                      THEN 'dup_coverage'
                    WHEN p.flagged THEN 'perplexity'
                    ELSE 'none' END AS drop_reason,
               CASE WHEN f.is_copy THEN FALSE
                    WHEN c.dup_fraction > {COV_DROP_THRESHOLD} THEN FALSE
                    WHEN p.flagged THEN FALSE
                    ELSE TRUE END AS keep
        FROM spl s
        JOIN dupflag f ON f.doc_id = s.doc_id
        LEFT JOIN cov c ON c.doc_id = s.doc_id
        LEFT JOIN ppl p ON p.doc_id = s.doc_id
        """,
        headline=True,
        tags=("curation", "composite"),
    )
    def corpus_release_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The round-6 curation stages as ONE release decision per
        document: exact-duplicate copies drop first, then docs whose
        duplicated-span coverage exceeds 90%, then perplexity-flagged
        outliers; survivors carry their deterministic train/val/test
        split. Decision precedence is part of the contract (a copy is
        'duplicate' even if it would also fail coverage).

        The two corpus explodes the composed stages would pay
        separately (bigrams for the perplexity model, 3-gram shingles
        for dup coverage) are FUSED into one explode emitting both
        widths with a `kind` tag, one groupBy collapsing both to
        per-(doc, key) counts, and one localCheckpoint of the union —
        halving the corpus scan+split+explode work and one of the two
        checkpoint writes. kind=2 rows reproduce lm_perplexity_filter's
        pos_counts EXACTLY and kind=3 rows duplicate_ngram_coverage's
        occ_counts EXACTLY (a bigram/shingle's per-doc count is
        independent of what else the explode emits). Everything above
        the counts CALLS the standalone queries' own tails
        (`_lm_scored`, `_dup_coverage`), so the fused form cannot
        drift from its stages by construction; the composed DuckDB
        oracle and tests/test_curation.py's fused-vs-composed test
        check the explode half. Measured: −17% med at sf0.1, −9% med
        at sf1.0 (counterbalanced interleaved A/B, twice at sf0.1).

        Missing stage rows (docs too short for shingles/bigrams) fail
        no gate — NULL comparisons are non-drops in both engines."""
        docs_w = (fanout(_t(spark, sf_dir, "documents"))
                  .select("doc_id", F.split("text", " ").alias("words")))
        grams = docs_w.select("doc_id", F.explode(F.expr(
            "concat("
            " CASE WHEN size(words) >= 2 THEN"
            "  transform(sequence(1, size(words) - 1),"
            "   i -> struct(2 as kind, element_at(words, i) as k1,"
            "               element_at(words, i + 1) as k2))"
            "  ELSE array() END,"
            " CASE WHEN size(words) >= 3 THEN"
            "  transform(sequence(1, size(words) - 2),"
            "   i -> struct(3 as kind, concat_ws(' ', slice(words, i, 3))"
            "               as k1, '' as k2))"
            "  ELSE array() END)")).alias("g"))
        counts = (grams.select("doc_id", "g.kind", "g.k1", "g.k2")
                  .groupBy("doc_id", "kind", "k1", "k2")
                  .agg(F.count(F.lit(1)).alias("cnt"))
                  .localCheckpoint(eager=True))
        pos_counts = (counts.filter(F.col("kind") == 2)
                      .select("doc_id", F.col("k1").alias("w1"),
                              F.col("k2").alias("w2"), "cnt"))
        occ_counts = (counts.filter(F.col("kind") == 3)
                      .select("doc_id", F.col("k1").alias("shingle"),
                              F.col("cnt").alias("n_occ")))

        lm_scored = _lm_scored(pos_counts)
        avg_nll = spark_round_ratio("nll_e9", "n_bigrams", 4, n_prescale=9)
        ppl = lm_scored.select(
            "doc_id", (avg_nll > NLL_FLAG_THRESHOLD).alias("flagged"))
        cov = _dup_coverage(occ_counts).select("doc_id", "dup_fraction")

        spl = dataset_split_assignment(spark, sf_dir)
        docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
        minid = docs.groupBy("text").agg(
            F.min("doc_id").alias("canonical_id"))
        dupflag = (docs.join(minid, "text")
                   .select("doc_id",
                           (F.col("doc_id") != F.col("canonical_id"))
                           .alias("is_copy")))
        j = (spl.join(dupflag, "doc_id")
             .join(cov, "doc_id", "left")
             .join(ppl, "doc_id", "left"))
        reason = (F.when(F.col("is_copy"), F.lit("duplicate"))
                  .when(F.col("dup_fraction") > COV_DROP_THRESHOLD,
                        F.lit("dup_coverage"))
                  .when(F.col("flagged"), F.lit("perplexity"))
                  .otherwise(F.lit("none")))
        return j.select("doc_id", "lang", "split",
                        reason.alias("drop_reason"),
                        (reason == "none").alias("keep"))


_register_release_prep()


# --- int8 embedding quantization -----------------------------------------

@register(
    "embedding_int8_quantize",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, vec,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vec),
                         (a, x) -> GREATEST(a, abs(x))) AS scale
      FROM v
    )
    SELECT vec_id,
           CAST(len(vec) AS INTEGER) AS dim,
           CAST(trunc(scale * 1000000.0) AS BIGINT) AS scale_e6,
           CASE WHEN scale = 0.0 THEN CAST(0 AS BIGINT)
                ELSE CAST(len(list_filter(vec,
                       x -> abs(trunc(x * 127.0 / scale)) = 127.0))
                     AS BIGINT) END AS n_saturated,
           CASE WHEN scale = 0.0 THEN CAST(0 AS BIGINT)
                ELSE CAST(trunc(
                  list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vec),
                    (a, x) -> a + abs(x - trunc(x * 127.0 / scale)
                                          * scale / 127.0))
                  / len(vec) * 1000000000.0) AS BIGINT) END
             AS mean_abs_err_e9
    FROM s
    """,
    tags=("curation", "ann", "quantization"),
)
def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding column
    — the 4x storage/bandwidth compression step an ANN service runs
    before indexing at scale. scale = max |x|; q_i = trunc(x_i * 127
    / scale); outputs are the per-vector scale, saturation count, and
    mean absolute reconstruction error, all as FIXED-POINT integers
    (trunc of identically-computed doubles — no rounding-mode hazard,
    exact cross-engine hash match).

    Portability notes: Spark `cast(double as bigint)` truncates
    toward zero, DuckDB `CAST` rounds — the oracle spells
    `trunc()` explicitly. Both engines fold arrays left-to-right, so
    the error sums are bit-identical.

    Plan shape: map-only per-row array math in JVM higher-order
    functions (zero Python, zero shuffle)."""
    v = (fanout(_t(spark, sf_dir, "embeddings"))
         .select("vec_id",
                 F.expr("transform(embedding, x -> cast(x as double))")
                  .alias("vec"))
         .withColumn("scale", F.expr(
             "aggregate(vec, cast(0.0 as double),"
             " (a, x) -> greatest(a, abs(x)))")))
    return v.select(
        "vec_id",
        F.expr("cast(size(vec) as int)").alias("dim"),
        F.expr("cast(scale * 1000000.0 as bigint)").alias("scale_e6"),
        F.expr(
            "CASE WHEN scale = 0.0 THEN cast(0 as bigint)"
            " ELSE cast(size(filter(vec,"
            " x -> abs(cast(x * 127.0 / scale as bigint)) = 127))"
            " as bigint) END").alias("n_saturated"),
        F.expr(
            "CASE WHEN scale = 0.0 THEN cast(0 as bigint)"
            " ELSE cast(aggregate(vec, cast(0.0 as double),"
            " (a, x) -> a + abs(x - cast(x * 127.0 / scale as bigint)"
            " * scale / 127.0))"
            " / size(vec) * 1000000000.0 as bigint) END")
            .alias("mean_abs_err_e9"),
    )


# --- dataset card --------------------------------------------------------

@register(
    "dataset_card_summary",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, text, lang, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words
      FROM documents
    ),
    langs AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY lang
    ),
    lang_h AS (
      SELECT SUM(ROUND(-(CAST(c AS DOUBLE) / t.n)
                       * ln(CAST(c AS DOUBLE) / t.n), 9)) AS h
      FROM langs CROSS JOIN (SELECT SUM(c) AS n FROM langs) t
    ),
    toks AS (
      SELECT COUNT(DISTINCT w) AS vocab
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM base)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(b.n_words) AS BIGINT) AS total_words,
           (SELECT vocab FROM toks) AS vocab_size,
           CAST((SELECT COUNT(*) FROM langs) AS BIGINT) AS n_langs,
           ROUND((SELECT h FROM lang_h), 6) AS lang_entropy,
           {duck_round_ratio(
               '(COUNT(*) - COUNT(DISTINCT b.text)) * 100', 'COUNT(*)', 4)}
             AS exact_dup_pct,
           ROUND(AVG(CAST(b.n_chars AS DOUBLE)), 2) AS avg_chars
    FROM base b
    """,
    tags=("curation", "release"),
)
def dataset_card_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset card: one row with the numbers a release datasheet
    prints — corpus size, token volume, vocabulary, language mix
    entropy (each language's contribution rounded before the tiny
    fixed-order sum, so the float path is engine-stable), exact
    duplicate rate (integer half-up ratio), and mean document length.
    Three aggregates over one scan lineage; every input to the float
    expressions is an exact integer count, so the card reproduces
    bit-identically across engines and runs — a release artifact you
    can diff."""
    d = _t(spark, sf_dir, "documents")
    base = d.select("doc_id", "text", "lang", "n_chars",
                    F.size(F.split("text", " ")).cast("bigint")
                    .alias("n_words"))
    langs = base.groupBy("lang").agg(F.count("*").cast("bigint").alias("c"))
    tot = langs.agg(F.sum("c").alias("n"))
    lang_h = (langs.join(F.broadcast(tot))
              .select(F.round(-(F.col("c").cast("double") / F.col("n"))
                              * F.log(F.col("c").cast("double")
                                      / F.col("n")), 9).alias("hc"))
              .agg(F.sum("hc").alias("h")))
    vocab = (base.select(F.explode(F.split("text", " ")).alias("w"))
             .agg(F.countDistinct("w").alias("vocab")))
    card = base.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.countDistinct("text").alias("_distinct_texts"),
        F.round(F.avg(F.col("n_chars").cast("double")), 2)
        .alias("avg_chars"))
    n_langs = langs.agg(F.count("*").cast("bigint").alias("n_langs"))
    return (card.join(F.broadcast(vocab)).join(F.broadcast(n_langs))
            .join(F.broadcast(lang_h))
            .select("n_docs", "total_words",
                    F.col("vocab").alias("vocab_size"), "n_langs",
                    F.round("h", 6).alias("lang_entropy"),
                    spark_round_ratio("(n_docs - _distinct_texts) * 100",
                                      "n_docs", 4).alias("exact_dup_pct"),
                    "avg_chars"))


# --- near-dup component size distribution --------------------------------

def _neardup_sizes_oracle() -> str:
    from transcript_analysis_spark.plans.registry import all_queries
    inner = all_queries()["neardup_components"].oracle
    return f"""
    SELECT n_members, CAST(COUNT(*) AS BIGINT) AS n_components
    FROM ({inner}) GROUP BY n_members
    """


@register(
    "neardup_component_sizes",
    oracle=None,  # composed lazily below — see _late_oracle note
    tags=("dedup", "graph"),
)
def neardup_component_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size distribution of the near-duplicate clusters — the shape a
    dedup report leads with (how much of the corpus sits in 2-doc
    pairs vs a handful of giant boilerplate clusters decides whether
    keep-one dedup or span-trimming is the right action). Composed
    ON the registered `neardup_components` query (large-star/
    small-star CC), so this histogram can never drift from the
    component assignment it summarizes; the oracle wraps that query's
    recursive-CTE oracle the same way."""
    from transcript_analysis_spark.plans.registry import all_queries
    comps = all_queries()["neardup_components"].fn(spark, sf_dir)
    return (comps.groupBy("n_members")
            .agg(F.count("*").cast("bigint").alias("n_components")))


# Late-bind the composed oracle: at decoration time this module is
# still mid-import, so neardup_components may not be registered yet.
def _bind_neardup_sizes_oracle() -> None:
    from transcript_analysis_spark.plans import registry
    registry._REGISTRY["neardup_component_sizes"].oracle = \
        _neardup_sizes_oracle()


_bind_neardup_sizes_oracle()


# --- language-ID evaluation (confusion matrix) ---------------------------

def _register_langid_eval() -> None:
    # composed from the registered classifier so the eval cannot
    # drift from the model it grades
    from transcript_analysis_spark.plans.registry import _REGISTRY
    pred_oracle = _REGISTRY["language_id_heuristic"].oracle

    @register(
        "langid_confusion_matrix",
        oracle=f"""
        WITH pred AS ({pred_oracle}),
        cells AS (
          SELECT labeled_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
          FROM pred GROUP BY labeled_lang, pred_lang
        ),
        row_tot AS (
          SELECT labeled_lang, CAST(SUM(n) AS BIGINT) AS n_labeled
          FROM cells GROUP BY labeled_lang
        ),
        col_tot AS (
          SELECT pred_lang, CAST(SUM(n) AS BIGINT) AS n_predicted
          FROM cells GROUP BY pred_lang
        )
        SELECT c.labeled_lang, c.pred_lang, c.n,
               {duck_round_ratio('c.n', 'r.n_labeled', 6)} AS recall_share,
               {duck_round_ratio('c.n', 'p.n_predicted', 6)}
                 AS precision_share
        FROM cells c
        JOIN row_tot r ON r.labeled_lang = c.labeled_lang
        JOIN col_tot p ON p.pred_lang = c.pred_lang
        """,
        tags=("curation", "eval"),
    )
    def langid_confusion_matrix(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
        """Classifier-evaluation-as-an-operator: the confusion matrix
        of the registered language-ID heuristic against the labeled
        lang column, each cell carrying its share of the true class
        (the diagonal's share IS per-class recall) and of the
        predicted class (precision). Composes the REGISTERED
        classifier query on both sides, so the eval grades exactly
        the model the engine ships.

        All ratios are exact integer counts through half-up rounding.
        One aggregate over the classifier output + two class-sized
        broadcast joins — the eval costs one pass regardless of
        corpus size."""
        from transcript_analysis_spark.plans.data_pipeline import (
            language_id_heuristic,
        )
        pred = language_id_heuristic(spark, sf_dir)
        cells = (pred.groupBy("labeled_lang", "pred_lang")
                 .agg(F.count(F.lit(1)).cast("long").alias("n")))
        row_tot = (cells.groupBy("labeled_lang")
                   .agg(F.sum("n").cast("long").alias("n_labeled")))
        col_tot = (cells.groupBy("pred_lang")
                   .agg(F.sum("n").cast("long").alias("n_predicted")))
        return (cells
                .join(F.broadcast(row_tot), "labeled_lang")
                .join(F.broadcast(col_tot), "pred_lang")
                .select("labeled_lang", "pred_lang", "n",
                        spark_round_ratio("n", "n_labeled", 6)
                        .alias("recall_share"),
                        spark_round_ratio("n", "n_predicted", 6)
                        .alias("precision_share")))


_register_langid_eval()


# --- PII text scrubbing ---------------------------------------------------

PII_EMAIL_RE = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+[.][a-z][a-z]+"
PII_IP_RE = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
PII_PHONE_RE = "[+][0-9]{7,15}"


@register(
    "pii_text_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
             '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{PII_IP_RE}', '<IP>', 'g'),
             '{PII_PHONE_RE}', '<PHONE>', 'g') AS text_clean,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS BIGINT)
             AS n_emails,
           CAST(len(regexp_extract_all(text, '{PII_IP_RE}')) AS BIGINT)
             AS n_ips,
           CAST(len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS BIGINT)
             AS n_phones
    FROM documents
    """,
    tags=("curation", "pii", "text"),
)
def pii_text_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Free-text PII scrubbing — the C4/RefinedWeb release pass:
    emails, IPv4 addresses and international phone numbers replaced
    with typed placeholders, with per-doc match counts for the
    release audit. Patterns avoid regex features where Java (Spark)
    and RE2 (DuckDB) semantics could diverge (no word boundaries, no
    backreferences, explicit character classes only) — divergence
    here would mean the audit count and the scrub disagree.

    Map-only per-row JVM regex; zero shuffle. The synthetic corpus
    contains no PII (counts are 0 and text_clean == text — itself a
    useful no-false-positive check); the scrubbing semantics are
    pinned on constructed fixtures in tests/test_curation.py."""
    d = _t(spark, sf_dir, "documents")
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL_RE, "<EMAIL>"),
            PII_IP_RE, "<IP>"),
        PII_PHONE_RE, "<PHONE>")
    count = lambda pat: F.expr(  # noqa: E731
        f"cast(size(regexp_extract_all(text, '{pat}', 0)) as bigint)")
    return d.select("doc_id", clean.alias("text_clean"),
                    count(PII_EMAIL_RE).alias("n_emails"),
                    count(PII_IP_RE).alias("n_ips"),
                    count(PII_PHONE_RE).alias("n_phones"))


# --- stratified exact-k sampling -----------------------------------------

STRAT_K = 10   # docs kept per language stratum


@register(
    "stratified_exact_k_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, lang,
             {duck_char_hash("text || '|stratk'")} AS hk
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, lang, hk,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY hk, doc_id) AS rk
      FROM keyed
    )
    SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {STRAT_K}
    """,
    tags=("curation", "sampling"),
)
def stratified_exact_k_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-stratum sampling: within each language, keep the
    k documents with the smallest salted content hashes — the
    bottom-k-sketch semantics of `uniform_hash_sample` applied PER
    GROUP. Reproducible across engines and runs, stable under corpus
    growth (a kept doc is only ever displaced by a new smaller-hash
    doc, never by reshuffling), and salt-decorrelated from the split/
    sample/fingerprint hashes.

    One group-partitioned window on the hash order — no global sort;
    at scale this is one shuffle on the stratum key, and the
    per-group top-k could swap to an aggregate min-k sketch if group
    row counts are extreme."""
    from pyspark.sql import Window
    d = _t(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", "lang",
        F.expr(spark_char_hash("text || '|stratk'")).alias("hk"))
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (keyed.withColumn("rk", F.row_number().over(w).cast("long"))
            .filter(F.col("rk") <= STRAT_K)
            .select("doc_id", "lang", "rk"))


# --- in-engine classifier training (batch perceptron) --------------------

PCT_SCALE = 1024      # feature quantization (power of two: exact)
PCT_EPOCHS = 3
PCT_FEATURES = ["bias", "stopword_ratio_q", "long_word_ratio_q",
                "mean_wlen_q"]


def _duck_pct_epoch(prev: str, idx: int) -> str:
    """One batch-perceptron epoch as a CTE over the previous weights
    (carrying earlier epochs' error counts forward)."""
    margin = (f"y * ({prev}.w0 * x0 + {prev}.w1 * x1"
              f" + {prev}.w2 * x2 + {prev}.w3 * x3)")
    carries = ", ".join(f"{prev}.err{k} AS err{k}" for k in range(1, idx))
    carries = (carries + ", ") if carries else ""
    return f"""
    SELECT
      {carries}
      CAST({prev}.w0 + SUM(CASE WHEN {margin} <= 0 THEN y * x0 ELSE 0 END) AS BIGINT) AS w0,
      CAST({prev}.w1 + SUM(CASE WHEN {margin} <= 0 THEN y * x1 ELSE 0 END) AS BIGINT) AS w1,
      CAST({prev}.w2 + SUM(CASE WHEN {margin} <= 0 THEN y * x2 ELSE 0 END) AS BIGINT) AS w2,
      CAST({prev}.w3 + SUM(CASE WHEN {margin} <= 0 THEN y * x3 ELSE 0 END) AS BIGINT) AS w3,
      CAST(SUM(CASE WHEN {margin} <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS err{idx}
    FROM f CROSS JOIN {prev}
    GROUP BY {prev}.w0, {prev}.w1, {prev}.w2, {prev}.w3{
        ''.join(f', {prev}.err{k}' for k in range(1, idx))}
    """


def _pct_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized integer feature frame (doc_id, y, x0..x3) shared by
    the trainer, the eval, and the streaming weight store."""
    return pct_features_frame(fanout(_t(spark, sf_dir, "documents")))


def pct_features_frame(docs: DataFrame) -> DataFrame:
    """Feature pass over any (doc_id, lang, text, n_chars) frame — the
    single definition both batch and streaming paths share, so a
    streamed model and the batch trainer see identical integers."""
    d = docs.select(
        "doc_id", "lang", "n_chars", F.split("text", " ").alias("words"))
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"
    m = d.select(
        "doc_id",
        F.when(F.col("lang") == "en", 1).otherwise(-1).alias("y"),
        F.greatest(F.size("words").cast("long"), F.lit(1)).alias("nw"),
        F.expr(f"cast(size(filter(words, w -> array_contains("
               f"{stop_arr}, w))) as bigint)").alias("nst"),
        F.expr("cast(size(filter(words, w -> length(w) >= 8)) as bigint)")
         .alias("nlong"),
        F.col("n_chars").cast("long").alias("nch"))
    S = PCT_SCALE
    return m.select(
        "doc_id", "y",
        F.lit(S).cast("long").alias("x0"),
        F.expr(f"(2 * {S} * nst + nw) div (2 * nw)").alias("x1"),
        F.expr(f"(2 * {S} * nlong + nw) div (2 * nw)").alias("x2"),
        F.expr(f"least((2 * {S} * nch + 8 * nw) div (16 * nw), "
               f"{2 * S})").alias("x3"))


def _pct_epoch_frames(spark: SparkSession, f: DataFrame) -> list[DataFrame]:
    """One 1-row weight frame per epoch (w0..w3 plus the err_k columns
    accumulated so far); element k-1 holds the weights AFTER epoch k.
    err_k measures the weights entering epoch k, so frame j carries
    the measured error of every PRIOR frame — what the pocket
    selection in the eval needs."""
    # Lazy checkpoints: the feature pass materializes once (every
    # epoch and the eval's pocket selection scan the same block data
    # instead of re-running the corpus explode), and each 1-row epoch
    # frame truncates its lineage so composing several frames (the
    # eval cross-joins three) does not re-execute earlier epochs.
    f = f.localCheckpoint(eager=False)
    weights = spark.range(1).select(
        *[F.lit(0).cast("long").alias(f"w{j}") for j in range(4)])
    err_cols: list[str] = []
    frames: list[DataFrame] = []
    for epoch in range(1, PCT_EPOCHS + 1):
        j = f.crossJoin(F.broadcast(weights))
        margin = F.col("y") * sum(
            (F.col(f"w{k}") * F.col(f"x{k}") for k in range(1, 4)),
            F.col("w0") * F.col("x0"))
        mis = margin <= 0
        group_cols = [f"w{k}" for k in range(4)] + err_cols
        agg = (j.groupBy(*group_cols).agg(
            *[F.sum(F.when(mis, F.col("y") * F.col(f"x{k}"))
                    .otherwise(0)).cast("long").alias(f"u{k}")
              for k in range(4)],
            F.sum(F.when(mis, 1).otherwise(0)).cast("long")
             .alias(f"err{epoch}")))
        weights = agg.select(
            *[(F.col(f"w{k}") + F.col(f"u{k}")).cast("long")
              .alias(f"w{k}") for k in range(4)],
            *[F.col(c) for c in err_cols],
            F.col(f"err{epoch}")).localCheckpoint(eager=False)
        err_cols.append(f"err{epoch}")
        frames.append(weights)
    return frames


def _duck_pct_pipeline() -> str:
    """Shared features + 3-epoch training CTE chain (f, e0..e3) —
    composed verbatim into both the trainer's and the eval's oracle
    so the eval grades exactly the registered trained model."""
    return f"""
    d AS (
      SELECT doc_id, lang, n_chars, string_split(text, ' ') AS words
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CASE WHEN lang = 'en' THEN 1 ELSE -1 END AS y,
             GREATEST(CAST(len(words) AS BIGINT), 1) AS nw,
             CAST(len(list_filter(words, w -> list_contains(
               {[*_STOPWORDS]}, w))) AS BIGINT) AS nst,
             CAST(len(list_filter(words, w -> length(w) >= 8))
                  AS BIGINT) AS nlong,
             CAST(n_chars AS BIGINT) AS nch
      FROM d
    ),
    f AS (
      SELECT doc_id, y,
             CAST({PCT_SCALE} AS BIGINT) AS x0,
             (2 * {PCT_SCALE} * nst + nw) // (2 * nw) AS x1,
             (2 * {PCT_SCALE} * nlong + nw) // (2 * nw) AS x2,
             LEAST((2 * {PCT_SCALE} * nch + 8 * nw) // (16 * nw),
                   {2 * PCT_SCALE}) AS x3
      FROM m
    ),
    e0 AS (SELECT CAST(0 AS BIGINT) AS w0, CAST(0 AS BIGINT) AS w1,
                  CAST(0 AS BIGINT) AS w2, CAST(0 AS BIGINT) AS w3),
    e1 AS ({_duck_pct_epoch('e0', 1)}),
    e2 AS ({_duck_pct_epoch('e1', 2)}),
    e3 AS ({_duck_pct_epoch('e2', 3)})
    """


@register(
    "perceptron_classifier_train",
    oracle=f"""
    WITH {_duck_pct_pipeline()}
    SELECT feature_idx, feature_name, weight,
           err1 AS err_epoch1, err2 AS err_epoch2, err3 AS err_epoch3
    FROM (
      SELECT CAST(0 AS BIGINT) AS feature_idx, 'bias' AS feature_name,
             w0 AS weight, err1, err2, err3 FROM e3
      UNION ALL
      SELECT 1, 'stopword_ratio_q', w1, err1, err2, err3 FROM e3
      UNION ALL
      SELECT 2, 'long_word_ratio_q', w2, err1, err2, err3 FROM e3
      UNION ALL
      SELECT 3, 'mean_wlen_q', w3, err1, err2, err3 FROM e3
    )
    """,
    tags=("training", "classifier", "curation"),
)
def perceptron_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised model training INSIDE the engine: a batch perceptron
    for the is-English quality/language gate, trained where the data
    lives (the FineWeb/DCLM move of fitting the filter model on the
    corpus itself) — extending the exact-iterative-ML family
    (`kmeans_centroids`, `pagerank_purchase_graph`) from unsupervised
    to supervised.

    Everything is EXACT integer arithmetic, so the full {PCT_EPOCHS}-
    epoch training trajectory is oracle-checked, not just smoke-run:
    features quantize to ints via the shared half-up integer rounding
    (scale {PCT_SCALE}, a power of two), labels are +/-1, each epoch's
    batch update w += sum(y*x over misclassified, margin <= 0) and its
    error count are int64 sums — no learning-rate float, no
    transcendental, nothing engine-specific. Margins stay far inside
    int64 (|w| grows <= 2*{PCT_SCALE}*n_docs per epoch: ~2e12 even at
    10^9 docs, margin ~1e16).

    Plan shape at 100 TB: the feature pass is map-only; each epoch is
    one broadcast of the 4-number weight row + one whole-corpus
    aggregate (exactly Spark's classic GD-on-a-cluster shape, plan
    depth bounded by the unrolled epoch count like the PageRank
    rounds). Output: one row per feature with the final weight and
    the per-epoch training-error trajectory (monotone improvement is
    NOT asserted — perceptron error can oscillate; the trajectory is
    the evidence either way)."""
    f = _pct_features(spark, sf_dir)
    weights = _pct_epoch_frames(spark, f)[-1]

    rows = ", ".join(
        f"struct(cast({i} as bigint) as feature_idx, "
        f"'{name}' as feature_name, w{i} as weight)"
        for i, name in enumerate(PCT_FEATURES))
    return (weights.select(
        F.explode(F.expr(f"array({rows})")).alias("fz"),
        *[F.col(f"err{k}").alias(f"err_epoch{k}")
          for k in range(1, PCT_EPOCHS + 1)])
        .select("fz.feature_idx", "fz.feature_name", "fz.weight",
                *[f"err_epoch{k}" for k in range(1, PCT_EPOCHS + 1)]))


# Pocket weight selection (Gallant 1990), shared verbatim by the
# eval / kappa / calibration oracles so all three grade exactly the
# registered trained model.
_DUCK_POCKET = """pocket AS (
      SELECT CASE WHEN e2.err2 <= e3.err3 THEN e1.w0 ELSE e2.w0 END AS w0,
             CASE WHEN e2.err2 <= e3.err3 THEN e1.w1 ELSE e2.w1 END AS w1,
             CASE WHEN e2.err2 <= e3.err3 THEN e1.w2 ELSE e2.w2 END AS w2,
             CASE WHEN e2.err2 <= e3.err3 THEN e1.w3 ELSE e2.w3 END AS w3
      FROM e1 CROSS JOIN e2 CROSS JOIN e3
    )"""


def _pct_pocket_weights(spark: SparkSession, f: DataFrame) -> DataFrame:
    """The Spark twin of _DUCK_POCKET: of the epoch snapshots whose
    training error was measured (weights entering epochs 2 and 3),
    the one with the lower error — one 4-column broadcastable row."""
    frames = _pct_epoch_frames(spark, f)
    w_a = frames[0].select(*[F.col(f"w{k}").alias(f"a{k}")
                             for k in range(4)])
    w_b = frames[1].select(*[F.col(f"w{k}").alias(f"b{k}")
                             for k in range(4)])
    errs = frames[2].select("err2", "err3")
    return (w_a.crossJoin(w_b).crossJoin(errs)
            .select(*[F.when(F.col("err2") <= F.col("err3"),
                             F.col(f"a{k}"))
                      .otherwise(F.col(f"b{k}")).alias(f"w{k}")
                      for k in range(4)]))


def _pct_margin() -> "F.Column":
    """sign-carrying integer margin of the broadcast weight row."""
    return sum((F.col(f"w{k}") * F.col(f"x{k}") for k in range(1, 4)),
               F.col("w0") * F.col("x0"))


@register(
    "perceptron_classifier_eval",
    oracle=f"""
    WITH {_duck_pct_pipeline()},
    {_DUCK_POCKET},
    scoredp AS (
      SELECT f.doc_id, f.y,
             CASE WHEN (p.w0 * x0 + p.w1 * x1 + p.w2 * x2
                        + p.w3 * x3) > 0 THEN 1 ELSE -1 END AS pred
      FROM f CROSS JOIN pocket p
    ),
    cells AS (
      SELECT y AS actual, pred, CAST(COUNT(*) AS BIGINT) AS n
      FROM scoredp GROUP BY y, pred
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total,
                   CAST(SUM(CASE WHEN actual = pred THEN n ELSE 0 END)
                        AS BIGINT) AS n_correct
            FROM cells)
    SELECT c.actual, c.pred, c.n,
           {duck_round_ratio('c.n', 't.n_total', 6)} AS cell_share,
           {duck_round_ratio('t.n_correct', 't.n_total', 6)} AS accuracy
    FROM cells c CROSS JOIN tot t
    """,
    tags=("training", "classifier", "eval", "curation"),
)
def perceptron_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the in-engine-trained perceptron applied
    back to the corpus — the train->apply loop closed as ONE
    declarative plan (the `langid_confusion_matrix` discipline: the
    eval composes the REGISTERED trainer's exact arithmetic on both
    engine sides, so it grades precisely the shipped model, and the
    integer margin makes every prediction — hence every cell — exact).

    Deployment uses the POCKET weights (Gallant 1990): of the epoch
    snapshots whose training error was actually measured (the weights
    entering epochs 2 and 3), take the one with the lower error —
    plain batch perceptron oscillates on non-separable data, and the
    final-epoch weights can be strictly worse than the best seen (at
    sf0.1 they degenerate to one-class). The pocket choice is a CASE
    over two exact integer error counts, so it is itself
    oracle-checked. Prediction is sign(margin) with 0 -> -1.
    Columns: (actual, pred, n, cell_share, accuracy). At 100 TB: the
    trainer's bounded epoch aggregates + one broadcast-weights map
    pass + one 4-cell aggregate.

    Expectation-setting for THIS corpus: the synthetic documents are
    featurally identical across languages (per-lang stopword ratio
    0.065 +/- 0.002, word length 5.48 +/- 0.02 — measured), so the
    is-English label carries no linear signal and the Bayes ceiling
    IS the majority class; the pocket model landing exactly there is
    the trainer refusing to hallucinate signal, not a defect. On a
    separable corpus the same plan learns the boundary —
    tests/test_curation.py proves 100% on a constructed fixture."""
    f = _pct_features(spark, sf_dir)
    weights = _pct_pocket_weights(spark, f)
    margin = _pct_margin()
    scoredp = (f.crossJoin(F.broadcast(weights))
               .select("doc_id", "y",
                       F.when(margin > 0, 1).otherwise(-1).alias("pred")))
    cells = (scoredp.groupBy(F.col("y").alias("actual"), "pred")
             .agg(F.count(F.lit(1)).cast("long").alias("n")))
    tot = cells.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum(F.when(F.col("actual") == F.col("pred"), F.col("n"))
              .otherwise(0)).cast("long").alias("n_correct"))
    return (cells.crossJoin(F.broadcast(tot))
            .select("actual", "pred", "n",
                    spark_round_ratio("n", "n_total", 6)
                    .alias("cell_share"),
                    spark_round_ratio("n_correct", "n_total", 6)
                    .alias("accuracy")))


# --- classifier agreement + calibration audits ----------------------------

@register(
    "classifier_kappa_report",
    oracle=f"""
    WITH {_duck_pct_pipeline()},
    {_DUCK_POCKET},
    scoredp AS (
      SELECT f.y,
             CASE WHEN (p.w0 * x0 + p.w1 * x1 + p.w2 * x2
                        + p.w3 * x3) > 0 THEN 1 ELSE -1 END AS pred
      FROM f CROSS JOIN pocket p
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
             CAST(SUM(CASE WHEN y = pred THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_agree,
             CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_actual_pos,
             CAST(SUM(CASE WHEN pred = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_pred_pos
      FROM scoredp
    )
    SELECT n_total, n_agree, n_actual_pos, n_pred_pos,
           {duck_round_ratio('n_agree', 'n_total', 6)} AS observed_agree,
           {duck_round_ratio_wide(
               'n_actual_pos * n_pred_pos'
               ' + (n_total - n_actual_pos) * (n_total - n_pred_pos)',
               'n_total * n_total', 6)} AS chance_agree,
           {duck_round_ratio_wide(
               'n_total * n_agree - n_actual_pos * n_pred_pos'
               ' - (n_total - n_actual_pos) * (n_total - n_pred_pos)',
               'n_total * n_total - n_actual_pos * n_pred_pos'
               ' - (n_total - n_actual_pos) * (n_total - n_pred_pos)',
               6)} AS kappa
    FROM tot WHERE n_total > 0
    """,
    tags=("training", "classifier", "eval", "curation"),
)
def classifier_kappa_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa of the in-engine-trained pocket perceptron vs the
    ground-truth label — chance-corrected agreement, the audit number
    a curation team reports next to raw accuracy (a gate that predicts
    the majority class on a skewed corpus can post high accuracy with
    kappa ~ 0; this query makes that failure mode a first-class,
    oracle-checked output rather than a judgment call).

    Exact integer rational end to end: kappa = (po - pe) / (1 - pe)
    cleared of denominators is (n*n_agree - ap*pp - an*pn) /
    (n^2 - ap*pp - an*pn) — all int64 counts, with the n^2-scale
    products accumulated wide (DECIMAL(38,0)/HUGEINT) so the quotient
    stays exact at any corpus size (at 10^9 docs n^2 = 10^18 rides the
    int64 edge; Spark would wrap silently, the wide algebra cannot).
    pe < 1 is guaranteed whenever both classes occur; the WHERE
    n_total > 0 guard keeps the empty-input plan at zero rows on both
    engines.

    Plan shape at 100 TB: the trainer's bounded epoch aggregates + one
    broadcast-weights map pass + ONE whole-corpus 4-counter aggregate
    — no shuffle beyond the training epochs themselves.

    Reference parity: the reference reports raw survey-answer parse
    rates only (run_8values_survey.py logging); chance-corrected
    agreement is part of the engine's added eval tier."""
    f = _pct_features(spark, sf_dir)
    weights = _pct_pocket_weights(spark, f)
    scoredp = (f.crossJoin(F.broadcast(weights))
               .select("y", F.when(_pct_margin() > 0, 1).otherwise(-1)
                       .alias("pred")))
    tot = scoredp.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("y") == F.col("pred"), 1).otherwise(0))
         .cast("long").alias("n_agree"),
        F.sum(F.when(F.col("y") == 1, 1).otherwise(0)).cast("long")
         .alias("n_actual_pos"),
        F.sum(F.when(F.col("pred") == 1, 1).otherwise(0)).cast("long")
         .alias("n_pred_pos"))
    pe_num = ("n_actual_pos * n_pred_pos"
              " + (n_total - n_actual_pos) * (n_total - n_pred_pos)")
    return (tot.filter(F.col("n_total") > 0)
            .select("n_total", "n_agree", "n_actual_pos", "n_pred_pos",
                    spark_round_ratio("n_agree", "n_total", 6)
                    .alias("observed_agree"),
                    spark_round_ratio_wide(pe_num, "n_total * n_total", 6)
                    .alias("chance_agree"),
                    spark_round_ratio_wide(
                        f"n_total * n_agree - ({pe_num})",
                        f"n_total * n_total - ({pe_num})", 6)
                    .alias("kappa")))


CAL_BINS = 8  # symmetric margin bins: -CAL_BINS .. +CAL_BINS


@register(
    "classifier_margin_calibration",
    oracle=f"""
    WITH {_duck_pct_pipeline()},
    {_DUCK_POCKET},
    sm AS (
      SELECT f.y,
             (p.w0 * x0 + p.w1 * x1 + p.w2 * x2 + p.w3 * x3) AS margin
      FROM f CROSS JOIN pocket p
    ),
    mx AS (
      SELECT GREATEST(CAST(MAX(abs(margin)) AS BIGINT) // {CAL_BINS}, 1)
             AS w
      FROM sm
    ),
    binned AS (
      SELECT (CASE WHEN margin < 0 THEN -1 ELSE 1 END)
             * LEAST(abs(margin) // w, {CAL_BINS}) AS bin,
             y
      FROM sm CROSS JOIN mx
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pos,
           {duck_round_ratio(
               'SUM(CASE WHEN y = 1 THEN 1 ELSE 0 END)',
               'COUNT(*)', 6)} AS pos_rate
    FROM binned GROUP BY bin
    """,
    tags=("training", "classifier", "eval", "curation"),
)
def classifier_margin_calibration(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Reliability table of the pocket perceptron: equi-width bins
    over the EXACT integer margin (the model's native score), each
    reporting how often the positive class actually occurs — the
    reliability-diagram audit that tells a curation team whether a
    threshold move trades precision for recall predictably (monotone
    pos_rate across bins) or the score is uninformative (flat).

    Determinism where float binning would wobble: the margin is an
    int64, the bin width w = max(max|margin| div {CAL_BINS}, 1) is an
    integer derived from one corpus aggregate, and bin assignment is
    sign(margin) * min(|margin| div w, {CAL_BINS}) — truncating
    division on non-negative operands, identical on both engines, so
    every bin edge is exact (both engines' `div`/`//` truncate toward
    zero; routing through abs() makes the sign convention moot).

    Plan shape at 100 TB: one broadcast-weights map pass, one 1-row
    max aggregate broadcast back, one <= {2 * CAL_BINS + 1}-group
    aggregate. Empty corpus -> zero rows on both engines (the max is
    NULL and the cross join carries no rows)."""
    f = _pct_features(spark, sf_dir)
    weights = _pct_pocket_weights(spark, f)
    sm = (f.crossJoin(F.broadcast(weights))
          .select("y", _pct_margin().alias("margin")))
    mx = sm.agg(F.expr(
        f"greatest(max(abs(margin)) div {CAL_BINS}, 1L)").alias("w"))
    binned = (sm.crossJoin(F.broadcast(mx))
              .select(F.expr(
                  f"(case when margin < 0 then -1 else 1 end)"
                  f" * least(abs(margin) div w, {CAL_BINS})").alias("bin"),
                  "y"))
    return (binned.groupBy("bin")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.sum(F.when(F.col("y") == 1, 1).otherwise(0))
                  .cast("long").alias("n_pos"))
            .select("bin", "n_docs", "n_pos",
                    spark_round_ratio("n_pos", "n_docs", 6)
                    .alias("pos_rate")))


# --- release funnel report ------------------------------------------------

def _register_release_funnel() -> None:
    from transcript_analysis_spark.plans.registry import _REGISTRY
    rel_oracle = _REGISTRY["corpus_release_prep"].oracle

    @register(
        "release_funnel_report",
        oracle=f"""
        WITH rel AS MATERIALIZED ({rel_oracle}),
        tot AS (
          SELECT split, CAST(COUNT(*) AS BIGINT) AS n_split
          FROM rel GROUP BY split
        ),
        g AS (
          SELECT split, drop_reason,
                 CAST(COUNT(*) AS BIGINT) AS n_docs
          FROM rel GROUP BY split, drop_reason
        )
        SELECT g.split, g.drop_reason, g.n_docs, t.n_split,
               {duck_round_ratio('g.n_docs', 't.n_split', 6)}
                 AS split_share
        FROM g JOIN tot t ON t.split = g.split
        """,
        tags=("curation", "report", "composite"),
    )
    def release_funnel_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
        """The release decision as a FUNNEL datasheet: per
        (split, drop_reason) document counts and each reason's share
        of its split — the table a curation review reads to see where
        the corpus went (and that the split hash is unbiased: the
        drop-reason mix should look alike across train/val/test,
        since the split hash is salt-decorrelated from every gate).
        COMPOSED on `corpus_release_prep`'s registered oracle, so the
        funnel can never drift from the shipped decision; exact
        integer counts + one half-up ratio. Plan shape at 100 TB: the
        composite's own plan + two tiny aggregates on (split,
        drop_reason) — O(|splits| x |reasons|) rows out."""
        from transcript_analysis_spark.plans.registry import _REGISTRY
        rel = _REGISTRY["corpus_release_prep"].fn(spark, sf_dir)
        tot = rel.groupBy("split").agg(
            F.count(F.lit(1)).cast("long").alias("n_split"))
        g = rel.groupBy("split", "drop_reason").agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"))
        return (g.join(F.broadcast(tot), "split")
                .select("split", "drop_reason", "n_docs", "n_split",
                        spark_round_ratio("n_docs", "n_split", 6)
                        .alias("split_share")))


_register_release_funnel()


def _register_split_bias() -> None:
    from transcript_analysis_spark.plans.registry import _REGISTRY
    rel_oracle = _REGISTRY["corpus_release_prep"].oracle

    @register(
        "split_bias_chi2",
        oracle=f"""
        WITH rel AS ({rel_oracle}),
        -- MATERIALIZED is load-bearing at scale: DuckDB inlines CTEs
        -- by default, and cell is referenced from four branches
        -- (r/c/t/grid) — inlined, the whole release-prep plan would
        -- evaluate four times (measured: >79 GB spill death at 64x;
        -- materialized, one evaluation of rel into a tiny table)
        cell AS MATERIALIZED (
          SELECT split, drop_reason,
                 CAST(COUNT(*) AS BIGINT) AS n
          FROM rel GROUP BY split, drop_reason
        ),
        r AS (SELECT split, CAST(SUM(n) AS BIGINT) AS rn
              FROM cell GROUP BY split),
        c AS (SELECT drop_reason, CAST(SUM(n) AS BIGINT) AS cn
              FROM cell GROUP BY drop_reason),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cell),
        -- every (split, reason) pair, zero-filled: absent cells still
        -- contribute (N*0 - rn*cn)^2 / (N*rn*cn)
        grid AS (
          SELECT r.split, c.drop_reason, r.rn, c.cn, t.nt,
                 COALESCE(cell.n, 0) AS n
          FROM r CROSS JOIN c CROSS JOIN t
          LEFT JOIN cell ON cell.split = r.split
                        AND cell.drop_reason = c.drop_reason
        ),
        contrib AS (
          SELECT {duck_round_ratio_wide_q(
              '(nt * n - rn * cn) * (nt * n - rn * cn)',
              'nt * rn * cn', 9)} AS q
          FROM grid
        )
        SELECT t.nt AS n_total,
               CAST((SELECT COUNT(*) FROM r) - 1 AS BIGINT)
                 * CAST((SELECT COUNT(*) FROM c) - 1 AS BIGINT) AS dof,
               CAST(SUM(q) AS BIGINT) AS chi2_e9,
               CAST(CAST(SUM(q) AS BIGINT) AS DOUBLE) / 1000000000
                 AS chi2
        FROM contrib CROSS JOIN t
        GROUP BY t.nt
        """,
        tags=("curation", "statistics", "report", "composite"),
    )
    def split_bias_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Chi-square independence test of drop_reason vs split — the
        statistical form of the funnel's split-bias check: the split
        hash is salt-decorrelated from every gate, so the drop-reason
        mix must be independent of the split and chi2 should sit near
        its dof. A large value would mean the split assignment leaks
        into curation decisions (a real release blocker: the val set
        would not be exchangeable with train).

        Exactness: per-cell contributions (N*n - r*c)^2 / (N*r*c) are
        exact integer rationals half-up-quantized at 1e9 and summed as
        integers — both engines perform the IDENTICAL per-cell
        rounding, so the statistic reproduces bit-for-bit (the
        documented per-cell-rounded convention; error <= #cells/2e9).
        The squared numerator reaches (N*n)^2 ~ 1e20 at sf0.1 — past
        int64 — so the algebra runs wide (DECIMAL(38,0)/HUGEINT).
        Absent cells are zero-filled via the (splits x reasons) grid:
        their expected count still contributes. Plan shape at 100 TB:
        the composite's plan + one contingency aggregate + a
        |splits| x |reasons| driver-sized grid."""
        from transcript_analysis_spark.functions.rounding import (
            spark_round_ratio_wide_q)
        from transcript_analysis_spark.plans.registry import _REGISTRY
        rel = _REGISTRY["corpus_release_prep"].fn(spark, sf_dir)
        cell = rel.groupBy("split", "drop_reason").agg(
            F.count(F.lit(1)).cast("long").alias("n"))
        cell = cell.localCheckpoint(eager=False)
        r = cell.groupBy("split").agg(F.sum("n").cast("long").alias("rn"))
        c = (cell.groupBy("drop_reason")
             .agg(F.sum("n").cast("long").alias("cn")))
        t = cell.agg(F.sum("n").cast("long").alias("nt"))
        grid = (r.crossJoin(c).crossJoin(F.broadcast(t))
                .join(cell, ["split", "drop_reason"], "left")
                .withColumn("n", F.coalesce(F.col("n"), F.lit(0))))
        contrib = grid.select(spark_round_ratio_wide_q(
            "(nt * n - rn * cn) * (nt * n - rn * cn)",
            "nt * rn * cn", 9).alias("q"))
        dims = (r.agg(F.count(F.lit(1)).alias("nr"))
                .crossJoin(c.agg(F.count(F.lit(1)).alias("nc"))))
        agg = contrib.agg(F.sum("q").cast("long").alias("chi2_e9"))
        return (t.crossJoin(F.broadcast(dims)).crossJoin(F.broadcast(agg))
                .select(F.col("nt").alias("n_total"),
                        ((F.col("nr") - 1) * (F.col("nc") - 1))
                        .cast("long").alias("dof"),
                        "chi2_e9",
                        (F.col("chi2_e9").cast("double")
                         / F.lit(1e9)).alias("chi2")))


_register_split_bias()
