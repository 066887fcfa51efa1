"""Data-selection and sequence-mining tier: DSIR importance
weighting, MMR diverse retrieval, event-path pattern matching,
co-purchase triangle census, asymmetric containment dedup, and
positional PMI collocations.

These are the "choose WHAT to train on" operators that sit between
the dedup/quality tiers (plans/data_pipeline.py, plans/curation.py)
and shard export (sources/shards.py):

- ``dsir_importance_weights`` — Data Selection with Importance
  Resampling (Xie et al., NeurIPS 2023): score every raw document by
  the log-likelihood ratio of a target-domain unigram LM vs the raw
  corpus LM. Model weights are quantized ONCE to int64 (the
  lm_perplexity_filter discipline), so per-doc importance sums are
  exact integer math — immune to float summation order.
- ``mmr_diverse_topk`` — Maximal Marginal Relevance (Carbonell &
  Goldstein, SIGIR 1998): greedy top-k that trades relevance against
  redundancy to the already-selected set; the diversity-aware
  retrieval the plain cosine top-k (embedding_cosine_topk) can't do.
  Embeddings are quantized to int64 (the kmeans_centroids
  discipline) so every dot product, max-sim and greedy argmax is
  exact and the full selection trajectory is oracle-replayed.
- ``event_path_pattern_match`` — MATCH_RECOGNIZE-style sequence
  pattern matching: per-user event-type paths as strings, regex
  funnels/runs evaluated per-row (counts and positions are exact
  integers). The row-pattern-recognition operator Spark SQL lacks.
- ``part_triangle_count`` — triangle census + global transitivity of
  the co-purchase part graph at min-support 2. Uses the canonical
  a<b<c wedge-close join; support filtering keeps the graph (and the
  wedge count) bounded regardless of corpus size.
- ``ngram_containment_pairs`` — asymmetric Broder containment
  C(A,B) = |S(A) inter S(B)| / |S(A)| over blocked candidate pairs: the
  short-doc-inside-long-doc near-dup that symmetric Jaccard
  (ngram_jaccard_pairs) under-scores.
- ``skipgram_pmi_pairs`` — positional PMI collocations (window <= 2):
  the word-association statistic behind phrase mining and word2vec
  subsampling; ln quantized to int64 at the vocabulary level.
- ``top_session_paths`` — sessionized path mining: 30-min-gap
  sessions rendered as event-type path strings, global top-k.
- ``scd2_point_in_time_join`` — the leak-free fact-to-dim-history
  lookup: Spark runs the as-of rewrite, the oracle independently
  range-joins derived intervals; their agreement proves the rewrite.
- ``minhash_jaccard_estimate_error`` — sketch accuracy as an
  operator: the MinHash estimate itself is oracle-checked.
- ``dsir_selection_plan`` — the tier as ONE decision per document
  (dedup keep-list > DSIR gate > split), composed from the
  registered stage queries on both engine sides.

Scale notes are in each docstring; the common pattern is: one corpus
explode collapsed immediately to counts (localCheckpoint so both the
model and the scoring branch read the same materialization),
vocabulary-sized model tables broadcast back, and never a global
single-task window.

Reference parity: the reference has no selection stage (it scores
every (video, model) pair exhaustively — `ROADMAP.md` throughput
table); this tier is part of the beyond-reference training-data
surface the brief asks for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from transcript_analysis_spark.functions.rounding import (
    duck_round_ratio,
    spark_round_ratio,
)
from transcript_analysis_spark.plans.data_pipeline import _t, shingles_of
from transcript_analysis_spark.plans.registry import register
from transcript_analysis_spark.sources.tables import fanout

# --- DSIR importance weighting -------------------------------------------

DSIR_TARGET = "src0"   # the target-domain slice the raw corpus is scored against
_E9 = 1_000_000_000


@register(
    "dsir_importance_weights",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    dc AS (
      SELECT doc_id, source, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM toks GROUP BY doc_id, source, w
    ),
    tgt AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS c FROM dc
            WHERE source = '{DSIR_TARGET}' GROUP BY w),
    raw AS (SELECT w, CAST(SUM(cnt) AS BIGINT) AS c FROM dc
            WHERE source <> '{DSIR_TARGET}' GROUP BY w),
    vocab AS (SELECT DISTINCT w FROM dc),
    tot AS (
      SELECT COALESCE((SELECT SUM(c) FROM tgt), 0) AS nt,
             COALESCE((SELECT SUM(c) FROM raw), 0) AS nr,
             (SELECT COUNT(*) FROM vocab) AS v
    ),
    wt AS (
      SELECT vb.w,
             CAST(round(ln((CAST(COALESCE(t.c, 0) + 1 AS DOUBLE)
                            * CAST(tot.nr + tot.v AS DOUBLE))
                           / (CAST(COALESCE(r.c, 0) + 1 AS DOUBLE)
                              * CAST(tot.nt + tot.v AS DOUBLE)))
                        * {_E9}.0) AS BIGINT) AS w_e9
      FROM vocab vb
      LEFT JOIN tgt t ON t.w = vb.w
      LEFT JOIN raw r ON r.w = vb.w
      CROSS JOIN tot
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(SUM(d.cnt) AS BIGINT) AS n_tokens,
             CAST(SUM(d.cnt * w.w_e9) AS BIGINT) AS importance_e9
      FROM dc d JOIN wt w ON w.w = d.w
      WHERE d.source <> '{DSIR_TARGET}'
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_tokens, importance_e9,
           {duck_round_ratio('importance_e9', 'n_tokens', 4, n_prescale=9)}
             AS avg_logratio,
           {duck_round_ratio('importance_e9', 'n_tokens', 4, n_prescale=9)}
             > 0.0 AS target_like
    FROM scored
    """,
    headline=True,
    tags=("selection", "dsir", "lm"),
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR: score every non-target document by the add-1-smoothed
    unigram log-likelihood ratio between the target slice
    (source = src0) and the rest of the corpus; docs with positive
    average log-ratio look more like the target than like the raw
    pool (the hashed-ngram importance weights of Xie et al. 2023,
    with the full vocabulary standing in for the hash buckets —
    swap `w` for `hash(w) % B` at 100 TB to bound the model table).

    Cross-engine determinism: each vocabulary entry's log-ratio is
    quantized once to int64 (round(ln(.) * 1e9)); per-doc importance
    is then an exact integer dot product of counts with weights, and
    the selection boolean compares the half-up-rounded average.

    Plan shape at scale: ONE corpus explode collapsed to
    (doc, word) counts and checkpointed — the sufficient statistic
    for both LMs and for scoring. Everything above is
    vocabulary-sized; the weight table is broadcast back (shuffle
    join on `w` if the vocabulary outgrows broadcast); the only
    corpus-keyed shuffle is the final doc_id rollup."""
    dc = (doc_word_counts(fanout(_t(spark, sf_dir, "documents")))
          .localCheckpoint(eager=True))
    wt = dsir_weight_table(dc)
    return dsir_score(dc.filter(F.col("source") != DSIR_TARGET), wt)


def doc_word_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, source, w, cnt) unigram counts of a (doc_id, source,
    text) frame — the sufficient statistic DSIR fitting and scoring
    share. Shared with streaming/dsir_store.py."""
    return (docs
            .select("doc_id", "source",
                    F.explode(F.split("text", " ")).alias("w"))
            .groupBy("doc_id", "source", "w")
            .agg(F.count(F.lit(1)).alias("cnt")))


def dsir_weight_table(dc: DataFrame) -> DataFrame:
    """(w, w_e9) int64-quantized log-likelihood-ratio weights fit on a
    full-corpus count frame (target slice = DSIR_TARGET source)."""
    tgt = (dc.filter(F.col("source") == DSIR_TARGET)
           .groupBy("w").agg(F.sum("cnt").alias("tc")))
    raw = (dc.filter(F.col("source") != DSIR_TARGET)
           .groupBy("w").agg(F.sum("cnt").alias("rc")))
    vocab = dc.select("w").distinct()
    tot = (tgt.agg(F.coalesce(F.sum("tc"), F.lit(0)).alias("nt"))
           .crossJoin(raw.agg(F.coalesce(F.sum("rc"), F.lit(0)).alias("nr")))
           .crossJoin(vocab.agg(F.count(F.lit(1)).alias("v"))))
    return (vocab.join(tgt, "w", "left").join(raw, "w", "left")
            .crossJoin(F.broadcast(tot))
            .select("w", F.expr(
                # cast(... as double) everywhere: a bare 1.0 literal is
                # DECIMAL in Spark SQL, and decimal division truncates
                # to scale 6 once the product precision hits 38 —
                # 4e-7-relative skew vs DuckDB's double math.
                f"cast(round(ln((cast(coalesce(tc, 0) + 1 as double)"
                f" * cast(nr + v as double))"
                f" / (cast(coalesce(rc, 0) + 1 as double)"
                f" * cast(nt + v as double))) * {_E9}.0) as bigint)")
                .alias("w_e9")))


def dsir_score(dc_docs: DataFrame, wt: DataFrame) -> DataFrame:
    """Score a (doc_id, w, cnt) count frame against a weight table:
    exact integer importance sums + the half-up-rounded average and
    selection flag. Out-of-vocabulary words contribute 0 (inner
    join)."""
    scored = (dc_docs
              .join(F.broadcast(wt), "w")
              .groupBy("doc_id")
              .agg(F.sum("cnt").cast("long").alias("n_tokens"),
                   F.sum(F.col("cnt") * F.col("w_e9")).cast("long")
                    .alias("importance_e9")))
    avg = spark_round_ratio("importance_e9", "n_tokens", 4, n_prescale=9)
    return scored.select("doc_id", "n_tokens", "importance_e9",
                         avg.alias("avg_logratio"),
                         (avg > 0.0).alias("target_like"))


# --- MMR diverse top-k ----------------------------------------------------

MMR_N = 24        # relevance candidate pool (distributed top-N reduce)
MMR_K = 8         # diversified picks (greedy rounds)
MMR_SCALE = 65536  # 2^16: x*SCALE exact for float32 (kmeans discipline)

_MMR_SCHEMA = ("sel_order bigint, vec_id bigint, rel_q bigint, "
               "maxsim_q bigint, mmr2_q bigint")

_DUCK_QEMB = f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE) * {MMR_SCALE}.0 + 0.5)
                         AS BIGINT)) AS v
      FROM embeddings
    )
"""

_DUCK_DOT = ("list_sum(list_transform(list_zip({a}, {b}),"
             " s -> s[1] * s[2]))")


def _mmr_oracle() -> str:
    """Unrolled K-round greedy MMR as generated SQL (the
    kmeans_centroids oracle discipline). Every chain CTE is
    MATERIALIZED: DuckDB inlines CTEs by default, and sel{{t}}
    referencing sel{{t-1}} twice (union + NOT IN) would otherwise
    re-expand the whole chain exponentially — 2^K quantization passes
    over the corpus."""
    dot_cs = _DUCK_DOT.format(a="c.v", b="s.v")
    dot_cq = _DUCK_DOT.format(a="e.v", b="qv.v")
    qemb = _DUCK_QEMB.replace("q AS (", "q AS MATERIALIZED (", 1)
    parts = [f"""
    WITH {qemb},
    qv AS MATERIALIZED (SELECT v FROM q WHERE vec_id = 0),
    rel AS MATERIALIZED (
      SELECT e.vec_id, e.v, CAST({dot_cq} AS BIGINT) AS rel
      FROM q e CROSS JOIN qv WHERE e.vec_id <> 0
    ),
    cand AS MATERIALIZED (
      SELECT * FROM rel ORDER BY rel DESC, vec_id LIMIT {MMR_N}),
    s0 AS (
      SELECT CAST(0 AS BIGINT) AS sel_order, vec_id, v, rel,
             CAST(0 AS BIGINT) AS maxsim, rel AS mmr2
      FROM cand ORDER BY rel DESC, vec_id LIMIT 1
    ),
    sel0 AS MATERIALIZED (SELECT * FROM s0)"""]
    for t in range(1, MMR_K):
        parts.append(f""",
    m{t} AS (
      SELECT c.vec_id, c.v, c.rel,
             CAST(MAX({dot_cs}) AS BIGINT) AS maxsim
      FROM cand c CROSS JOIN sel{t - 1} s
      WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{t - 1})
      GROUP BY c.vec_id, c.v, c.rel
    ),
    s{t} AS (
      SELECT CAST({t} AS BIGINT) AS sel_order, vec_id, v, rel, maxsim,
             rel - maxsim AS mmr2
      FROM m{t} ORDER BY mmr2 DESC, vec_id LIMIT 1
    ),
    sel{t} AS MATERIALIZED (
      SELECT * FROM sel{t - 1} UNION ALL SELECT * FROM s{t})""")
    parts.append(f"""
    SELECT sel_order, vec_id, rel AS rel_q, maxsim AS maxsim_q,
           mmr2 AS mmr2_q
    FROM sel{MMR_K - 1}""")
    return "".join(parts)


def _dot_col(a, b) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0).cast("bigint"), lambda acc, x: acc + x)


@register("mmr_diverse_topk", oracle=_mmr_oracle(),
          tags=("selection", "similarity", "mmr"))
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance retrieval: greedy k picks that
    maximize 2*MMR = relevance - max-similarity-to-selected
    (lambda = 1/2), over a candidate pool reduced distributedly to the
    top-{MMR_N} by relevance to the broadcast query vector (vec_id 0).

    Exactness: embeddings quantized to int64 (floor(x*2^16 + 0.5)),
    so relevance, pairwise similarity, the greedy argmax and every
    tie-break ((score DESC, vec_id)) are integer-deterministic; the
    DuckDB oracle replays the full K-round trajectory as generated
    unrolled SQL.

    Scale shape: the corpus-sized work is ONE TakeOrderedAndProject
    (per-partition heads, no global sort) down to {MMR_N} rows; the
    greedy walk then runs K bounded rounds against that checkpointed
    candidate frame with the selected set as literal arrays — the
    driver holds at most K vectors (the MLlib-KMeans bounded-collect
    precedent, see plans/sketches.py)."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr(f"transform(embedding, x -> cast(floor(cast(x as double)"
               f" * {MMR_SCALE}.0 + 0.5) as bigint))").alias("v"))
    qv = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    cand = (e.filter(F.col("vec_id") != 0)
            .crossJoin(F.broadcast(qv))
            .select("vec_id", "v",
                    _dot_col(F.col("v"), F.col("qv")).alias("rel"))
            .orderBy(F.desc("rel"), F.asc("vec_id"))
            .limit(MMR_N))
    # checkpoint BEFORE the emptiness probe so the corpus-sized
    # candidate reduce runs once, not once for the probe and once for
    # the checkpoint
    cand = cand.localCheckpoint(eager=True)
    if cand.isEmpty():
        return spark.createDataFrame([], _MMR_SCHEMA)

    picked: list[dict] = []
    for t in range(MMR_K):
        if not picked:
            row = cand.orderBy(F.desc("rel"), F.asc("vec_id")).first()
            if row is None:
                break
            picked.append({"sel_order": t, "vec_id": row["vec_id"],
                           "rel_q": row["rel"], "maxsim_q": 0,
                           "mmr2_q": row["rel"], "v": row["v"]})
            continue
        sel_arr = F.array(*[F.lit(p["v"]).cast("array<bigint>")
                            for p in picked])
        remaining = cand.filter(
            ~F.col("vec_id").isin([p["vec_id"] for p in picked]))
        scored = (remaining
                  .withColumn("maxsim", F.array_max(F.transform(
                      sel_arr, lambda sv: _dot_col(F.col("v"), sv))))
                  .withColumn("mmr2", F.col("rel") - F.col("maxsim")))
        row = scored.orderBy(F.desc("mmr2"), F.asc("vec_id")).first()
        if row is None:
            break
        picked.append({"sel_order": t, "vec_id": row["vec_id"],
                       "rel_q": row["rel"], "maxsim_q": row["maxsim"],
                       "mmr2_q": row["mmr2"], "v": row["v"]})
    rows = [(p["sel_order"], p["vec_id"], p["rel_q"], p["maxsim_q"],
             p["mmr2_q"]) for p in picked]
    return spark.createDataFrame(rows, _MMR_SCHEMA)


# --- event-path pattern matching -----------------------------------------

_FUNNEL_RE = "v.*c.*p"   # view ... click ... purchase (subsequence)


@register(
    "event_path_pattern_match",
    oracle=f"""
    WITH paths AS (
      SELECT user_id,
             string_agg(substr(event_type, 1, 1), ''
                        ORDER BY ts, event_id) AS path,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT user_id, path, n_events,
           regexp_matches(path, '{_FUNNEL_RE}') AS funnel_hit,
           CAST(len(regexp_extract_all(path, 'vcp')) AS BIGINT)
             AS n_vcp_adjacent,
           CAST(COALESCE(list_max(list_transform(
                  regexp_extract_all(path, 'v+'), x -> length(x))), 0)
                AS BIGINT) AS longest_view_run,
           CAST(length(regexp_extract(path, '^[^p]*p')) AS BIGINT)
             AS first_purchase_pos
    FROM paths
    """,
    tags=("selection", "sequence", "events"),
)
def event_path_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern recognition (the MATCH_RECOGNIZE shape) over the
    event log: each user's history becomes a compact event-type
    initial string in (ts, event_id) total order, and funnel/run
    patterns are evaluated with regexes — subsequence funnel hit
    (v.*c.*p), adjacent view->click->purchase conversions, longest
    uninterrupted view run, and the 1-based position of the first
    purchase (0 = never).

    All outputs are exact integers/booleans on an exact string, so
    both engines hash-match. Scale shape: one partitioned aggregate
    (sort_array(collect_list(struct))) per user — state bounded by a
    user's event count; for unbounded histories compose with
    session_windows_per_user to bound the path per session. No global
    window anywhere; regexes evaluate per-row JVM-side."""
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"),
        F.expr("substring(event_type, 1, 1)").alias("c"))
    paths = (e.groupBy("user_id")
             .agg(F.expr("array_join(transform(sort_array(collect_list("
                         "struct(ts_us, event_id, c))), x -> x.c), '')")
                  .alias("path"),
                  F.count(F.lit(1)).alias("n_events")))
    return paths.select(
        "user_id", "path", "n_events",
        F.col("path").rlike(_FUNNEL_RE).alias("funnel_hit"),
        F.expr("cast(size(regexp_extract_all(path, 'vcp', 0)) as bigint)")
         .alias("n_vcp_adjacent"),
        F.expr("cast(coalesce(array_max(transform("
               "regexp_extract_all(path, 'v+', 0), x -> length(x))), 0)"
               " as bigint)").alias("longest_view_run"),
        F.expr("cast(length(regexp_extract(path, '^[^p]*p', 0)) as bigint)")
         .alias("first_purchase_pos"))


# --- co-purchase triangle census -----------------------------------------

TRI_MIN_SUPPORT = 2   # keep edges co-ordered in >= 2 orders


@register(
    "part_triangle_count",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    pr AS (
      SELECT a.l_partkey AS a, b.l_partkey AS b, COUNT(*) AS m
      FROM li a JOIN li b
        ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
      GROUP BY 1, 2
    ),
    e AS (SELECT a, b FROM pr WHERE m >= {TRI_MIN_SUPPORT}),
    deg AS (
      SELECT n, CAST(COUNT(*) AS BIGINT) AS d
      FROM (SELECT a AS n FROM e UNION ALL SELECT b FROM e)
      GROUP BY n
    ),
    tri AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS t
      FROM e e1
      JOIN e e2 ON e2.a = e1.a AND e2.b > e1.b
      JOIN e e3 ON e3.a = e1.b AND e3.b = e2.b
    ),
    agg AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
             (SELECT CAST(COALESCE(SUM((d * (d - 1)) // 2), 0) AS BIGINT)
              FROM deg) AS n_wedges,
             (SELECT t FROM tri) AS n_triangles
    )
    SELECT n_nodes, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges = 0 THEN CAST(0.0 AS DOUBLE)
                ELSE {duck_round_ratio('3 * n_triangles', 'n_wedges', 6)}
           END AS transitivity
    FROM agg
    """,
    tags=("selection", "graph"),
)
def part_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the co-purchase part graph: parts are
    connected when they appear in >= {TRI_MIN_SUPPORT} common orders
    (the support threshold keeps the graph sparse no matter how many
    orders stream in — raw co-occurrence pairs stay bounded by
    basket_size^2 per order, and the support filter collapses them to
    a near-constant edge set). Reports nodes/edges/wedges/triangles
    and global transitivity = 3*triangles / wedges.

    Plan shape: basket self-join (bounded by basket size), one
    support-filtered aggregate, then the canonical a<b<c wedge-close:
    wedges join on the shared LOW endpoint and close with an edge
    lookup — each triangle counted exactly once, no orientation
    duplicates. At larger densities, orient edges low-degree ->
    high-degree first (Schank-Wagner) to bound per-node wedge fanout;
    the census itself is one row, exact in both engines."""
    li = (_t(spark, sf_dir, "lineitem")
          .select("l_orderkey", "l_partkey").distinct())
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("a"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("b"))
    edges = (a.join(b, "ok")
             .filter(F.col("b") > F.col("a"))
             .groupBy("a", "b").agg(F.count(F.lit(1)).alias("m"))
             .filter(F.col("m") >= TRI_MIN_SUPPORT)
             .select("a", "b")
             .localCheckpoint(eager=True))
    deg = (edges.select(F.col("a").alias("n"))
           .unionByName(edges.select(F.col("b").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("d")))
    e1 = edges.select(F.col("a").alias("w_a"), F.col("b").alias("w_b1"))
    e2 = edges.select(F.col("a").alias("w_a"), F.col("b").alias("w_b2"))
    wedge = e1.join(e2, "w_a").filter(F.col("w_b2") > F.col("w_b1"))
    closing = edges.select(F.col("a").alias("w_b1"), F.col("b").alias("w_b2"))
    tri = (wedge.join(closing, ["w_b1", "w_b2"])
           .agg(F.count(F.lit(1)).cast("long").alias("t")))
    stats = (deg.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
                     F.coalesce(F.sum(F.expr("(d * (d - 1)) div 2")),
                                F.lit(0)).cast("long").alias("n_wedges"))
             .crossJoin(edges.agg(F.count(F.lit(1)).cast("long")
                                  .alias("n_edges")))
             .crossJoin(tri))
    transitivity = F.when(
        F.col("n_wedges") == 0, F.lit(0.0)).otherwise(
        spark_round_ratio("3 * t", "n_wedges", 6))
    return stats.select("n_nodes", "n_edges", "n_wedges",
                        F.col("t").alias("n_triangles"),
                        transitivity.alias("transitivity"))


# --- asymmetric containment near-dup -------------------------------------

CONTAIN_BLOCK = 40      # same-source doc_id window (swap for LSH at scale)
CONTAIN_THRESHOLD = 0.8


@register(
    "ngram_containment_pairs",
    oracle=f"""
    WITH docs_w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    shingles AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, GREATEST(0, CAST(len(words) AS BIGINT) - 2)),
                 i -> array_to_string(words[i:i+2], ' '))) AS shingle
        FROM docs_w
      )
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM shingles GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON a.source = b.source AND b.doc_id > a.doc_id
       AND b.doc_id <= a.doc_id + {CONTAIN_BLOCK}
    ),
    inter AS (
      SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM pairs p
      JOIN shingles sa ON sa.doc_id = p.doc_a
      JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           COALESCE(i.n_common, 0) AS n_common,
           {duck_round_ratio('COALESCE(i.n_common, 0)', 'za.n', 6)}
             AS containment_ab,
           {duck_round_ratio('COALESCE(i.n_common, 0)', 'zb.n', 6)}
             AS containment_ba,
           GREATEST({duck_round_ratio('COALESCE(i.n_common, 0)', 'za.n', 6)},
                    {duck_round_ratio('COALESCE(i.n_common, 0)', 'zb.n', 6)})
             >= {CONTAIN_THRESHOLD} AS near_dup
    FROM pairs p
    JOIN sizes za ON za.doc_id = p.doc_a
    JOIN sizes zb ON zb.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    """,
    tags=("selection", "dedup", "containment"),
)
def ngram_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric Broder containment over blocked candidate pairs:
    C(A,B) = |S(A) ∩ S(B)| / |S(A)| on 3-gram shingle sets. A short
    doc fully quoted inside a long one scores containment ~1 while
    Jaccard stays low — the near-dup class symmetric measures miss.
    Blocking, shingling, and the intersect join mirror
    ngram_jaccard_pairs (swap the doc_id block for LSH candidates in
    production); ratios use half-up integer rounding so the flag is
    deterministic."""
    d = _t(spark, sf_dir, "documents")
    sh = shingles_of(d)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    pairs = (a.join(b, (F.col("src_a") == F.col("src_b"))
                    & (F.col("doc_b") > F.col("doc_a"))
                    & (F.col("doc_b") <= F.col("doc_a") + CONTAIN_BLOCK))
             .select("doc_a", "doc_b"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (pairs.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_common")))
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    c_ab = spark_round_ratio("coalesce(n_common, 0)", "na", 6)
    c_ba = spark_round_ratio("coalesce(n_common, 0)", "nb", 6)
    return (pairs.join(za, "doc_a").join(zb, "doc_b")
            .join(inter, ["doc_a", "doc_b"], "left")
            .select("doc_a", "doc_b",
                    F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
                    c_ab.alias("containment_ab"),
                    c_ba.alias("containment_ba"),
                    (F.greatest(c_ab, c_ba) >= CONTAIN_THRESHOLD)
                    .alias("near_dup")))


# --- positional PMI collocations -----------------------------------------

PMI_MIN_COUNT = 3
PMI_TOP = 20


@register(
    "skipgram_pmi_pairs",
    oracle=f"""
    WITH docs_w AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    ),
    pairs AS (
      SELECT words[i] AS w1, words[i + o] AS w2
      FROM docs_w,
           unnest([1, 2]) AS os(o),
           unnest(generate_series(1, GREATEST(0, CAST(len(words) AS BIGINT) - o)))
             AS t(i)
    ),
    pc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM pairs GROUP BY w1, w2),
    lm AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM pc GROUP BY w1),
    rm AS (SELECT w2, CAST(SUM(c12) AS BIGINT) AS c2 FROM pc GROUP BY w2),
    tot AS (SELECT CAST(SUM(c12) AS BIGINT) AS n FROM pc),
    pmi AS (
      SELECT p.w1, p.w2, p.c12,
             CAST(round(ln((CAST(p.c12 AS DOUBLE) * t.n)
                           / (CAST(l.c1 AS DOUBLE) * r.c2))
                        * {_E9}.0) AS BIGINT) AS pmi_e9
      FROM pc p
      JOIN lm l ON l.w1 = p.w1
      JOIN rm r ON r.w2 = p.w2
      CROSS JOIN tot t
      WHERE p.c12 >= {PMI_MIN_COUNT}
    )
    SELECT w1, w2, c12 AS n_pair, pmi_e9,
           CAST(pmi_e9 AS DOUBLE) / {_E9}.0 AS pmi
    FROM pmi
    ORDER BY pmi_e9 DESC, w1, w2 LIMIT {PMI_TOP}
    """,
    tags=("selection", "text", "pmi"),
)
def skipgram_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional PMI collocations: directional skip-gram pairs at
    offsets 1 and 2, PMI = ln(P(x,y) / (P(x)P(y))) over pair-instance
    margins, minimum pair count {PMI_MIN_COUNT}, global top {PMI_TOP}
    by (pmi, w1, w2) — the association statistic behind phrase mining
    and word2vec subsampling.

    Exactness: PMI is quantized to int64 per VOCABULARY-PAIR row
    (never summed), and every count product stays below 2^53 so the
    double math inside ln() is identical in both engines; the
    trailing double `pmi` is a single exact-dividend division.
    Scale shape: one corpus explode -> pair counts (map-side
    combined), margins are vocabulary-sized broadcasts, top-k is
    TakeOrderedAndProject."""
    docs = (fanout(_t(spark, sf_dir, "documents"))
            .select("doc_id", F.split("text", " ").alias("words")))
    pair_expr = (
        "flatten(transform(array(1, 2), o ->"
        " CASE WHEN size(words) > o THEN"
        "   transform(sequence(1, size(words) - o),"
        "     i -> struct(element_at(words, i) as w1,"
        "                 element_at(words, i + o) as w2))"
        " ELSE array() END))")
    pc = (docs.select(F.explode(F.expr(pair_expr)).alias("p"))
          .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
          .groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
          .localCheckpoint(eager=True))
    lm = pc.groupBy("w1").agg(F.sum("c12").alias("c1"))
    rm = pc.groupBy("w2").agg(F.sum("c12").alias("c2"))
    tot = pc.agg(F.sum("c12").alias("n"))
    pmi = (pc.filter(F.col("c12") >= PMI_MIN_COUNT)
           .join(F.broadcast(lm), "w1")
           .join(F.broadcast(rm), "w2")
           .crossJoin(F.broadcast(tot))
           .select("w1", "w2", "c12", F.expr(
               f"cast(round(ln((cast(c12 as double) * n)"
               f" / (cast(c1 as double) * c2)) * {_E9}.0) as bigint)")
               .alias("pmi_e9")))
    return (pmi.select("w1", "w2", F.col("c12").alias("n_pair"), "pmi_e9",
                       (F.col("pmi_e9").cast("double") / F.lit(float(_E9)))
                       .alias("pmi"))
            .orderBy(F.desc("pmi_e9"), "w1", "w2")
            .limit(PMI_TOP))


# --- sessionized path mining ---------------------------------------------

PATH_GAP_US = 1_800 * 1_000_000   # 30-min inactivity gap (microseconds)
PATH_TOP = 15


@register(
    "top_session_paths",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, substr(event_type, 1, 1) AS c,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_id, c, ts_us,
             CASE WHEN LAG(ts_us) OVER w IS NULL
                  OR ts_us - LAG(ts_us) OVER w > {PATH_GAP_US}
                  THEN 1 ELSE 0 END AS new_session
      FROM e
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    sessions AS (
      SELECT user_id, event_id, c, ts_us,
             CAST(SUM(new_session) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS session_id
      FROM flagged
    ),
    paths AS (
      SELECT user_id, session_id,
             string_agg(c, '' ORDER BY ts_us, event_id) AS path
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT path,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(length(path) AS BIGINT) AS path_len
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path LIMIT {PATH_TOP}
    """,
    tags=("selection", "sequence", "session"),
)
def top_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized path mining: cut each user's event stream into
    30-minute-gap sessions (the session_windows_per_user boundaries,
    here under the (ts, event_id) total order so the path STRING is
    deterministic, not just the aggregates), render each session as
    its event-type-initial path, and report the top {PATH_TOP} most
    common session paths corpus-wide — the navigation-pattern report
    behind funnel design.

    Scale shape: two user-partitioned windows (lag + running flag
    sum), one (user, session) aggregate, then a path-keyed count with
    map-side partials; final top-k is TakeOrderedAndProject. Path
    state is bounded by the session gap, not user lifetime."""
    from pyspark.sql import Window
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id",
        F.expr("substring(event_type, 1, 1)").alias("c"),
        F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"))
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = e.withColumn(
        "new_session",
        F.when(F.lag("ts_us").over(w).isNull()
               | (F.col("ts_us") - F.lag("ts_us").over(w) > PATH_GAP_US),
               1).otherwise(0))
    sessions = flagged.withColumn(
        "session_id",
        F.sum("new_session").over(
            w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"))
    paths = (sessions.groupBy("user_id", "session_id")
             .agg(F.expr("array_join(transform(sort_array(collect_list("
                         "struct(ts_us, event_id, c))), x -> x.c), '')")
                  .alias("path")))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).cast("long").alias("n_sessions"),
                 F.countDistinct("user_id").cast("long").alias("n_users"))
            .withColumn("path_len", F.length("path").cast("long"))
            .orderBy(F.desc("n_sessions"), "path")
            .limit(PATH_TOP))


# --- point-in-time (SCD2) join -------------------------------------------

@register(
    "scd2_point_in_time_join",
    oracle="""
    WITH status AS (
      SELECT user_id, event_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE event_type <> 'purchase'
    ),
    runs AS (
      SELECT user_id, event_id, event_type, ts_us,
             CASE WHEN LAG(event_type) OVER w IS NULL
                  OR LAG(event_type) OVER w <> event_type
                  THEN 1 ELSE 0 END AS is_change
      FROM status
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    run_ids AS (
      SELECT user_id, event_type, ts_us, event_id,
             CAST(SUM(is_change) OVER (
                    PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS run_id
      FROM runs
    ),
    run_first AS (
      -- first status row of each run under the TOTAL order
      -- (ts_us, event_id): its pair is the interval's from-key, so
      -- same-microsecond ties stay deterministic end-to-end
      SELECT user_id, event_type, ts_us, event_id,
             ROW_NUMBER() OVER (PARTITION BY user_id, run_id
                                ORDER BY ts_us, event_id) AS rn
      FROM run_ids
    ),
    intervals AS (
      SELECT user_id, event_type AS state,
             ts_us AS valid_from_us, event_id AS valid_from_eid,
             LEAD(ts_us) OVER w2 AS valid_to_us,
             LEAD(event_id) OVER w2 AS valid_to_eid
      FROM run_first WHERE rn = 1
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts_us, event_id)
    ),
    purchases AS (
      SELECT user_id, event_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
      FROM events WHERE event_type = 'purchase'
    )
    SELECT p.event_id, p.user_id, p.ts_us, ROUND(p.value, 2) AS value,
           i.state AS state_at_purchase,
           i.valid_from_us AS state_since_us
    FROM purchases p
    LEFT JOIN intervals i
      ON i.user_id = p.user_id
     AND (i.valid_from_us < p.ts_us
          OR (i.valid_from_us = p.ts_us
              AND i.valid_from_eid < p.event_id))
     AND (i.valid_to_us IS NULL
          OR p.ts_us < i.valid_to_us
          OR (p.ts_us = i.valid_to_us
              AND p.event_id < i.valid_to_eid))
    """,
    tags=("selection", "warehouse", "temporal"),
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: enrich every purchase with the user's SCD2
    status (their latest non-purchase event run) valid AT the purchase
    timestamp — the fact-to-dimension-history lookup every warehouse
    with SCD2 dimensions needs (and the canonical leak-free
    feature-store pattern: never joins a status from the future).

    The Spark plan does NOT build intervals and range-join (the
    oracle's derivation): it runs the AS-OF shape — union status
    changes and purchases into one (ts_us, event_id)-ordered stream
    per user and carry the last seen status forward with one window
    pass (last_value IGNORE NULLS). One shuffle on user_id, no
    interval explosion, bounded state. The two derivations agreeing is
    the point: the oracle proves the as-of rewrite implements interval
    semantics exactly (same discipline as asof_purchase_context vs
    DuckDB's native ASOF JOIN).

    A status and a purchase never share (ts_us, event_id); the total
    order makes same-microsecond ties deterministic: a status event
    with a LOWER event_id than a same-instant purchase is visible to
    it, a higher one is not. The oracle's interval bounds carry
    (ts_us, event_id) PAIRS compared lexicographically, so both
    derivations pin the identical tie semantics — exercised by a
    same-microsecond fixture in tests/test_selection.py (the
    generated corpus happens to contain no such collision)."""
    from pyspark.sql import Window
    e = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", "value",
        F.expr("unix_micros(cast(ts as timestamp))").alias("ts_us"))
    # Run-change detection happens on the STATUS stream alone (a
    # purchase between two same-status events must not restart the
    # run — the oracle's intervals are runs over status events only);
    # each run START emits a (state, since) struct, mid-run rows emit
    # NULL so the carried struct stays pinned to the run start.
    wlag = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    status = (e.filter(F.col("event_type") != "purchase")
              .select("user_id", "ts_us", "event_id",
                      F.col("event_type").alias("status"))
              .withColumn(
                  "status_change",
                  F.when(F.lag("status", 1).over(wlag).isNull()
                         | (F.lag("status", 1).over(wlag)
                            != F.col("status")),
                         F.struct(F.col("status").alias("state"),
                                  F.col("ts_us").alias("since"))))
              .select("user_id", "ts_us", "event_id", "status_change",
                      F.lit(None).cast("double").alias("value"),
                      F.lit(0).alias("is_fact")))
    change_type = status.schema["status_change"].dataType
    purchases = (e.filter(F.col("event_type") == "purchase")
                 .select("user_id", "ts_us", "event_id",
                         F.lit(None).cast(change_type)
                          .alias("status_change"),
                         "value", F.lit(1).alias("is_fact")))
    unioned = status.unionByName(purchases)
    w = (Window.partitionBy("user_id").orderBy("ts_us", "event_id")
         .rowsBetween(Window.unboundedPreceding, 0))
    carried = unioned.withColumn(
        "cur", F.last("status_change", ignorenulls=True).over(w))
    return (carried.filter(F.col("is_fact") == 1)
            .select("event_id", "user_id", "ts_us",
                    F.round("value", 2).alias("value"),
                    F.col("cur.state").alias("state_at_purchase"),
                    F.col("cur.since").alias("state_since_us")))


# --- minhash estimate accuracy -------------------------------------------

MH_BLOCK = 40   # same-source doc_id window (the jaccard/containment block)


def _mh_est_oracle() -> str:
    from transcript_analysis_spark.plans.data_pipeline import (
        _DUCK_SHINGLES, MINHASH_A, MINHASH_B, MOD, duck_char_hash)
    mins = ", ".join(f"MIN(({a} * h + {b}) % {MOD}) AS mh{i}"
                     for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)))
    k = len(MINHASH_A)
    matches = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(k))
    return f"""
    WITH {_DUCK_SHINGLES},
    hashed AS MATERIALIZED (
      SELECT doc_id, {duck_char_hash('shingle')} AS h FROM shingles
    ),
    sig AS MATERIALIZED (
      SELECT doc_id, {mins}, CAST(COUNT(*) AS BIGINT) AS n
      FROM hashed GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON a.source = b.source AND b.doc_id > a.doc_id
       AND b.doc_id <= a.doc_id + {MH_BLOCK}
    ),
    inter AS (
      SELECT p.doc_a, p.doc_b, CAST(COUNT(*) AS BIGINT) AS n_common
      FROM pairs p
      JOIN hashed ha ON ha.doc_id = p.doc_a
      JOIN hashed hb ON hb.doc_id = p.doc_b AND hb.h = ha.h
      GROUP BY p.doc_a, p.doc_b
    ),
    scored AS (
      SELECT p.doc_a, p.doc_b,
             COALESCE(i.n_common, 0) AS n_common,
             CAST({matches} AS BIGINT) AS n_match_components,
             sa.n AS na, sb.n AS nb
      FROM pairs p
      JOIN sig sa ON sa.doc_id = p.doc_a
      JOIN sig sb ON sb.doc_id = p.doc_b
      LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    )
    SELECT doc_a, doc_b, n_common, n_match_components,
           {duck_round_ratio('n_common', 'na + nb - n_common', 6)}
             AS jaccard_exact,
           {duck_round_ratio('n_match_components', str(k), 6)}
             AS jaccard_est,
           ROUND(ABS({duck_round_ratio('n_match_components', str(k), 6)}
                     - {duck_round_ratio('n_common', 'na + nb - n_common', 6)}),
                 6) AS abs_err
    FROM scored
    """


@register("minhash_jaccard_estimate_error", oracle=_mh_est_oracle(),
          tags=("selection", "dedup", "sketch"))
def minhash_jaccard_estimate_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-accuracy-as-an-operator: for every blocked candidate
    pair, the MinHash Jaccard ESTIMATE (fraction of equal signature
    components) next to the exact shingle Jaccard and the absolute
    error. Because the signatures use the portable polynomial hash
    family (plans/data_pipeline.py MINHASH_A/B), the estimate itself
    is deterministic and oracle-checked — the same discipline that
    made the CMS/HLL/histogram estimates first-class outputs. The
    error column is what you monitor when tuning signature width K
    against a dedup threshold.

    Plan shape: shingle-hash table computed ONCE (checkpoint) feeds
    both the signature aggregate and the exact-intersect join; pair
    generation is the bounded same-source block (LSH candidates in
    production)."""
    from transcript_analysis_spark.plans.data_pipeline import (
        MINHASH_A, MINHASH_B, MOD, _t as _t2, spark_char_hash)
    k = len(MINHASH_A)
    d = _t2(spark, sf_dir, "documents")
    hashed = (shingles_of(d)
              .select("doc_id", F.expr(spark_char_hash("shingle")).alias("h"))
              .localCheckpoint(eager=True))
    sig = (hashed.groupBy("doc_id")
           .agg(*[F.min((F.lit(a) * F.col("h") + F.lit(b)) % MOD)
                  .alias(f"mh{i}")
                  for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))],
                F.count(F.lit(1)).cast("long").alias("n")))
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    pairs = (a.join(b, (F.col("src_a") == F.col("src_b"))
                    & (F.col("doc_b") > F.col("doc_a"))
                    & (F.col("doc_b") <= F.col("doc_a") + MH_BLOCK))
             .select("doc_a", "doc_b"))
    ha = hashed.select(F.col("doc_id").alias("doc_a"), "h")
    hb = hashed.select(F.col("doc_id").alias("doc_b"), "h")
    inter = (pairs.join(ha, "doc_a").join(hb, ["doc_b", "h"])
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).cast("long").alias("n_common_raw")))
    sa = sig.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)],
                    F.col("n").alias("na"))
    sb = sig.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)],
                    F.col("n").alias("nb"))
    match_expr = " + ".join(
        f"CASE WHEN a{i} = b{i} THEN 1 ELSE 0 END" for i in range(k))
    scored = (pairs.join(sa, "doc_a").join(sb, "doc_b")
              .join(inter, ["doc_a", "doc_b"], "left")
              .select("doc_a", "doc_b",
                      F.coalesce(F.col("n_common_raw"), F.lit(0))
                       .alias("n_common"),
                      F.expr(f"cast({match_expr} as bigint)")
                       .alias("n_match_components"),
                      "na", "nb"))
    j_exact = spark_round_ratio("n_common", "na + nb - n_common", 6)
    j_est = spark_round_ratio("n_match_components", str(k), 6)
    return scored.select(
        "doc_a", "doc_b", "n_common", "n_match_components",
        j_exact.alias("jaccard_exact"),
        j_est.alias("jaccard_est"),
        F.round(F.abs(j_est - j_exact), 6).alias("abs_err"))


# --- composite: the selection decision per document ----------------------

def _register_selection_plan() -> None:
    # composed from the registered component oracles / shared CTE
    # generators so the composite can never drift from its stages
    # (the corpus_release_prep discipline applied to selection)
    from transcript_analysis_spark.plans.curation import (
        _duck_lsh_component_ctes,
        dataset_split_assignment,
    )
    from transcript_analysis_spark.plans.registry import _REGISTRY
    dsir_oracle = _REGISTRY["dsir_importance_weights"].oracle
    spl_oracle = _REGISTRY["dataset_split_assignment"].oracle

    @register(
        "dsir_selection_plan",
        oracle=f"""
        WITH RECURSIVE {_duck_lsh_component_ctes()},
        member AS (
          SELECT c.component_id, c.doc_id, d.n_chars
          FROM comp c JOIN documents d ON d.doc_id = c.doc_id
        ),
        ranked AS (
          SELECT doc_id, ROW_NUMBER() OVER (
                   PARTITION BY component_id
                   ORDER BY n_chars DESC, doc_id ASC) AS rk
          FROM member
        ),
        dropped AS (SELECT doc_id FROM ranked WHERE rk > 1),
        dsir AS ({dsir_oracle}),
        spl AS ({spl_oracle})
        SELECT s.doc_id, p.split, s.avg_logratio,
               CASE WHEN dr.doc_id IS NOT NULL THEN 'dedup_drop'
                    WHEN NOT s.target_like THEN 'off_target'
                    ELSE 'selected' END AS decision,
               CASE WHEN dr.doc_id IS NOT NULL THEN FALSE
                    WHEN NOT s.target_like THEN FALSE
                    ELSE TRUE END AS selected
        FROM dsir s
        JOIN spl p ON p.doc_id = s.doc_id
        LEFT JOIN dropped dr ON dr.doc_id = s.doc_id
        """,
        tags=("selection", "composite"),
    )
    def dsir_selection_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The selection tier as ONE decision per raw document:
        near-duplicates drop first (the LSH-component keep-list —
        only the longest doc of each component survives), then
        off-target docs (DSIR average log-ratio <= 0), and survivors
        carry their deterministic train/val/test split. Precedence is
        contractual: a duplicate reads 'dedup_drop' even if it is
        also off-target — dedup verdicts must not depend on model
        scores, or re-fitting the target LM silently changes the
        dedup output.

        Every stage is the REGISTERED query (components from the same
        large-star/small-star contraction and LSH candidate pairs the
        dedup tier uses; the oracle is composed from the registered
        oracles and the shared component-CTE generator), so the
        composite cannot drift from its parts. All joins are
        doc_id-keyed; the component labels are bounded by the pair
        set, so the extra work over plain DSIR is O(duplicates)."""
        from transcript_analysis_spark.operators.components import (
            connected_components,
        )
        from transcript_analysis_spark.plans.data_pipeline import (
            minhash_lsh_candidate_pairs,
        )
        dsir = dsir_importance_weights(spark, sf_dir)
        spl = dataset_split_assignment(spark, sf_dir).select("doc_id", "split")
        pairs = minhash_lsh_candidate_pairs(spark, sf_dir)
        labels = connected_components(
            pairs.selectExpr("doc_a as u", "doc_b as v"))
        docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
        members = labels.join(docs, labels["n"] == docs["doc_id"])
        kept = (members.groupBy("label")
                .agg(F.max(F.struct(
                    F.col("n_chars"),
                    (-F.col("doc_id")).alias("neg_id"))).alias("best"))
                .select("label",
                        (-F.col("best.neg_id")).alias("kept_doc_id")))
        dropped = (members.join(kept, "label")
                   .filter(F.col("doc_id") != F.col("kept_doc_id"))
                   .select("doc_id", F.lit(True).alias("is_dup_drop")))
        j = (dsir.join(spl, "doc_id")
             .join(dropped, "doc_id", "left"))
        decision = (F.when(F.col("is_dup_drop"), F.lit("dedup_drop"))
                    .when(~F.col("target_like"), F.lit("off_target"))
                    .otherwise(F.lit("selected")))
        return j.select("doc_id", "split", "avg_logratio",
                        decision.alias("decision"),
                        (decision == "selected").alias("selected"))


_register_selection_plan()
