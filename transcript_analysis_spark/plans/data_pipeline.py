"""Training-data pipeline operators: dedup, similarity search, text
analysis, multimodal plumbing.

These go beyond the reference's own surface (BASELINE.json north
star): the operations a 100 TB training-data pipeline needs, each
expressed as declarative Spark and each with a DuckDB oracle.

Engine-parity hashing: no Spark `hash()` / `xxhash64()` anywhere —
every hash is an explicit polynomial rolling hash over character
codes, computed with exact int64 arithmetic that both engines
reproduce bit-for-bit:

    h = fold(chars, 0, (acc, c) -> (acc * 31 + ascii(c)) % 1_000_000_007)

At cluster scale the Spark side of every query is shuffle-minimal:
shingling/hashing is per-row array math; MinHash signatures are one
hash-aggregate; LSH candidate pairs shuffle once on the band key
(that IS the LSH bucket join); cosine math is per-row against a
broadcast query vector.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from transcript_analysis_spark.operators.components import connected_components
from transcript_analysis_spark.plans.registry import register
from transcript_analysis_spark.functions.rounding import (
    duck_round_ratio,
    spark_round_ratio,
)
from transcript_analysis_spark.sources.tables import fanout, load_table

MOD = 1_000_000_007
# MinHash permutation parameters (a*h + b) % MOD — 8 perms, 4 bands x 2 rows.
MINHASH_A = [3, 5, 7, 11, 13, 17, 19, 23]
MINHASH_B = [1, 2, 3, 5, 8, 13, 21, 34]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# --- portable polynomial char hash --------------------------------------

def spark_char_hash(col_expr: str) -> str:
    return (f"aggregate(transform(split({col_expr}, ''),"
            f" c -> cast(ascii(c) as bigint)), cast(0 as bigint),"
            f" (a, b) -> (a * 31 + b) % {MOD})")


def duck_char_hash(col_expr: str) -> str:
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
            f" list_transform(string_split({col_expr}, ''),"
            f" c -> CAST(ascii(c) AS BIGINT))),"
            f" (a, b) -> (a * 31 + b) % {MOD})")


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------

@register(
    "exact_dedup_groups",
    oracle="""
    SELECT MIN(doc_id)  AS canonical_doc_id,
           COUNT(*)     AS n_copies,
           MIN(n_chars) AS n_chars
    FROM documents
    GROUP BY text
    """,
    tags=("dedup",),
)
def exact_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on full text; canonical = min doc_id.
    At scale this is one shuffle on the (hashed) text key; map-side
    partial aggregation collapses duplicates before the exchange."""
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy("text")
            .agg(F.min("doc_id").alias("canonical_doc_id"),
                 F.count(F.lit(1)).alias("n_copies"),
                 F.min("n_chars").alias("n_chars"))
            .drop("text"))


def shingles_of(docs: DataFrame) -> DataFrame:
    """Distinct 3-word shingles of a (doc_id, text) frame — shared by
    the batch dedup queries and the incremental streaming form
    (streaming/neardup.py)."""
    return (
        docs.select("doc_id", F.split("text", " ").alias("words"))
        # Guard: sequence(1, 0) yields DESCENDING [1, 0] in Spark, and
        # slice(words, 0, 3) then throws — docs under 3 words must
        # short-circuit to an empty shingle set (the DuckDB oracle's
        # generate_series(1, 0) is already empty).
        .select("doc_id", F.explode(F.expr(
            "CASE WHEN size(words) >= 3 THEN"
            " transform(sequence(1, size(words) - 2),"
            " i -> concat_ws(' ', slice(words, i, 3)))"
            " ELSE array() END")).alias("shingle"))
        .distinct()
    )


def _spark_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct 3-word shingles per corpus document."""
    return shingles_of(fanout(_t(spark, sf_dir, "documents")))


def minhash_band_keys(docs: DataFrame) -> DataFrame:
    """(doc_id, band, key) LSH band table of a (doc_id, text) frame:
    shingle -> portable char hash -> 8 permutation-mins -> 4 bands x 2
    rows. One hash-aggregate then a per-row band explode — the exact
    banding of `minhash_lsh_candidate_pairs`, factored out so the
    streaming incremental form appends to the same band space."""
    hashed = shingles_of(docs).select(
        "doc_id", F.expr(spark_char_hash("shingle")).alias("h"))
    sig = hashed.groupBy("doc_id").agg(*_minhash_cols())
    band_structs = ", ".join(
        f"struct({j} as band, concat(cast(mh{2*j} as string), '_',"
        f" cast(mh{2*j+1} as string)) as key)"
        for j in range(4))
    return (sig.select(
        "doc_id", F.explode(F.expr(f"array({band_structs})")).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"),
                F.col("bk.key").alias("key")))


_DUCK_SHINGLES = """
    shingles AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 generate_series(1, GREATEST(0, CAST(len(words) AS BIGINT) - 2)),
                 i -> array_to_string(words[i:i+2], ' '))) AS shingle
        FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
      )
    )
"""


def _minhash_cols() -> list[Column]:
    return [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % MOD).alias(f"mh{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]


def _duck_minhash_select() -> str:
    return ", ".join(
        f"MIN(({a} * h + {b}) % {MOD}) AS mh{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B)))


@register(
    "minhash_signatures",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    hashed AS (
      SELECT doc_id, {duck_char_hash('shingle')} AS h FROM shingles
    )
    SELECT doc_id, {_duck_minhash_select()}, COUNT(*) AS n_shingles
    FROM hashed GROUP BY doc_id
    """,
    tags=("dedup", "minhash"),
)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures: shingle -> portable polynomial hash -> 8
    permutation-min aggregates. Per-doc signature in one hash-agg pass
    (map-side combine keeps the shuffle tiny at any scale)."""
    sh = _spark_shingles(spark, sf_dir)
    hashed = sh.select("doc_id",
                       F.expr(spark_char_hash("shingle")).alias("h"))
    return (hashed.groupBy("doc_id")
            .agg(*_minhash_cols(), F.count(F.lit(1)).alias("n_shingles")))


@register(
    "minhash_lsh_candidate_pairs",
    headline=True,
    oracle=f"""
    WITH {_DUCK_SHINGLES},
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
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """,
    tags=("dedup", "minhash", "lsh"),
)
def minhash_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: 4 bands x 2 rows; docs sharing any band
    signature become candidate near-dup pairs. The band-key self-join
    is the scale path: candidates ~ O(collisions), never O(n^2)."""
    bands = minhash_band_keys(fanout(_t(spark, sf_dir, "documents")))
    a = bands.alias("a")
    b = bands.alias("b")
    return (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())


LSH_TUNE_CONFIGS = [(8, 1), (4, 2), (2, 4), (1, 8)]   # (bands, rows)
LSH_TUNE_JACCARD = 0.5    # truth threshold; J >= 1/2 <=> 3c >= na+nb


def _duck_band_cte(b: int, r: int) -> str:
    selects = []
    for j in range(b):
        key = " || '_' || ".join(
            f"CAST(mh{j * r + i} AS VARCHAR)" for i in range(r))
        selects.append(f"SELECT doc_id, {j} AS band, {key} AS key FROM sig")
    return " UNION ALL ".join(selects)


@register(
    "lsh_band_tuning_report",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    hashed AS (
      SELECT doc_id, {duck_char_hash('shingle')} AS h FROM shingles
    ),
    sig AS MATERIALIZED (
      SELECT doc_id, {_duck_minhash_select()}
      FROM hashed GROUP BY doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT sa.doc_id AS doc_a, sb.doc_id AS doc_b, COUNT(*) AS n_common
      FROM shingles sa
      JOIN shingles sb ON sb.shingle = sa.shingle
                      AND sb.doc_id > sa.doc_id
      GROUP BY sa.doc_id, sb.doc_id
    ),
    truth AS MATERIALIZED (
      SELECT i.doc_a, i.doc_b
      FROM inter i
      JOIN sizes za ON za.doc_id = i.doc_a
      JOIN sizes zb ON zb.doc_id = i.doc_b
      WHERE 3 * i.n_common >= za.n + zb.n
    ),
    {', '.join(
        f'''bands_b{b}r{r} AS ({_duck_band_cte(b, r)}),
    cand_b{b}r{r} AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_b{b}r{r} a JOIN bands_b{b}r{r} b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )''' for b, r in LSH_TUNE_CONFIGS)},
    report AS (
      {' UNION ALL '.join(
        f'''SELECT 'b{b}r{r}' AS config,
             CAST({b} AS BIGINT) AS n_bands,
             CAST({r} AS BIGINT) AS rows_per_band,
             CAST((SELECT COUNT(*) FROM cand_b{b}r{r}) AS BIGINT)
               AS n_candidates,
             CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
             CAST((SELECT COUNT(*) FROM cand_b{b}r{r} c
                   JOIN truth t ON t.doc_a = c.doc_a
                               AND t.doc_b = c.doc_b) AS BIGINT)
               AS n_hits,
             CAST({round(1.0 - (1.0 - LSH_TUNE_JACCARD ** r) ** b, 6)}
                  AS DOUBLE) AS p_capture_theory'''
        for b, r in LSH_TUNE_CONFIGS)}
    )
    SELECT config, n_bands, rows_per_band, n_candidates, n_truth, n_hits,
           {duck_round_ratio('n_hits', 'GREATEST(n_candidates, 1)', 6)}
             AS precision_at_t,
           {duck_round_ratio('n_hits', 'GREATEST(n_truth, 1)', 6)}
             AS recall_at_t,
           p_capture_theory
    FROM report
    """,
    tags=("dedup", "lsh", "minhash", "report"),
)
def lsh_band_tuning_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-scheme evidence for the MinHash dedup path — the dedup
    counterpart of `ann_recall_report`: one row per (bands x rows)
    split of the 8-component signature (8x1, 4x2, 2x4, 1x8) with the
    measured candidate count, precision and recall against the EXACT
    Jaccard >= {LSH_TUNE_JACCARD} truth set, beside the S-curve
    theoretical capture probability 1-(1-t^r)^b. This is the table a
    user reads to pick bands/rows for a target threshold instead of
    trusting the textbook curve (Leskovec/Rajaraman/Ullman ch.3) on
    faith.

    Everything is exact integer arithmetic: the truth predicate
    J >= 1/2 is the integer inequality 3*n_common >= na+nb (no float
    division anywhere near the decision), hit/candidate counts are
    BIGINTs, and the ratios go through the shared half-up rounding —
    so the whole report is oracle-checked. The truth set derives from
    the shared-shingle equi-join (any pair with J > 0 shares a
    shingle), bounded by shingle collisions like
    `crossdoc_shingle_dup_rate` — never all-pairs. At 100 TB each
    config's candidate join is the same banded self-join the
    production dedup runs; the report costs |configs| such probes."""
    sh = _spark_shingles(spark, sf_dir)
    hashed = sh.select("doc_id",
                       F.expr(spark_char_hash("shingle")).alias("h"))
    sig = hashed.groupBy("doc_id").agg(*_minhash_cols())
    sig = sig.localCheckpoint(eager=False)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (sa.join(sb, "shingle")
             .filter(F.col("doc_b") > F.col("doc_a"))
             .groupBy("doc_a", "doc_b")
             .agg(F.count(F.lit(1)).alias("n_common")))
    za = sizes.select(F.col("doc_id").alias("doc_a"),
                      F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"),
                      F.col("n").alias("nb"))
    truth = (inter.join(za, "doc_a").join(zb, "doc_b")
             .filter(3 * F.col("n_common") >= F.col("na") + F.col("nb"))
             .select("doc_a", "doc_b"))
    truth = truth.localCheckpoint(eager=False)
    n_truth = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))

    def config_row(b: int, r: int) -> DataFrame:
        band_structs = ", ".join(
            f"struct({j} as band, concat_ws('_', "
            + ", ".join(f"cast(mh{j * r + i} as string)"
                        for i in range(r)) + ") as key)"
            for j in range(b))
        bands = (sig.select(
            "doc_id",
            F.explode(F.expr(f"array({band_structs})")).alias("bk"))
            .select("doc_id", F.col("bk.band").alias("band"),
                    F.col("bk.key").alias("key")))
        cands = (bands.alias("a")
                 .join(bands.alias("b"),
                       (F.col("a.band") == F.col("b.band"))
                       & (F.col("a.key") == F.col("b.key"))
                       & (F.col("a.doc_id") < F.col("b.doc_id")))
                 .select(F.col("a.doc_id").alias("doc_a"),
                         F.col("b.doc_id").alias("doc_b"))
                 .distinct())
        n_cand = cands.agg(F.count(F.lit(1)).cast("long")
                           .alias("n_candidates"))
        n_hits = (cands.join(truth, ["doc_a", "doc_b"])
                  .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
        p_theory = round(1.0 - (1.0 - LSH_TUNE_JACCARD ** r) ** b, 6)
        return (n_cand.crossJoin(n_hits).crossJoin(F.broadcast(n_truth))
                .select(F.lit(f"b{b}r{r}").alias("config"),
                        F.lit(b).cast("long").alias("n_bands"),
                        F.lit(r).cast("long").alias("rows_per_band"),
                        "n_candidates", "n_truth", "n_hits",
                        spark_round_ratio(
                            "n_hits", "GREATEST(n_candidates, 1)", 6)
                        .alias("precision_at_t"),
                        spark_round_ratio(
                            "n_hits", "GREATEST(n_truth, 1)", 6)
                        .alias("recall_at_t"),
                        F.lit(p_theory).alias("p_capture_theory")))

    out = None
    for b, r in LSH_TUNE_CONFIGS:
        row = config_row(b, r)
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "simhash_fingerprints",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wh AS (
      SELECT doc_id, {duck_char_hash('word')} % 4294967296 AS h FROM tok
    ),
    bits AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN (h // CAST(POWER(2, b.bit) AS BIGINT)) % 2 = 1
                      THEN 1 ELSE -1 END) AS vote
      FROM wh
      CROSS JOIN (SELECT unnest(generate_series(0, 31)) AS bit) b
      GROUP BY doc_id, b.bit
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN CAST(POWER(2, bit) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    tags=("dedup", "simhash"),
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash: per-word hash -> per-bit +-1 votes -> sign.
    Near-dup docs differ in few bits (compare by hamming distance
    downstream). The 32 bit-votes are folded PER ROW into an array
    (no ×32 cross-join blow-up of the aggregate input), then one
    hash-aggregate sums each bit position; simhash is assembled from
    the 32 vote sums in a plain projection."""
    d = fanout(_t(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    wh = tok.select(
        "doc_id",
        (F.expr(spark_char_hash("word")) % F.lit(4294967296)).alias("h"))
    per_row = wh.withColumn("vote_vec", F.expr(
        "transform(sequence(0, 31),"
        " b -> CASE WHEN shiftright(h, b) % 2 = 1 THEN 1 ELSE -1 END)"))
    votes = per_row.groupBy("doc_id").agg(
        *[F.sum(F.element_at("vote_vec", b + 1)).alias(f"v{b}")
          for b in range(32)])
    simhash = None
    for b in range(32):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return votes.select("doc_id", simhash.cast("long").alias("simhash"))


# SimHash near-dup pairing (Manku, Jain & Das Sarma, WWW'07): a 60-bit
# fingerprint split into 4 bands of 15 bits.  Pigeonhole: two
# fingerprints within Hamming distance 3 agree exactly on at least one
# band, so the banded equi-join generates every true pair; the exact
# bit_count(xor) check then drops band collisions.  At production
# scale the band width is the tuning knob (Manku: |prefix| ~ log2(n)
# bits so expected bucket size stays O(1)); 15 bits / 32k buckets per
# band is sized for the driver corpus and is a shared constant so the
# docstring's scaling rule has one place to change.
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = 15          # SIMHASH_BITS / SIMHASH_BANDS
SIMHASH_MAX_HAMMING = 3         # pigeonhole-complete for 4 bands

# Per-bit word hash g_b(h) = ((2b+3)*h + b) mod p mod 2 — an
# independent affine re-hash of the word's polynomial char hash per
# bit position, identical algebra on both engines (max intermediate
# (2*59+3) * (MOD-1) ~ 1.2e11, far inside int64).
_SIMHASH_BIT = "(((h * (2 * {b} + 3) + {b}) % " + str(MOD) + ") % 2)"

_DUCK_SIMHASH60 = f"""
    tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wh AS (
      SELECT doc_id, {duck_char_hash('word')} AS h FROM tok
    ),
    bits AS (
      SELECT doc_id, b.bit,
             SUM(CASE WHEN {_SIMHASH_BIT.format(b='b.bit')} = 1
                      THEN 1 ELSE -1 END) AS vote
      FROM wh
      CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1}))
                  AS bit) b
      GROUP BY doc_id, b.bit
    ),
    sh AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN vote > 0
                           THEN CAST(POWER(2, bit) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )"""


@register(
    "simhash_hamming_pairs",
    oracle=f"""
    WITH {_DUCK_SIMHASH60},
    bands AS (
      SELECT doc_id, j.band,
             (simhash // CAST(POWER(2, {SIMHASH_BAND_BITS} * j.band)
                              AS BIGINT)) % {1 << SIMHASH_BAND_BITS} AS key
      FROM sh
      CROSS JOIN (SELECT unnest(generate_series(0, {SIMHASH_BANDS - 1}))
                  AS band) j
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.key = b.key
                  AND b.doc_id > a.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           bit_count(xor(sa.simhash, sb.simhash)) AS hamming
    FROM cand c
    JOIN sh sa ON sa.doc_id = c.doc_a
    JOIN sh sb ON sb.doc_id = c.doc_b
    WHERE bit_count(xor(sa.simhash, sb.simhash)) <= {SIMHASH_MAX_HAMMING}
    """,
    tags=("dedup", "simhash"),
)
def simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= 3 over a 60-bit
    fingerprint (Manku et al. WWW'07 pigeonhole banding — the SimHash
    complement of `minhash_lsh_candidate_pairs`; reference analog:
    the dedup pass of maintain_database.py's ingest loop, which the
    reference does exactly-only).

    Plan shape: one hash-aggregate builds the 60 per-bit vote sums per
    doc (votes folded per row into an array first — no x60 explode of
    the aggregate input); fingerprints then fan out to 4 (band, key)
    rows each and self-join on the band key — never all-pairs.  The
    exact Hamming filter runs on the candidate set only.  At 100 TB
    the band key join is the only shuffle that grows, and its bucket
    population is controlled by SIMHASH_BAND_BITS (Manku's rule:
    ~log2(corpus) bits keeps buckets O(1))."""
    d = fanout(_t(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    wh = tok.select("doc_id",
                    F.expr(spark_char_hash("word")).alias("h"))
    per_row = wh.withColumn("vote_vec", F.expr(
        f"transform(sequence(0, {SIMHASH_BITS - 1}),"
        f" b -> CASE WHEN {_SIMHASH_BIT.format(b='b')} = 1"
        f" THEN 1 ELSE -1 END)"))
    votes = per_row.groupBy("doc_id").agg(
        *[F.sum(F.element_at("vote_vec", b + 1)).alias(f"v{b}")
          for b in range(SIMHASH_BITS)])
    simhash = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    sh = votes.select("doc_id", simhash.cast("long").alias("simhash"))
    band_structs = ", ".join(
        f"struct({j} as band,"
        f" shiftright(simhash, {SIMHASH_BAND_BITS * j})"
        f" % {1 << SIMHASH_BAND_BITS} as key)"
        for j in range(SIMHASH_BANDS))
    bands = (sh.select(
        "doc_id", "simhash",
        F.explode(F.expr(f"array({band_structs})")).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"),
                F.col("bk.key").alias("key")))
    cand = (bands.alias("a")
            .join(bands.alias("b"),
                  (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.key") == F.col("b.key"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .distinct())
    return (cand
            .join(sh.select(F.col("doc_id").alias("doc_a"),
                            F.col("simhash").alias("sha")), "doc_a")
            .join(sh.select(F.col("doc_id").alias("doc_b"),
                            F.col("simhash").alias("shb")), "doc_b")
            .select("doc_a", "doc_b",
                    F.expr("bit_count(sha ^ shb)").alias("hamming"))
            .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING))


@register(
    "ngram_jaccard_pairs",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM documents a JOIN documents b
        ON a.source = b.source AND b.doc_id > a.doc_id
       AND b.doc_id <= a.doc_id + 40
    ),
    inter AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
      FROM pairs p
      JOIN shingles sa ON sa.doc_id = p.doc_a
      JOIN shingles sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
      GROUP BY p.doc_a, p.doc_b
    )
    SELECT p.doc_a, p.doc_b,
           COALESCE(i.n_common, 0) AS n_common,
           (CAST((CASE WHEN (COALESCE(i.n_common, 0)) < 0 THEN -1 ELSE 1 END) * ((2 * abs(CAST((COALESCE(i.n_common, 0)) AS BIGINT)) * 1000000 + (za.n + zb.n - COALESCE(i.n_common, 0))) // (2 * (za.n + zb.n - COALESCE(i.n_common, 0)))) AS DOUBLE) / 1000000) AS jaccard
    FROM pairs p
    JOIN sizes za ON za.doc_id = p.doc_a
    JOIN sizes zb ON zb.doc_id = p.doc_b
    LEFT JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
    """,
    tags=("dedup", "jaccard"),
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard similarity over bounded candidate pairs (same
    source, doc_id within +40 — the blocked-pairs pattern that keeps
    pair count linear at scale; swap the block for LSH candidates in
    production)."""
    d = _t(spark, sf_dir, "documents")
    sh = _spark_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    pairs = a.join(b, (F.col("src_a") == F.col("src_b"))
                   & (F.col("doc_b") > F.col("doc_a"))
                   & (F.col("doc_b") <= F.col("doc_a") + 40)).select("doc_a", "doc_b")
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (pairs.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_common")))
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (pairs.join(za, "doc_a").join(zb, "doc_b")
            .join(inter, ["doc_a", "doc_b"], "left")
            .select(
                "doc_a", "doc_b",
                F.coalesce(F.col("n_common"), F.lit(0)).alias("n_common"),
                spark_round_ratio("coalesce(n_common, 0)",
                                  "na + nb - coalesce(n_common, 0)", 6)
                 .alias("jaccard")))


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------

_DUCK_EMB = """
    emb AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    )
"""


@register(
    "embedding_cosine_topk",
    oracle=f"""
    WITH {_DUCK_EMB},
    q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND(list_dot_product(e.v, q.qv)
                   / (sqrt(list_dot_product(e.v, e.v))
                      * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
      FROM emb e CROSS JOIN q
      WHERE e.vec_id <> 0
    )
    SELECT vec_id, label, cosine
    FROM scored ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    tags=("similarity", "O3", "F5"),
)
def embedding_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k against a broadcast query vector — the
    reference's RAG retrieval (`run_8values_survey.py:269-283`). Dot
    products are per-row JVM `zip_with`+`aggregate`; top-k is
    TakeOrderedAndProject (per-partition heads, no global sort)."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = "aggregate(zip_with(v, qv, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    nv = "aggregate(zip_with(v, v, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    nq = "aggregate(zip_with(qv, qv, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label",
                F.round(F.expr(dot) / (F.sqrt(F.expr(nv)) * F.sqrt(F.expr(nq))), 6)
                 .alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("vec_id"))
        .limit(10)
    )


@register(
    "embedding_similar_pairs",
    oracle=f"""
    WITH {_DUCK_EMB},
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND(list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v))
                      * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
      FROM emb a JOIN emb b
        ON a.label = b.label AND b.vec_id > a.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM pairs
    WHERE cosine >= CAST(0.3 AS DOUBLE)
    """,
    tags=("similarity", "dedup"),
)
def embedding_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs, label-bucketed (the IVF
    pattern: compare only within a partition/cluster, never all-pairs).
    One shuffle on the bucket key; per-bucket pair generation."""
    e = fanout(_t(spark, sf_dir, "embeddings")).select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    a = e.select(F.col("vec_id").alias("vec_a"), F.col("label").alias("la"),
                 F.col("v").alias("va"))
    b = e.select(F.col("vec_id").alias("vec_b"), F.col("label").alias("lb"),
                 F.col("v").alias("vb"))
    dot = "aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    na = "aggregate(zip_with(va, va, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    nb = "aggregate(zip_with(vb, vb, (x, y) -> x * y), 0D, (a, x) -> a + x)"
    return (
        a.join(b, (F.col("la") == F.col("lb")) & (F.col("vec_b") > F.col("vec_a")))
        .select("vec_a", "vec_b",
                F.round(F.expr(dot) / (F.sqrt(F.expr(na)) * F.sqrt(F.expr(nb))), 6)
                 .alias("cosine"))
        .filter(F.col("cosine") >= 0.3)
    )


@register(
    "embedding_rp_lsh_buckets",
    oracle=f"""
    WITH {_DUCK_EMB},
    proj AS (
      SELECT vec_id,
             p.j,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, CAST(len(v) AS BIGINT)),
                 d -> v[d] * (CAST(((p.j * 64 + d) * 2654435761) % 1000 AS DOUBLE)
                              / 500.0 - 1.0))),
               (a, b) -> a + b) AS dot
      FROM emb CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) p
    )
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot > 0 THEN CAST(POWER(2, j) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS bucket
    FROM proj GROUP BY vec_id
    """,
    tags=("similarity", "lsh", "X15"),
)
def embedding_rp_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-projection LSH bucketing (sign of dot with 8 fixed
    hyperplanes -> 8-bit bucket): the scale path for ANN (SURVEY §4
    X15) — candidate search touches one bucket instead of the corpus.
    Hyperplanes are deterministic integer-arithmetic pseudo-vectors so
    both engines derive identical buckets."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    planes = spark.range(8).select(F.col("id").cast("int").alias("j"))
    dot = ("aggregate(transform(sequence(1, size(v)),"
           " d -> element_at(v, d)"
           "      * (cast(((j * 64 + d) * 2654435761) % 1000 as double)"
           "         / 500.0 - 1.0)),"
           " 0D, (a, b) -> a + b)")
    proj = (e.crossJoin(F.broadcast(planes))
            .select("vec_id", "j", F.expr(dot).alias("dot")))
    return (proj.groupBy("vec_id")
            .agg(F.sum(F.when(F.col("dot") > 0,
                              F.pow(F.lit(2), F.col("j")).cast("long"))
                       .otherwise(F.lit(0))).cast("long").alias("bucket")))


# The exact similarity self-join: its distance threshold, and the rows
# of each tile its kernel compares at a time. A chunk pair's working set
# is a few PAIR_CHUNK x PAIR_CHUNK double matrices (8 MB each) plus the
# candidates they keep, whatever the tile size.
PAIR_THRESHOLD = 1.2
PAIR_CHUNK = 1024
# The oracle's distance: squared differences summed left to right over
# the dimensions, as the kernel sums them, so both engines keep and
# round the same bits.
_DUCK_PAIR_DIST = """
    sqrt(list_reduce(list_transform(generate_series(1, len(a.v)),
           k -> (a.v[k] - b.v[k]) * (a.v[k] - b.v[k])),
         (x, y) -> x + y))
"""


def tile_pairs(ids_a: np.ndarray, va: np.ndarray, ids_b: np.ndarray,
               vb: np.ndarray, same_tile: bool):
    """Every pair of a row of ``va`` and a row of ``vb`` within
    PAIR_THRESHOLD, yielded per chunk pair as ``(vec_a, vec_b, dist)``
    arrays with ``vec_a < vec_b``. With ``same_tile`` the two sides are
    one tile and each pair ``i < j`` is compared once.

    The Gram form ``|a|^2 + |b|^2 - 2 a.b`` only selects candidates:
    its rounding error is far below the margin of 1e-6 of
    ``|a|^2 + |b|^2``, so no true pair is lost. A kept distance is
    ``sqrt`` of the squared differences summed left to right, the same
    operations as the oracle's fold (``_DUCK_PAIR_DIST``)."""
    t2 = PAIR_THRESHOLD * PAIR_THRESHOLD
    sq_a = np.einsum("ij,ij->i", va, va)
    sq_b = np.einsum("ij,ij->i", vb, vb)
    for i0 in range(0, len(va), PAIR_CHUNK):
        a = va[i0:i0 + PAIR_CHUNK]
        for j0 in range(i0 if same_tile else 0, len(vb), PAIR_CHUNK):
            b = vb[j0:j0 + PAIR_CHUNK]
            s = sq_a[i0:i0 + PAIR_CHUNK, None] + sq_b[None, j0:j0 + PAIR_CHUNK]
            cand = s - 2.0 * (a @ b.T) <= t2 + 1e-6 * s
            if same_tile and i0 == j0:
                cand = np.triu(cand, 1)
            i, j = np.nonzero(cand)
            d2 = np.zeros(len(i))
            for k in range(va.shape[1]):
                x = a[i, k] - b[j, k]
                d2 += x * x
            dist = np.sqrt(d2)
            keep = dist <= PAIR_THRESHOLD
            ia, ib = ids_a[i0 + i[keep]], ids_b[j0 + j[keep]]
            yield np.minimum(ia, ib), np.maximum(ia, ib), dist[keep]


def _tile_arrays(tile) -> tuple[np.ndarray, np.ndarray]:
    """A collected tile (list of (vec_id, embedding) structs) as ids
    and a float64 matrix."""
    rows = tile.values
    flat = rows.field("embedding").flatten().to_numpy(zero_copy_only=False)
    return (rows.field("vec_id").to_numpy(),
            flat.astype(np.float64).reshape(len(rows), -1))


def _tile_pair_batches(batches):
    """mapInArrow body: the pairs of each (ta, va, tb, vb) tile pair."""
    import pyarrow as pa
    for batch in batches:
        ta, va, tb, vb = (batch.column(c) for c in ("ta", "va", "tb", "vb"))
        for r in range(batch.num_rows):
            ids_a, a = _tile_arrays(va[r])
            ids_b, b = _tile_arrays(vb[r])
            for vec_a, vec_b, dist in tile_pairs(
                    ids_a, a, ids_b, b, ta[r].as_py() == tb[r].as_py()):
                if len(dist):
                    yield pa.RecordBatch.from_arrays(
                        [vec_a, vec_b, dist], ["vec_a", "vec_b", "dist"])


@register(
    "mllib_lsh_similar_pairs",
    oracle=f"""
    WITH {_DUCK_EMB},
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_DUCK_PAIR_DIST} AS dist
      FROM emb a JOIN emb b ON a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, ROUND(dist, 6) AS euclidean_dist
    FROM pairs WHERE dist <= CAST({PAIR_THRESHOLD} AS DOUBLE)
    """,
    headline=True,
    tags=("similarity", "lsh", "X15"),
)
def mllib_lsh_similar_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact euclidean similarity self-join (the X15/HNSW substitute):
    every pair ``vec_a < vec_b`` within distance PAIR_THRESHOLD (1.2),
    with the distance rounded to 6 places. Threshold 1.2 sits just
    below this corpus's median pair distance (~1.41), so the join
    returns the near tail (~1% of all pairs at sf0.1). The name is
    kept from the MLlib BucketedRandomProjectionLSH join it replaced,
    so the bench series stays comparable: that join evaluated ≈0.9·n²
    candidates (4 buckets per table on these unit vectors) and missed
    about a quarter of the pairs.

    Partition, then verify: the vectors are grouped into one tile per
    default-parallelism slot by ``vec_id``, each tile is joined to a
    broadcast of all tiles on ``ta <= tb``, and the NumPy kernel
    ``tile_pairs`` compares each tile pair in fixed chunks. Rows come
    in no particular order."""
    n_tiles = spark.sparkContext.defaultParallelism
    tiles = (_t(spark, sf_dir, "embeddings")
             .groupBy(F.pmod("vec_id", F.lit(n_tiles)).alias("tile"))
             .agg(F.collect_list(F.struct("vec_id", "embedding"))
                  .alias("vecs")))
    a = tiles.select(F.col("tile").alias("ta"), F.col("vecs").alias("va"))
    b = tiles.select(F.col("tile").alias("tb"), F.col("vecs").alias("vb"))
    return (a.join(F.broadcast(b), F.col("ta") <= F.col("tb"))
            .mapInArrow(_tile_pair_batches,
                        "vec_a bigint, vec_b bigint, dist double")
            .select("vec_a", "vec_b",
                    F.round("dist", 6).alias("euclidean_dist")))


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "on", "for", "with"]


@register(
    "text_quality_scores",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS words, n_chars FROM documents
    ),
    m AS (
      SELECT doc_id, n_chars,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(len(list_filter(words, w -> list_contains(
               {[*_STOPWORDS]}, w))) AS BIGINT)  AS n_stopwords,
             CAST(len(list_filter(words, w -> length(w) >= 8)) AS BIGINT)
               AS n_long_words
      FROM d
    )
    SELECT doc_id, n_words, n_stopwords, n_long_words,
           (CAST((CASE WHEN (n_chars) < 0 THEN -1 ELSE 1 END) * ((2 * abs(CAST((n_chars) AS BIGINT)) * 10000 + (n_words)) // (2 * (n_words))) AS DOUBLE) / 10000)     AS avg_word_len,
           (CAST((CASE WHEN (n_stopwords) < 0 THEN -1 ELSE 1 END) * ((2 * abs(CAST((n_stopwords) AS BIGINT)) * 1000000 + (n_words)) // (2 * (n_words))) AS DOUBLE) / 1000000) AS stopword_ratio,
           -- 0.4*min(1,nw/100) + 0.3*(1-stop/nw) + 0.3*min(1,chars/(8nw))
           -- = N/D with exact integers; the rational can land EXACTLY
           -- on a 6dp half-boundary where Spark's BigDecimal round and
           -- DuckDB's scaled-multiply round disagree, so the half-up
           -- rounding itself is done in integer arithmetic:
           -- q6 = (2*N*1e6 + D) // (2*D), quality = q6/1e6
           CAST((2 * (32 * n_words * LEAST(CAST(100 AS BIGINT), n_words)
                      + 2400 * (n_words - n_stopwords)
                      + 300 * LEAST(8 * n_words, CAST(n_chars AS BIGINT)))
                   * 1000000 + 8000 * n_words)
                // (2 * 8000 * n_words) AS DOUBLE) / 1000000 AS quality
    FROM m
    """,
    tags=("text", "quality"),
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length / stopword-ratio / word-length
    heuristics combined into one [0,1]-ish score — all per-row JVM
    array math (the training-data quality-filter pattern)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.split("text", " ").alias("words"))
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"
    m = d.select(
        "doc_id", "n_chars",
        F.size("words").cast("long").alias("n_words"),
        F.size(F.expr(f"filter(words, w -> array_contains({stop_arr}, w))"))
         .cast("long").alias("n_stopwords"),
        F.size(F.expr("filter(words, w -> length(w) >= 8)"))
         .cast("long").alias("n_long_words"))
    nw = F.col("n_words").cast("double")
    return m.select(
        "doc_id", "n_words", "n_stopwords", "n_long_words",
        spark_round_ratio("n_chars", "n_words", 4).alias("avg_word_len"),
        spark_round_ratio("n_stopwords", "n_words", 6)
         .alias("stopword_ratio"),
        # integer half-up rounding of the exact rational N/D (see the
        # oracle note: engine round() functions disagree on true
        # decimal half-boundaries)
        (F.expr("(2 * (32 * n_words * least(cast(100 as bigint), n_words)"
                " + 2400 * (n_words - n_stopwords)"
                " + 300 * least(8 * n_words, cast(n_chars as bigint)))"
                " * 1000000 + 8000 * n_words)"
                " div (2 * 8000 * n_words)").cast("double") / 1000000)
         .alias("quality"))


@register(
    "gopher_quality_flags",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars, string_split(text, ' ') AS words
      FROM documents
    ),
    m AS (
      SELECT doc_id,
             CAST(len(words) AS BIGINT) AS n_words,
             -- text is single-space-joined, so total word chars =
             -- n_chars - (n_words - 1); exact in both engines
             CAST(n_chars AS BIGINT) - CAST(len(words) AS BIGINT) + 1
               AS sum_wl,
             CAST(len(list_filter(words,
               w -> regexp_matches(w, '[a-z]'))) AS BIGINT) AS n_alpha,
             CAST(len(list_filter({[*_STOPWORDS]},
               s -> list_contains(words, s))) AS BIGINT) AS n_stop_kinds
      FROM d
    )
    SELECT doc_id, n_words,
           (CAST((CASE WHEN (sum_wl) < 0 THEN -1 ELSE 1 END)
             * ((2 * abs(CAST((sum_wl) AS BIGINT)) * 10000 + (n_words))
                // (2 * (n_words))) AS DOUBLE) / 10000)
             AS mean_word_len,
           n_alpha, n_stop_kinds,
           n_words BETWEEN 50 AND 100000             AS r_word_count,
           3 * n_words <= sum_wl AND sum_wl <= 10 * n_words
             AS r_mean_word_len,
           5 * n_alpha >= 4 * n_words                AS r_alpha_ratio,
           n_stop_kinds >= 2                         AS r_stopwords,
           (n_words BETWEEN 50 AND 100000)
             AND 3 * n_words <= sum_wl AND sum_wl <= 10 * n_words
             AND 5 * n_alpha >= 4 * n_words
             AND n_stop_kinds >= 2                   AS keep
    FROM m
    """,
    headline=True,
    tags=("text", "quality", "curation"),
)
def gopher_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Gopher repetition-free quality rules (Rae et al. 2021,
    Table A1) as a per-document gate: word count in [50, 100k], mean
    word length in [3, 10], >= 80% of words containing an alphabetic
    character, and >= 2 distinct stopwords present (the 'real
    language' check). The symbol-ratio and ellipsis-line rules have no
    signal in this corpus (no punctuation) and are omitted.

    Every rule is an EXACT integer comparison (cross-multiplied
    rationals — 3*n <= sum_len, 5*alpha >= 4*n), so the gate is
    engine-deterministic with no rounding contract needed; the one
    reported float (mean word length) goes through the usual half-up
    ratio. Map-only over the corpus — at 100 TB this is a single scan
    with zero shuffle, the cheapest filter a pipeline runs and the
    first one Gopher-style curation applies."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.split("text", " ").alias("words"))
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"
    m = d.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        (F.col("n_chars").cast("long") - F.size("words").cast("long")
         + 1).alias("sum_wl"),
        F.size(F.expr("filter(words, w -> w rlike '[a-z]')"))
         .cast("long").alias("n_alpha"),
        F.size(F.expr(f"filter({stop_arr}, "
                      f"s -> array_contains(words, s))"))
         .cast("long").alias("n_stop_kinds"))
    r_wc = F.col("n_words").between(50, 100000)
    r_mwl = ((3 * F.col("n_words") <= F.col("sum_wl"))
             & (F.col("sum_wl") <= 10 * F.col("n_words")))
    r_alpha = 5 * F.col("n_alpha") >= 4 * F.col("n_words")
    r_stop = F.col("n_stop_kinds") >= 2
    return m.select(
        "doc_id", "n_words",
        spark_round_ratio("sum_wl", "n_words", 4).alias("mean_word_len"),
        "n_alpha", "n_stop_kinds",
        r_wc.alias("r_word_count"),
        r_mwl.alias("r_mean_word_len"),
        r_alpha.alias("r_alpha_ratio"),
        r_stop.alias("r_stopwords"),
        (r_wc & r_mwl & r_alpha & r_stop).alias("keep"))


@register(
    "language_id_heuristic",
    oracle="""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS words FROM documents
    ),
    votes AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(words, w -> list_contains(
               ['the','and','of','is','with'], w))) AS BIGINT) AS en_hits,
             CAST(len(list_filter(words, w -> list_contains(
               ['le','la','et','les','des'], w))) AS BIGINT)   AS fr_hits,
             CAST(len(list_filter(words, w -> list_contains(
               ['der','und','die','das','mit'], w))) AS BIGINT) AS de_hits
      FROM d
    )
    SELECT doc_id, lang AS labeled_lang, en_hits, fr_hits, de_hits,
           CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits AND en_hits > 0 THEN 'en'
                WHEN fr_hits >= de_hits AND fr_hits > 0 THEN 'fr'
                WHEN de_hits > 0 THEN 'de'
                ELSE 'und' END AS pred_lang
    FROM votes
    """,
    tags=("text", "langid"),
)
def language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID via stopword-profile voting (the n-gram-heuristic
    family; swap profiles for real corpora). Pure per-row array ops."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("lang").alias("labeled_lang"),
        F.split("text", " ").alias("words"))
    def hits(words_list: list[str]) -> Column:
        arr = "array(" + ", ".join(f"'{w}'" for w in words_list) + ")"
        return F.size(F.expr(f"filter(words, w -> array_contains({arr}, w))")).cast("long")
    v = d.select(
        "doc_id", "labeled_lang",
        hits(["the", "and", "of", "is", "with"]).alias("en_hits"),
        hits(["le", "la", "et", "les", "des"]).alias("fr_hits"),
        hits(["der", "und", "die", "das", "mit"]).alias("de_hits"))
    return v.select(
        "doc_id", "labeled_lang", "en_hits", "fr_hits", "de_hits",
        F.when((F.col("en_hits") >= F.col("fr_hits"))
               & (F.col("en_hits") >= F.col("de_hits"))
               & (F.col("en_hits") > 0), "en")
         .when((F.col("fr_hits") >= F.col("de_hits"))
               & (F.col("fr_hits") > 0), "fr")
         .when(F.col("de_hits") > 0, "de")
         .otherwise("und").alias("pred_lang"))


@register(
    "token_counts",
    oracle="""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS words FROM documents
    )
    SELECT doc_id,
           CAST(len(words) AS BIGINT) AS n_words,
           CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
             list_transform(words, w -> CAST(CEIL(length(w) / 4.0) AS BIGINT))),
             (a, b) -> a + b) AS BIGINT) AS n_tokens_est
    FROM d
    """,
    tags=("text", "F10"),
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + a BPE-ish estimate
    (ceil(len/4) subword pieces per word — the tiktoken-proxy pattern,
    reference `embed_transcripts_to_vector_db.py:53-74`)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("words"))
    return d.select(
        "doc_id",
        F.size("words").cast("long").alias("n_words"),
        F.expr("aggregate(transform(words, w -> cast(ceil(length(w) / 4.0) as bigint)),"
               " cast(0 as bigint), (a, b) -> a + b)").alias("n_tokens_est"))


@register(
    "word_length_profile",
    oracle="""
    WITH w AS (
      SELECT doc_id, lang,
             list_filter(string_split(text, ' '), w -> w <> '') AS words
      FROM documents
    ),
    l AS (
      SELECT doc_id, lang, words,
             list_transform(words, w -> CAST(length(w) AS BIGINT)) AS lens
      FROM w WHERE len(words) > 0
    )
    SELECT doc_id, lang,
           CAST(len(words) AS BIGINT)                AS n_words,
           CAST(len(list_distinct(words)) AS BIGINT) AS n_distinct_words,
           CAST(CAST(list_sum(lens) AS BIGINT) * 1000000 // len(lens)
                AS BIGINT)                           AS mean_len_e6,
           CAST((list_sort(lens))[(len(lens) + 1) // 2]
                AS BIGINT)                           AS median_len,
           CAST(COALESCE(CAST(list_sum(list_transform(
                  range(1, len(lens)),
                  i -> lens[i] * lens[i + 1])) AS BIGINT), 0)
                AS BIGINT)                           AS bigram_len_dot,
           len(list_filter(words, w -> length(w) >= 10)) > 0
                                                     AS has_long_word,
           len(list_filter(lens, x -> NOT (x <= 12))) = 0
                                                     AS all_short
    FROM l
    """,
    tags=("text", "array", "hof"),
)
def word_length_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-length profile computed ENTIRELY with
    higher-order array functions — the registered oracle twin of the
    r13 generative hof fuzz mode (`tools/diff_fuzz.py --mode hof`),
    exercising in one hand-written shape what the grammar covers
    generatively: filter (empty-token drop), transform (word ->
    length), 4-arg aggregate with a finish lambda that references an
    outer column (exact e6-quantized mean), sort_array +
    try_element_at (median), slice + zip_with + fold (adjacent-length
    dot product; the n=1 edge degrades to slice(_, 1, 0) = [] ->
    fold = 0 on both engines, no guard needed), exists / forall, and
    array_distinct. All JVM codegen, no UDF. Reference analog: the
    word-level statistics of the token-counting path
    (`embed_transcripts_to_vector_db.py:53-74`) and the text-quality
    word filters (`score_transcripts.py` length heuristics).

    Oracle notes (adapters pinned in tests/test_diff_fuzz.py):
    DuckDB's zip_with gap is bridged with range(1, n) + bracket
    indexing inside the lambda; list_sum's HUGEINT is cast back to
    BIGINT; mean uses integer `DIV`/`//` (identical floor on the
    non-negative domain) at e6 quantization so equality is exact,
    never float-rounded.

    Scale shape: map-only (one scan, zero shuffles) — embarrassingly
    parallel at any corpus size; the arrays live only inside a row's
    evaluation, never materialized to state."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang",
        F.expr("filter(split(text, ' '), w -> w <> '')").alias("words"))
    d = (d.filter(F.size("words") > 0)
          .withColumn("lens",
                      F.expr("transform(words, "
                             "w -> CAST(length(w) AS BIGINT))")))
    return d.select(
        "doc_id", "lang",
        F.size("words").cast("long").alias("n_words"),
        F.size(F.array_distinct("words")).cast("long")
         .alias("n_distinct_words"),
        F.expr("aggregate(lens, CAST(0 AS BIGINT), "
               "(acc, x) -> acc + x, "
               "acc -> acc * CAST(1000000 AS BIGINT) DIV size(lens))")
         .alias("mean_len_e6"),
        F.expr("try_element_at(sort_array(lens), "
               "CAST((size(lens) + 1) DIV 2 AS INT))")
         .cast("long").alias("median_len"),
        F.expr("aggregate(zip_with(slice(lens, 1, size(lens) - 1), "
               "slice(lens, 2, size(lens) - 1), (a, b) -> a * b), "
               "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
         .alias("bigram_len_dot"),
        F.expr("exists(words, w -> length(w) >= 10)")
         .alias("has_long_word"),
        F.expr("forall(lens, x -> x <= 12)").alias("all_short"),
    )


@register(
    "document_fingerprints",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    wh AS (
      SELECT doc_id, {duck_char_hash('word')} AS h FROM tok
    )
    SELECT f.doc_id, f.fingerprint, m.min_word_hash, m.n_words
    FROM (
      SELECT doc_id, {duck_char_hash('text')} AS fingerprint FROM documents
    ) f
    JOIN (
      SELECT doc_id, MIN(h) AS min_word_hash, COUNT(*) AS n_words
      FROM wh GROUP BY doc_id
    ) m ON m.doc_id = f.doc_id
    """,
    tags=("text", "fingerprint"),
)
def document_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-text rolling hash + winnowing-
    style min word hash, with the portable polynomial hash."""
    d = fanout(_t(spark, sf_dir, "documents"))
    fp = d.select("doc_id",
                  F.expr(spark_char_hash("text")).alias("fingerprint"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    mwh = (tok.select("doc_id", F.expr(spark_char_hash("word")).alias("h"))
           .groupBy("doc_id")
           .agg(F.min("h").alias("min_word_hash"),
                F.count(F.lit(1)).alias("n_words")))
    return fp.join(mwh, "doc_id").select(
        "doc_id", "fingerprint", "min_word_hash", "n_words")


# ---------------------------------------------------------------------------
# Multimodal plumbing (binary columns; decode stubbed — see
# operators/multimodal.py for the mapInPandas pipeline)
# ---------------------------------------------------------------------------

@register(
    "multimodal_blob_stats",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS blob_bytes,
           CAST(length(text) AS BIGINT)               AS n_chars_utf,
           (CAST(octet_length(encode(text)) AS BIGINT)
            = CAST(length(text) AS BIGINT))           AS is_ascii
    FROM documents
    """,
    tags=("multimodal",),
)
def multimodal_blob_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary column plumbing: text encoded to a binary column
    (standing in for image/audio payloads) with typed byte-level
    metadata — the schema pattern for multimodal tables."""
    d = _t(spark, sf_dir, "documents")
    blob = F.encode(F.col("text"), "UTF-8")
    return d.select(
        "doc_id",
        F.octet_length(blob).cast("long").alias("blob_bytes"),
        F.length("text").cast("long").alias("n_chars_utf"),
        (F.octet_length(blob).cast("long") == F.length("text").cast("long"))
         .alias("is_ascii"))


# ---------------------------------------------------------------------------
# 8values survey math + LLM answer parsing (SURVEY §2.10 F7, §2.4 A11)
# ---------------------------------------------------------------------------

@register(
    "eightvalues_axis_scores",
    oracle="""
    WITH resp AS (
      SELECT o_custkey AS run_id,
             o_orderkey % 10                         AS qid,
             CAST(o_orderkey % 5 + 1 AS BIGINT)      AS answer,
             CASE WHEN o_orderstatus = 'P' THEN CAST(0.0 AS DOUBLE)
                  ELSE (3 - (o_orderkey % 5 + 1)) / CAST(2.0 AS DOUBLE)
             END AS mult
      FROM orders
    ),
    eff AS (
      SELECT run_id, mult,
             ((qid * 7 + 0) % 9) - 4 AS e_econ,
             ((qid * 7 + 3) % 9) - 4 AS e_dipl,
             ((qid * 7 + 6) % 9) - 4 AS e_govt,
             ((qid * 7 + 9) % 9) - 4 AS e_scty
      FROM resp
    ),
    agg AS (
      SELECT run_id,
             SUM(e_econ * mult) AS r_econ, SUM(ABS(e_econ)) AS m_econ,
             SUM(e_dipl * mult) AS r_dipl, SUM(ABS(e_dipl)) AS m_dipl,
             SUM(e_govt * mult) AS r_govt, SUM(ABS(e_govt)) AS m_govt,
             SUM(e_scty * mult) AS r_scty, SUM(ABS(e_scty)) AS m_scty
      FROM eff GROUP BY run_id
    )
    SELECT run_id,
      CASE WHEN m_econ = 0 THEN CAST(50.0 AS DOUBLE)
           ELSE (CAST((CASE WHEN (CAST(ROUND(200 * (m_econ + r_econ), 0) AS BIGINT)) < 0 THEN -1 ELSE 1 END) * ((2 * abs(CAST((CAST(ROUND(200 * (m_econ + r_econ), 0) AS BIGINT)) AS BIGINT)) * 1000 + (CAST(ROUND(4 * m_econ, 0) AS BIGINT))) // (2 * (CAST(ROUND(4 * m_econ, 0) AS BIGINT)))) AS DOUBLE) / 1000) END AS econ,
      CASE WHEN m_dipl = 0 THEN CAST(50.0 AS DOUBLE)
           ELSE (CAST((CASE WHEN (CAST(ROUND(200 * (m_dipl + r_dipl), 0) AS BIGINT)) < 0 THEN -1 ELSE 1 END) * ((2 * abs(CAST((CAST(ROUND(200 * (m_dipl + r_dipl), 0) AS BIGINT)) AS BIGINT)) * 1000 + (CAST(ROUND(4 * m_dipl, 0) AS BIGINT))) // (2 * (CAST(ROUND(4 * m_dipl, 0) AS BIGINT)))) AS DOUBLE) / 1000) END AS dipl,
      CASE WHEN m_govt = 0 THEN CAST(50.0 AS DOUBLE)
           ELSE (CAST((CASE WHEN (CAST(ROUND(200 * (m_govt + r_govt), 0) AS BIGINT)) < 0 THEN -1 ELSE 1 END) * ((2 * abs(CAST((CAST(ROUND(200 * (m_govt + r_govt), 0) AS BIGINT)) AS BIGINT)) * 1000 + (CAST(ROUND(4 * m_govt, 0) AS BIGINT))) // (2 * (CAST(ROUND(4 * m_govt, 0) AS BIGINT)))) AS DOUBLE) / 1000) END AS govt,
      CASE WHEN m_scty = 0 THEN CAST(50.0 AS DOUBLE)
           ELSE (CAST((CASE WHEN (CAST(ROUND(200 * (m_scty + r_scty), 0) AS BIGINT)) < 0 THEN -1 ELSE 1 END) * ((2 * abs(CAST((CAST(ROUND(200 * (m_scty + r_scty), 0) AS BIGINT)) AS BIGINT)) * 1000 + (CAST(ROUND(4 * m_scty, 0) AS BIGINT))) // (2 * (CAST(ROUND(4 * m_scty, 0) AS BIGINT)))) AS DOUBLE) / 1000) END AS scty
    FROM agg
    """,
    tags=("A11", "F8"),
)
def eightvalues_axis_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full 8values axis reduction (reference
    `run_8values_survey.py:306-324`): per run, per axis, raw +=
    effect*multiplier and max += abs(effect); pct =
    100*(max+raw)/(2*max) with the max=0 -> 50 branch and failed
    responses treated as Neutral (multiplier 0, reference :316-319).
    Responses are derived deterministically from `orders` (order =
    answered question, status P = failed)."""
    o = _t(spark, sf_dir, "orders")
    answer = (F.col("o_orderkey") % 5 + 1).cast("long")
    mult = (F.when(F.col("o_orderstatus") == "P", F.lit(0.0))
            .otherwise((3 - answer) / F.lit(2.0)))
    qid = F.col("o_orderkey") % 10
    resp = o.select(F.col("o_custkey").alias("run_id"),
                    qid.alias("qid"), mult.alias("mult"))
    effs = {ax: ((F.col("qid") * 7 + off) % 9) - 4
            for ax, off in [("econ", 0), ("dipl", 3), ("govt", 6), ("scty", 9)]}
    eff = resp.select("run_id", "mult",
                      *[e.alias(f"e_{ax}") for ax, e in effs.items()])
    agg = eff.groupBy("run_id").agg(
        *[F.sum(F.col(f"e_{ax}") * F.col("mult")).alias(f"r_{ax}")
          for ax in effs],
        *[F.sum(F.abs(F.col(f"e_{ax}"))).alias(f"m_{ax}") for ax in effs])
    def pct(ax: str) -> Column:
        # effects are ints, multipliers exact halves -> 2*(m+r) and 4m
        # are exact integers; integer half-up rounding (see
        # functions/rounding.py)
        m = F.col(f"m_{ax}")
        return (F.when(m == 0, F.lit(50.0))
                .otherwise(spark_round_ratio(
                    f"cast(round(200 * (m_{ax} + r_{ax}), 0) as bigint)",
                    f"cast(round(4 * m_{ax}, 0) as bigint)", 3))
                .alias(ax))
    return agg.select("run_id", pct("econ"), pct("dipl"),
                      pct("govt"), pct("scty"))


@register(
    "llm_answer_parse",
    oracle=r"""
    WITH raw AS (
      SELECT event_id,
             'Model says: ' ||
             CASE WHEN event_id % 7 = 0 THEN 'rating 3 of 5' ELSE props END
               AS llm_out
      FROM events
    ),
    ext AS (
      SELECT event_id, llm_out,
             regexp_extract(llm_out, '\{[^}]*\}', 0) AS json_str,
             regexp_extract(llm_out, '([1-5])', 1)   AS digit_str
      FROM raw
    ),
    parsed AS (
      SELECT event_id,
             CASE WHEN json_str <> '' THEN
               CAST(json_extract_string(json_str, '$.k') AS BIGINT) % 5 + 1
             END AS json_answer,
             CASE WHEN digit_str <> '' THEN CAST(digit_str AS BIGINT) END
               AS digit_answer
      FROM ext
    )
    SELECT event_id,
           COALESCE(json_answer, digit_answer, 3) AS answer,
           CASE WHEN json_answer IS NOT NULL THEN 'json'
                WHEN digit_answer IS NOT NULL THEN 'digit'
                ELSE 'default' END AS parse_mode
    FROM parsed
    """,
    tags=("F7",),
)
def llm_answer_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LLM answer parsing (reference `parse_answer`,
    `run_8values_survey.py:222-262`): extract the first {...} JSON
    object from free text, fall back to a bare 1-5 digit, default
    Neutral(3) — as a regexp_extract + from_json + coalesce chain, no
    UDF."""
    e = _t(spark, sf_dir, "events")
    llm_out = F.concat(
        F.lit("Model says: "),
        F.when(F.col("event_id") % 7 == 0, F.lit("rating 3 of 5"))
         .otherwise(F.col("props")))
    ext = e.select(
        "event_id",
        F.regexp_extract(llm_out, r"\{[^}]*\}", 0).alias("json_str"),
        F.regexp_extract(llm_out, r"([1-5])", 1).alias("digit_str"))
    parsed = ext.select(
        "event_id",
        F.when(F.col("json_str") != "",
               F.get_json_object("json_str", "$.k").cast("long") % 5 + 1)
         .alias("json_answer"),
        F.when(F.col("digit_str") != "",
               F.col("digit_str").cast("long")).alias("digit_answer"))
    return parsed.select(
        "event_id",
        F.coalesce("json_answer", "digit_answer", F.lit(3)).alias("answer"),
        F.when(F.col("json_answer").isNotNull(), "json")
         .when(F.col("digit_answer").isNotNull(), "digit")
         .otherwise("default").alias("parse_mode"))


# ---------------------------------------------------------------------------
# Pandas-operator surface (rows-only checks: mapInPandas/applyInPandas
# are not SQL-expressible; semantics are pytest-verified instead)
# ---------------------------------------------------------------------------

@register(
    "token_bounded_chunks",
    oracle="""
    WITH RECURSIVE tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' '))                 AS word,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    toks AS (
      SELECT doc_id, pos,
             GREATEST(1, CAST(CEIL(length(word) / 4.0) AS BIGINT)) AS t
      FROM tok
    ),
    cums AS (
      SELECT doc_id, pos, t,
             SUM(t) OVER (PARTITION BY doc_id ORDER BY pos) AS cum
      FROM toks
    ),
    wc AS (SELECT doc_id, MAX(pos) AS nw, MAX(cum) AS total_toks
           FROM cums GROUP BY doc_id),
    -- greedy reach: from start s, the furthest e with sum(s..e) <= 60;
    -- an oversized single word falls back to e = s
    ends AS (
      SELECT s.doc_id, s.pos AS start_pos,
             GREATEST(s.pos, COALESCE(MAX(e.pos), s.pos)) AS end_pos
      FROM cums s
      LEFT JOIN cums e
        ON e.doc_id = s.doc_id AND e.pos >= s.pos
       AND e.cum - (s.cum - s.t) <= 60
      GROUP BY s.doc_id, s.pos
    ),
    rec AS (
      SELECT w.doc_id, 0 AS chunk_index, 1 AS start_pos,
             (SELECT end_pos FROM ends x
              WHERE x.doc_id = w.doc_id AND x.start_pos = 1) AS end_pos
      FROM wc w WHERE w.nw >= 1
      UNION ALL
      SELECT r.doc_id, r.chunk_index + 1, r.end_pos + 1, x.end_pos
      FROM rec r
      JOIN wc w  ON w.doc_id = r.doc_id AND r.end_pos < w.nw
      JOIN ends x ON x.doc_id = r.doc_id AND x.start_pos = r.end_pos + 1
    ),
    sized AS (
      SELECT r.doc_id, r.chunk_index, r.start_pos, r.end_pos,
             ce.cum - COALESCE(cs.cum - cs.t, 0) AS n_toks,
             MAX(r.chunk_index) OVER (PARTITION BY r.doc_id) AS last_ci
      FROM rec r
      JOIN cums cs ON cs.doc_id = r.doc_id AND cs.pos = r.start_pos
      JOIN cums ce ON ce.doc_id = r.doc_id AND ce.pos = r.end_pos
    ),
    -- tail merge: a final chunk under 15 tokens joins the previous one
    merged AS (
      SELECT doc_id, chunk_index, start_pos,
             CASE WHEN chunk_index = last_ci - 1
                   AND LEAD(n_toks) OVER (PARTITION BY doc_id
                                          ORDER BY chunk_index) < 15
                  THEN LEAD(end_pos) OVER (PARTITION BY doc_id
                                           ORDER BY chunk_index)
                  ELSE end_pos END AS end_pos,
             CASE WHEN chunk_index = last_ci - 1
                   AND LEAD(n_toks) OVER (PARTITION BY doc_id
                                          ORDER BY chunk_index) < 15
                  THEN n_toks + LEAD(n_toks) OVER (PARTITION BY doc_id
                                                   ORDER BY chunk_index)
                  ELSE n_toks END AS n_toks,
             CASE WHEN chunk_index = last_ci AND chunk_index > 0
                   AND n_toks < 15 THEN TRUE ELSE FALSE END AS dropped
      FROM sized
    ),
    words AS (
      SELECT doc_id, list(word ORDER BY pos) AS wl FROM tok GROUP BY doc_id
    )
    SELECT m.doc_id,
           CAST(m.chunk_index AS INTEGER) AS chunk_index,
           CAST(m.start_pos AS INTEGER)   AS start_word,
           CAST(m.end_pos AS INTEGER)     AS end_word,
           CAST(m.n_toks AS INTEGER)      AS n_tokens,
           array_to_string(w.wl[m.start_pos:m.end_pos], ' ') AS text
    FROM merged m JOIN words w ON w.doc_id = m.doc_id
    WHERE NOT m.dropped
    """,
    tags=("W7", "F9"),
)
def token_bounded_chunks_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-bounded chunker (reference
    `embed_transcripts_to_vector_db.py:265-360`) via applyInPandas —
    see operators/chunking.py; invariants tested in tests/test_chunking.py."""
    from transcript_analysis_spark.operators.chunking import token_bounded_chunks
    docs = _t(spark, sf_dir, "documents")
    return token_bounded_chunks(docs)


@register(
    "multimodal_features",
    oracle="""
    WITH ch AS (
      SELECT doc_id,
             generate_subscripts(string_split(text, ''), 1) - 1 AS bi,
             ascii(unnest(string_split(text, '')))              AS bv,
             length(text)                                       AS n
      FROM documents
    ),
    dims AS (
      SELECT doc_id, bi % 8 AS d, n,
             CAST(SUM(bv) AS BIGINT) AS s
      FROM ch GROUP BY doc_id, bi % 8, n
    ),
    feats AS (
      SELECT doc_id,
             string_agg(CAST((2 * s * 1000000 + n) // (2 * n) AS VARCHAR),
                        ',' ORDER BY d) AS features
      FROM dims GROUP BY doc_id
    )
    SELECT d.doc_id AS media_id,
           CASE WHEN d.doc_id % 3 = 0 THEN 'image'
                WHEN d.doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END          AS kind,
           CAST(length(d.text) AS BIGINT) AS n_bytes,
           f.features                     AS features
    FROM documents d JOIN feats f ON f.doc_id = d.doc_id
    """,
    tags=("multimodal", "F6"),
)
def multimodal_features_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload -> feature vectors via mapInPandas (deterministic
    fake decode; real codecs stubbed) — see operators/multimodal.py.
    The array<double> feature vector is serialized to a comma-joined
    string of ×1e6 scaled integers for the harness (pandas cannot hash
    array cells; scaled integers stringify identically everywhere).
    `extract_features` itself keeps the array API."""
    from transcript_analysis_spark.operators import multimodal as mm
    feats = mm.extract_features(mm.synthetic_media(spark, sf_dir))
    return feats.select(
        "media_id", "kind", "n_bytes",
        F.concat_ws(",", F.expr(
            "transform(features,"
            " x -> cast(cast(round(x * 1000000) as bigint) as string))"))
         .alias("features"))


@register(
    "multimodal_frame_samples",
    oracle="""
    WITH vid AS (
      SELECT doc_id                                   AS media_id,
             CAST(length(text) AS BIGINT)             AS total,
             CAST(n_chars % 30 + 1 AS BIGINT)         AS n_frames
      FROM documents WHERE doc_id % 3 = 2
    ),
    v2 AS (
      SELECT media_id, total, n_frames,
             GREATEST(1, total // GREATEST(1, n_frames)) AS per
      FROM vid
    )
    SELECT media_id,
           CAST(unnest(generate_series(0, n_frames - 1, 7)) AS INTEGER)
             AS frame_index,
           LEAST(per, total - CAST(unnest(generate_series(0, n_frames - 1, 7))
                                   AS BIGINT) * per) AS frame_bytes
    FROM v2
    """,
    tags=("multimodal",),
)
def multimodal_frame_samples_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (1 row -> N frames UDTF shape) via
    mapInPandas — see operators/multimodal.py."""
    from transcript_analysis_spark.operators import multimodal as mm
    return mm.sample_frames(mm.synthetic_media(spark, sf_dir))


@register(
    "neardup_components",
    oracle=f"""
    WITH RECURSIVE {_DUCK_SHINGLES},
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
    )
    SELECT component_id, COUNT(*) AS n_members,
           CAST(MIN(n) AS BIGINT) AS canonical_doc_id
    FROM (SELECT n, MIN(label) AS component_id FROM walk GROUP BY n)
    GROUP BY component_id
    """,
    tags=("dedup", "iterative"),
)
def neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components over the MinHash
    LSH candidate graph (large-scale dedup keeps one doc per
    component, not per pair). Uses alternating large-star/small-star
    contraction (`operators/components.py`) — O(log n) rounds
    INDEPENDENT of graph diameter, so a chain-shaped duplicate
    cluster (incremental edits: A~B~C~...) cannot blow the round
    budget the way min-label propagation's O(diameter) loop could."""
    pairs = minhash_lsh_candidate_pairs(spark, sf_dir)
    edges = pairs.selectExpr("doc_a as u", "doc_b as v")
    labels = connected_components(edges)
    return (labels.groupBy(F.col("label").alias("component_id"))
            .agg(F.count(F.lit(1)).alias("n_members"),
                 F.min("n").cast("long").alias("canonical_doc_id")))


@register(
    "minhash_verified_pairs",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
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
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN shingles sa ON sa.doc_id = c.doc_a
      JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT c.doc_a, c.doc_b,
           (CAST((CASE WHEN (COALESCE(i.n_common, 0)) < 0 THEN -1 ELSE 1 END) * ((2 * abs(CAST((COALESCE(i.n_common, 0)) AS BIGINT)) * 1000000 + (za.n + zb.n - COALESCE(i.n_common, 0))) // (2 * (za.n + zb.n - COALESCE(i.n_common, 0)))) AS DOUBLE) / 1000000) AS jaccard
    FROM cand c
    JOIN sizes za ON za.doc_id = c.doc_a
    JOIN sizes zb ON zb.doc_id = c.doc_b
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    WHERE CAST(COALESCE(i.n_common, 0) AS DOUBLE)
          / (za.n + zb.n - COALESCE(i.n_common, 0)) >= CAST(0.2 AS DOUBLE)
    """,
    tags=("dedup", "minhash", "lsh"),
)
def minhash_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete LSH dedup pipeline: MinHash banding proposes
    candidates, exact shingle Jaccard VERIFIES them (>= 0.2) — the
    standard two-phase near-dup flow, where verification cost is
    bounded by candidate count, not corpus size."""
    cand = minhash_lsh_candidate_pairs(spark, sf_dir)
    sh = _spark_shingles(spark, sf_dir)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    sa = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (cand.join(sa, "doc_a").join(sb, ["doc_b", "shingle"])
             .groupBy("doc_a", "doc_b").agg(F.count(F.lit(1)).alias("n_common")))
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = (F.coalesce(F.col("n_common"), F.lit(0)).cast("double")
           / (F.col("na") + F.col("nb")
              - F.coalesce(F.col("n_common"), F.lit(0))))
    return (cand.join(za, "doc_a").join(zb, "doc_b")
            .join(inter, ["doc_a", "doc_b"], "left")
            .filter(jac >= 0.2)
            .select("doc_a", "doc_b",
                    spark_round_ratio("coalesce(n_common, 0)",
                                      "na + nb - coalesce(n_common, 0)", 6)
                     .alias("jaccard")))


# ---------------------------------------------------------------------------
# Corpus analytics: relevance, decontamination, stratified sampling
# ---------------------------------------------------------------------------



@register(
    "tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
    ),
    tf AS (
      SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY doc_id, word
    ),
    dfreq AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    n AS (SELECT COUNT(*) AS n FROM documents),
    scored AS (
      SELECT t.doc_id, t.word, t.tf,
             t.tf * ROUND(LOG10(CAST(n.n AS DOUBLE) / d.df), 9) AS s
      FROM tf t JOIN dfreq d USING (word) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, word, tf, s,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY s DESC, word) AS rk
      FROM scored
    )
    SELECT doc_id, word, CAST(tf AS BIGINT) AS tf,
           ROUND(s, 6) AS tfidf, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
    tags=("text", "tfidf", "O3"),
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF — the relevance/keyword
    primitive of a corpus search layer. Term and document frequencies
    are two hash-aggregates; idf is computed once per word (9dp-rounded
    so both engines rank identical doubles) and ranking is a per-doc
    window with a deterministic word tie-break. At scale: tf shuffles
    on (doc, word), df on word — both map-side combined."""
    from pyspark.sql import Window
    d = fanout(_t(spark, sf_dir, "documents"))
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
    tf = tok.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    scored = (tf.join(dfreq, "word")
              .crossJoin(F.broadcast(n))
              .withColumn(
                  "s",
                  F.col("tf") * F.round(
                      F.log10(F.col("n").cast("double") / F.col("df")), 9)))
    w = Window.partitionBy("doc_id").orderBy(F.desc("s"), F.asc("word"))
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select("doc_id", "word", F.col("tf").cast("long").alias("tf"),
                    F.round("s", 6).alias("tfidf"),
                    F.col("rk").cast("long").alias("rk")))


EVAL_SOURCES = ("src0", "src1")


@register(
    "contamination_overlap",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    split AS (SELECT doc_id, source FROM documents),
    train_set AS (
      SELECT DISTINCT s.shingle
      FROM shingles s JOIN split d ON d.doc_id = s.doc_id
      WHERE d.source NOT IN {EVAL_SOURCES!r}
    ),
    ev AS (
      SELECT s.doc_id, s.shingle
      FROM shingles s JOIN split d ON d.doc_id = s.doc_id
      WHERE d.source IN {EVAL_SOURCES!r}
    )
    SELECT ev.doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_overlap,
           {duck_round_ratio(
               "SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)",
               "COUNT(*)", 6)} AS contamination
    FROM ev LEFT JOIN train_set t ON t.shingle = ev.shingle
    GROUP BY ev.doc_id
    """,
    tags=("decontamination", "dedup"),
)
def contamination_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination: for every eval-split document, the
    fraction of its shingles that also appear anywhere in the train
    split — the benchmark-leakage check every LLM training pipeline
    runs. One distinct-shingle build on the train side, one
    shingle-key left join on the eval side (shuffles on the shingle,
    O(eval shingles), never doc x doc)."""
    sh = _spark_shingles(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    is_eval = F.col("source").isin(*EVAL_SOURCES)
    ev = sh.join(src.filter(is_eval), "doc_id")
    train = (sh.join(src.filter(~is_eval), "doc_id")
             .select("shingle").distinct())
    joined = ev.join(train.withColumn("hit", F.lit(1)), "shingle", "left")
    return (joined.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shingles"),
                 F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long")
                  .alias("n_overlap"),
                 spark_round_ratio("sum(coalesce(hit, 0))", "count(1)", 6)
                  .alias("contamination")))


@register(
    "stratified_sample_by_lang",
    oracle="""
    WITH s AS (
      SELECT lang, doc_id, n_chars,
             CASE WHEN lang = 'en' THEN 10 ELSE 5 END AS rate
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN doc_id % rate = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_sampled,
           CAST(SUM(CASE WHEN doc_id % rate = 0 THEN n_chars * rate
                         ELSE 0 END) AS BIGINT) AS est_total_chars
    FROM s GROUP BY lang
    """,
    tags=("sampling", "A4"),
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling with inverse-probability
    (Horvitz-Thompson) extrapolation: different sampling rates per
    language stratum (1-in-10 for the majority class, 1-in-5 for the
    tails), estimates re-weighted by each stratum's rate. The
    deterministic id-modulus filter is the oracle-checkable stand-in
    for `sampleBy` — the plan shape (scan-side filter, one aggregate)
    is identical."""
    d = _t(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 10).otherwise(5)
    s = d.select("lang", "doc_id", "n_chars", rate.alias("rate"))
    in_sample = F.col("doc_id") % F.col("rate") == 0
    return (s.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum(F.when(in_sample, 1).otherwise(0)).cast("long")
                  .alias("n_sampled"),
                 F.sum(F.when(in_sample,
                              F.col("n_chars") * F.col("rate"))
                       .otherwise(0)).cast("long")
                  .alias("est_total_chars")))


_DUCK_COS = ("ROUND(list_dot_product({a}, {b}) / "
             "(sqrt(list_dot_product({a}, {a})) * "
             "sqrt(list_dot_product({b}, {b}))), {d})")


def _spark_cos(a: str, b: str, digits: int) -> str:
    dot = (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0D,"
           f" (acc, x) -> acc + x)")
    na = (f"sqrt(aggregate(zip_with({a}, {a}, (x, y) -> x * y), 0D,"
          f" (acc, x) -> acc + x))")
    nb = (f"sqrt(aggregate(zip_with({b}, {b}, (x, y) -> x * y), 0D,"
          f" (acc, x) -> acc + x))")
    return f"round({dot} / ({na} * {nb}), {digits})"


# Tuned ANN production defaults, promoted from the oracle-checked
# `ann_param_sweep` evidence at sf0.1 (r6 verdict item 2; see
# plans/ann_sweep.py for the full recall/cost frontier). On this
# corpus's near-uniform synthetic embeddings the bucket families
# plateau (IVF nprobe=16 -> 0.74, RP multiprobe ham<=2 -> 0.39 —
# random vectors have no cluster structure to exploit), so the >=0.9
# engine default is the PQ64 + rerank-500 pipeline (measured
# recall@10 = 0.929 over 21 queries); IVF's default sits at its
# cost/recall knee. On clustered real-world embeddings the same
# sweep re-picks cheaper configs — the constants are per-deployment,
# the instrument is the contract.
IVF_NPROBE = 8     # 0.55 recall @ ~21% of corpus probed (knee of curve)
PQ_NCODE = 64      # codewords per subspace (sweep: 4 -> 0.25, 64 -> 0.93)
PQ_RERANK = 500    # exact-rerank shortlist depth (>=0.9 with margin)


def ivf_vectors(df: DataFrame) -> DataFrame:
    """(vec_id, label, v: array<double>) view of an embeddings frame —
    shared by the batch probe and the streaming index store."""
    return df.select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))


def ivf_seed_centroids(vecs: DataFrame) -> DataFrame:
    """The deterministic every-53rd-vector centroid rule (the
    trained-k-means stand-in) — ONE definition for probe + store."""
    return (vecs.filter(F.col("vec_id") % 53 == 1)
            .select(F.col("vec_id").alias("cent_id"),
                    F.col("v").alias("cv")))


def ivf_assign(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """Nearest-centroid assignment: 9dp-rounded cosine argmax with
    centroid-id tie-break. Returns the input columns + (cent_id,
    cos9)."""
    from pyspark.sql import Window
    w = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_vc"), F.asc("cent_id"))
    return (vecs.crossJoin(F.broadcast(cents))
            .withColumn("cos_vc", F.expr(_spark_cos("v", "cv", 9)))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .drop("rk", "cv")
            .withColumnRenamed("cos_vc", "cos9"))


def ivf_probe_centroids(cents: DataFrame, q: DataFrame,
                        nprobe: int) -> DataFrame:
    """The nprobe centroids nearest the query vector."""
    return (cents.crossJoin(F.broadcast(q))
            .select("cent_id",
                    F.expr(_spark_cos("cv", "qv", 9)).alias("cos_qc"))
            .orderBy(F.desc("cos_qc"), F.asc("cent_id"))
            .limit(nprobe).select("cent_id"))


def ivf_exact_topk(bucket_vecs: DataFrame, q: DataFrame,
                   k: int) -> DataFrame:
    """Exact 6dp-cosine top-k over the probed buckets' vectors."""
    return (bucket_vecs.crossJoin(F.broadcast(q))
            .select("vec_id", "label",
                    F.expr(_spark_cos("v", "qv", 6)).alias("cosine"))
            .orderBy(F.desc("cosine"), F.asc("vec_id"))
            .limit(k))



@register(
    "ivf_topk_probe",
    oracle=f"""
    WITH {_DUCK_EMB},
    cents AS (
      SELECT vec_id AS cent_id, v AS cv FROM emb WHERE vec_id % 53 = 1
    ),
    q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
    top_cents AS (
      SELECT cent_id
      FROM cents CROSS JOIN q
      ORDER BY {_DUCK_COS.format(a='cv', b='qv', d=9)} DESC, cent_id
      LIMIT {IVF_NPROBE}
    ),
    assign AS (
      SELECT e.vec_id, e.label, e.v, c.cent_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_DUCK_COS.format(a='e.v', b='c.cv', d=9)} DESC,
                        c.cent_id) AS rk
      FROM emb e CROSS JOIN cents c
    ),
    bucket AS (
      SELECT vec_id, label, v FROM assign
      WHERE rk = 1 AND vec_id <> 0
        AND cent_id IN (SELECT cent_id FROM top_cents)
    )
    SELECT vec_id, label,
           {_DUCK_COS.format(a='v', b='qv', d=6)} AS cosine
    FROM bucket CROSS JOIN q
    ORDER BY cosine DESC, vec_id LIMIT 10
    """,
    tags=("similarity", "ann", "ivf", "X15"),
)
def ivf_topk_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors, the other
    classic ANN index besides LSH: partition the corpus into centroid
    buckets once, then answer top-k by probing only the nprobe
    buckets nearest the query — search cost drops from O(corpus) to
    O(corpus/K * nprobe). nprobe default is the tuned `IVF_NPROBE`
    (the cost/recall knee from the `ann_param_sweep` evidence —
    nprobe=2 measured 0.24 recall@10 at sf0.1, 8 measures 0.55 at
    ~21% of corpus probed; the >=0.9 engine default is the PQ
    pipeline, `pq_topk_adc`).

    Deterministic stand-in for trained centroids: every 53rd vector is
    a centroid (at scale: k-means once, same plan). Assignment is an
    argmax over a BROADCAST centroid table (K << corpus, so this is a
    map-side operation + one window shuffle on vec_id); cosines are
    9dp-rounded before every argmax/ordering so both engines rank
    identical doubles, centroid-id tie-breaks."""
    e = ivf_vectors(_t(spark, sf_dir, "embeddings"))
    cents = ivf_seed_centroids(e)
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    top_cents = ivf_probe_centroids(cents, q, nprobe=IVF_NPROBE)
    assign = ivf_assign(e, cents).filter(F.col("vec_id") != 0)
    bucket = assign.join(F.broadcast(top_cents), "cent_id")
    return ivf_exact_topk(bucket, q, k=10)


@register(
    "training_data_prep",
    oracle=f"""
    WITH canon AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text
    ),
    d AS (
      SELECT doc.doc_id, doc.source, doc.n_chars,
             string_split(doc.text, ' ') AS words
      FROM documents doc JOIN canon c ON c.doc_id = doc.doc_id
    ),
    m AS (
      SELECT doc_id, source, n_chars,
             CAST(len(words) AS BIGINT) AS n_words,
             CAST(len(list_filter(words, w -> list_contains(
               {[*_STOPWORDS]}, w))) AS BIGINT) AS n_stop,
             CAST(len(list_filter(words, w -> list_contains(
               ['the','and','of','is','with'], w))) AS BIGINT) AS en_hits,
             CAST(len(list_filter(words, w -> list_contains(
               ['le','la','et','les','des'], w))) AS BIGINT)   AS fr_hits,
             CAST(len(list_filter(words, w -> list_contains(
               ['der','und','die','das','mit'], w))) AS BIGINT) AS de_hits,
             CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
               list_transform(words, w -> CAST(CEIL(length(w) / 4.0) AS BIGINT))),
               (a, b) -> a + b) AS BIGINT) AS n_tokens_est
      FROM d
    ),
    scored AS (
      SELECT *,
             CAST((2 * (32 * n_words * LEAST(CAST(100 AS BIGINT), n_words)
                        + 2400 * (n_words - n_stop)
                        + 300 * LEAST(8 * n_words, CAST(n_chars AS BIGINT)))
                     * 1000000 + 8000 * n_words)
                  // (2 * 8000 * n_words) AS DOUBLE) / 1000000 AS quality
      FROM m
    )
    SELECT doc_id, source, n_words, n_tokens_est, quality
    FROM scored
    WHERE quality >= CAST(0.62 AS DOUBLE)
      AND en_hits >= fr_hits AND en_hits >= de_hits AND en_hits > 0
      AND doc_id % 10 < 8
    """,
    headline=True,
    tags=("pipeline", "dedup", "quality", "langid", "tokens", "sample"),
)
def training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data preparation — the composite a corpus
    team actually runs, as ONE declarative plan: exact dedup (keep the
    min-doc_id copy per distinct text) -> quality filter (the exact
    integer-arithmetic score of `text_quality_scores`, >= 0.62) ->
    language gate (`language_id_heuristic`'s stopword-profile vote,
    keep predicted-English) -> token budgeting (`token_counts`'
    BPE-ish estimate) -> deterministic 80% sample (doc_id mod 10 < 8,
    reproducible across runs/engines).

    Plan shape at 100 TB: one hash shuffle for the dedup group-by,
    then everything else is per-row JVM array math on the surviving
    docs — filters fused into one stage, no Python, no second
    shuffle. Each stage is independently oracle-checked by its
    standalone query; this registers the composition so the
    interaction (filter ordering, shared columns) is verified too."""
    d = _t(spark, sf_dir, "documents")
    canon = d.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    kept = d.join(canon.select("doc_id"), "doc_id", "left_semi")
    m = kept.select(
        "doc_id", "source", "n_chars",
        F.split("text", " ").alias("words"))
    stop_arr = "array(" + ", ".join(f"'{w}'" for w in _STOPWORDS) + ")"

    def hits(words_list: list[str]) -> Column:
        arr = "array(" + ", ".join(f"'{w}'" for w in words_list) + ")"
        return (F.size(F.expr(f"filter(words, w -> array_contains({arr}, w))"))
                .cast("long"))

    feat = m.select(
        "doc_id", "source", "n_chars",
        F.size("words").cast("long").alias("n_words"),
        F.size(F.expr(f"filter(words, w -> array_contains({stop_arr}, w))"))
         .cast("long").alias("n_stop"),
        hits(["the", "and", "of", "is", "with"]).alias("en_hits"),
        hits(["le", "la", "et", "les", "des"]).alias("fr_hits"),
        hits(["der", "und", "die", "das", "mit"]).alias("de_hits"),
        F.expr("aggregate(transform(words,"
               " w -> cast(ceil(length(w) / 4.0) as bigint)),"
               " cast(0 as bigint), (a, b) -> a + b)").alias("n_tokens_est"))
    scored = feat.withColumn(
        "quality",
        F.expr("(2 * (32 * n_words * least(cast(100 as bigint), n_words)"
               " + 2400 * (n_words - n_stop)"
               " + 300 * least(8 * n_words, cast(n_chars as bigint)))"
               " * 1000000 + 8000 * n_words)"
               " div (2 * 8000 * n_words)").cast("double") / 1000000)
    return (scored
            .filter((F.col("quality") >= 0.62)
                    & (F.col("en_hits") >= F.col("fr_hits"))
                    & (F.col("en_hits") >= F.col("de_hits"))
                    & (F.col("en_hits") > 0)
                    & (F.col("doc_id") % 10 < 8))
            .select("doc_id", "source", "n_words", "n_tokens_est", "quality"))


# ---------------------------------------------------------------------------
# Repetition & classifier-based quality signals (Gopher / CCNet style)
# ---------------------------------------------------------------------------

@register(
    "repetition_signals",
    oracle=f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ),
    uc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w),
    ud AS (
      SELECT doc_id, MAX(c) AS top_word_n,
             CAST(SUM(c) AS BIGINT) AS n_words,
             COUNT(*) AS n_distinct
      FROM uc GROUP BY doc_id
    ),
    b AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, GREATEST(0, CAST(len(words) AS BIGINT) - 1)),
               i -> array_to_string(words[i:i+1], ' '))) AS b
      FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)
    ),
    bc AS (SELECT doc_id, b, COUNT(*) AS c FROM b GROUP BY doc_id, b),
    bd AS (
      SELECT doc_id, MAX(c) AS top_bigram_n,
             CAST(SUM(c) AS BIGINT) AS n_bigrams
      FROM bc GROUP BY doc_id
    )
    SELECT ud.doc_id, n_words, n_distinct,
           COALESCE(top_bigram_n, 0) AS top_bigram_n,
           {duck_round_ratio('top_word_n', 'n_words', 6)} AS top_word_frac,
           {duck_round_ratio('n_distinct', 'n_words', 6)} AS distinct_ratio,
           {duck_round_ratio('COALESCE(top_bigram_n, 0)',
                             'GREATEST(COALESCE(n_bigrams, 0), 1)', 6)}
             AS top_bigram_frac,
           CAST(top_word_n * 5 > n_words
                OR COALESCE(top_bigram_n, 0) * 5
                   > GREATEST(COALESCE(n_bigrams, 0), 1) AS INT) AS repetitive
    FROM ud LEFT JOIN bd ON ud.doc_id = bd.doc_id
    """,
    tags=("quality", "repetition"),
)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1), adapted
    to newline-free corpora: per-document top-unigram fraction,
    top-bigram fraction, and distinct-word ratio, plus a `repetitive`
    flag when the most frequent unigram or bigram exceeds 20% of the
    document (the flag is computed in integer arithmetic so both
    engines agree bit-for-bit; the fractions use the shared integer
    half-up rounding).

    Plan shape at 100 TB: explode to (doc, term) then two hash
    aggregations keyed on (doc_id, term) -> (doc_id) — map-side
    partial aggregation collapses repeats before either exchange, and
    both shuffles carry counts, not text. No Python, no window over
    the corpus."""
    d = fanout(_t(spark, sf_dir, "documents"))
    words = d.select("doc_id", F.split("text", " ").alias("words"))
    uc = (words.select("doc_id", F.explode("words").alias("w"))
          .groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("c")))
    ud = uc.groupBy("doc_id").agg(
        F.max("c").alias("top_word_n"),
        F.sum("c").alias("n_words"),
        F.count(F.lit(1)).alias("n_distinct"))
    bc = (words.select("doc_id", F.explode(F.expr(
            "CASE WHEN size(words) >= 2 THEN"
            " transform(sequence(1, size(words) - 1),"
            " i -> concat_ws(' ', slice(words, i, 2)))"
            " ELSE array() END")).alias("b"))
          .groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("c")))
    bd = bc.groupBy("doc_id").agg(
        F.max("c").alias("top_bigram_n"),
        F.sum("c").alias("n_bigrams"))
    j = (ud.join(bd, "doc_id", "left")
         .withColumn("top_bigram_n", F.coalesce("top_bigram_n", F.lit(0)))
         .withColumn("n_bigrams",
                     F.greatest(F.coalesce("n_bigrams", F.lit(0)), F.lit(1))))
    return j.select(
        "doc_id", "n_words", "n_distinct", "top_bigram_n",
        spark_round_ratio("top_word_n", "n_words", 6).alias("top_word_frac"),
        spark_round_ratio("n_distinct", "n_words", 6).alias("distinct_ratio"),
        spark_round_ratio("top_bigram_n", "n_bigrams", 6)
            .alias("top_bigram_frac"),
        ((F.col("top_word_n") * 5 > F.col("n_words"))
         | (F.col("top_bigram_n") * 5 > F.col("n_bigrams")))
        .cast("int").alias("repetitive"))


# Hashed linear classifier: weight(term) = (char_hash(term) % 1001) - 500.
# Stand-in for a fastText-style quality model: the exact weights are a
# deterministic function both engines reproduce, the PLAN (per-row
# hashed-bag-of-words dot product, zero shuffle) is the real thing.

def _spark_word_weight_sum() -> str:
    h = spark_char_hash("w")
    return (f"aggregate(transform(split(text, ' '),"
            f" w -> ({h}) % 1001 - 500),"
            f" cast(0 as bigint), (s, x) -> s + x)")


def _duck_word_weight_sum() -> str:
    h = duck_char_hash("w")
    return (f"list_reduce(list_prepend(CAST(0 AS BIGINT),"
            f" list_transform(string_split(text, ' '),"
            f" w -> ({h}) % 1001 - 500)),"
            f" (s, x) -> s + x)")


@register(
    "quality_classifier_scores",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             {_duck_word_weight_sum()} AS w_sum
      FROM documents
    )
    SELECT doc_id, lang, n_words, w_sum,
           {duck_round_ratio('w_sum', '500 * n_words', 6)} AS quality_score,
           CAST(w_sum > 0 AS INT) AS keep
    FROM m
    """,
    tags=("quality", "classifier"),
)
def quality_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-bag-of-words linear quality classifier (the fastText /
    CCNet-style keep/drop model): each term hashes to a bucket whose
    weight is a deterministic function of the hash; the document score
    is the normalized weight sum and `keep` is its sign.

    Plan shape at 100 TB: the entire model application is ONE per-row
    JVM higher-order expression (transform + aggregate inside
    whole-stage codegen) — zero shuffle, zero Python, no model-side
    join. A learned model swaps in as a broadcast map lookup without
    changing the plan shape."""
    d = fanout(_t(spark, sf_dir, "documents"))
    m = d.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.expr(_spark_word_weight_sum()).alias("w_sum"))
    return m.select(
        "doc_id", "lang", "n_words", "w_sum",
        spark_round_ratio("w_sum", "500 * n_words", 6).alias("quality_score"),
        (F.col("w_sum") > 0).cast("int").alias("keep"))


@register(
    "ccnet_quality_buckets",
    oracle=f"""
    WITH m AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             {_duck_word_weight_sum()} AS w_sum
      FROM documents
    ),
    t AS (
      SELECT lang, w_sum,
             NTILE(3) OVER (
               PARTITION BY lang
               ORDER BY CAST(w_sum AS DOUBLE) / n_words DESC, doc_id
             ) AS bucket
      FROM m
    )
    SELECT lang, bucket, COUNT(*) AS n_docs,
           MIN(w_sum) AS lo_w_sum, MAX(w_sum) AS hi_w_sum
    FROM t GROUP BY lang, bucket
    """,
    tags=("quality", "classifier", "sample"),
)
def ccnet_quality_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail corpus split (Wenzek et al. 2020):
    per language, rank documents by the per-word classifier score and
    cut into score terciles (bucket 1 = head = best third), reporting
    the bucket sizes and raw-score ranges. Ties break on doc_id so the
    split is deterministic and engine-portable.

    Plan shape at 100 TB: scoring is per-row JVM math; the tercile is
    one window shuffle PARTITIONED BY lang (bounded parallelism =
    languages — CCNet's own sharding; for a single giant language,
    swap NTILE for approx-percentile cutoffs learned on a sample, same
    downstream schema), then a hash aggregation on (lang, bucket)."""
    from pyspark.sql.window import Window
    d = fanout(_t(spark, sf_dir, "documents"))
    m = d.select(
        "doc_id", "lang",
        F.size(F.split("text", " ")).cast("long").alias("n_words"),
        F.expr(_spark_word_weight_sum()).alias("w_sum"))
    w = Window.partitionBy("lang").orderBy(
        (F.col("w_sum").cast("double") / F.col("n_words")).desc(),
        F.col("doc_id"))
    t = m.withColumn("bucket", F.ntile(3).over(w))
    return (t.groupBy("lang", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.min("w_sum").alias("lo_w_sum"),
                 F.max("w_sum").alias("hi_w_sum")))


@register(
    "crossdoc_shingle_dup_rate",
    oracle=f"""
    WITH {_DUCK_SHINGLES},
    freq AS (
      SELECT shingle, COUNT(*) AS n_docs FROM shingles GROUP BY shingle
    ),
    per AS (
      SELECT s.doc_id, COUNT(*) AS n_shingles,
             CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
      FROM shingles s JOIN freq f ON s.shingle = f.shingle
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_shared,
           {duck_round_ratio('n_shared', 'n_shingles', 6)} AS dup_rate
    FROM per
    """,
    tags=("dedup", "quality"),
)
def crossdoc_shingle_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-corpus duplication rate: the fraction of a
    document's distinct 3-word shingles that also appear in at least
    one OTHER document. The corpus-level cousin of pairwise near-dup —
    a cheap one-number signal for 'how much of this doc is boilerplate
    shared with the rest of the corpus' (the duplicate-text measure
    used to clean C4/MassiveText-class corpora).

    Plan shape at 100 TB: shingle -> doc-frequency is one hash
    aggregation on the shingle key; the join back is an equi-join on
    that same key (co-partitioned with the aggregation's exchange, so
    AQE reuses the shuffle); the per-doc rollup shuffles only
    (doc_id, counts). Never doc x doc."""
    sh = _spark_shingles(spark, sf_dir)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("n_docs"))
    per = (sh.join(freq, "shingle")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_shingles"),
                F.sum((F.col("n_docs") >= 2).cast("long")).alias("n_shared")))
    return per.select(
        "doc_id", "n_shingles", "n_shared",
        spark_round_ratio("n_shared", "n_shingles", 6).alias("dup_rate"))




@register(
    "pq_topk_adc",
    oracle=f"""
    WITH {_DUCK_EMB},
    seeds AS (
      SELECT vec_id AS code, v AS sv FROM emb ORDER BY vec_id
      LIMIT {PQ_NCODE}
    ),
    subs AS (SELECT unnest(generate_series(0, 7)) AS s),
    cb AS (
      SELECT s, code, sv[8*s+1 : 8*s+8] AS c
      FROM seeds CROSS JOIN subs
    ),
    q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
    dqt AS (
      SELECT s, code,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, 8),
                 t -> (qv[8*s+t] - c[t]) * (qv[8*s+t] - c[t]))),
               (acc, x) -> acc + x) AS dq
      FROM cb CROSS JOIN q
    ),
    a AS (
      SELECT e.vec_id, e.label, cb.s, cb.code,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, 8),
                 t -> (e.v[8*cb.s+t] - cb.c[t]) * (e.v[8*cb.s+t] - cb.c[t]))),
               (acc, x) -> acc + x) AS dv
      FROM emb e CROSS JOIN cb WHERE e.vec_id <> 0
    ),
    win AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id, s ORDER BY dv, code) AS rn
      FROM a
    ),
    j AS (
      SELECT w.vec_id, w.label, w.s, d.dq
      FROM win w JOIN dqt d ON w.s = d.s AND w.code = d.code
      WHERE w.rn = 1
    ),
    per AS (
      SELECT vec_id, label,
             MAX(CASE WHEN s = 0 THEN dq END) AS d0,
             MAX(CASE WHEN s = 1 THEN dq END) AS d1,
             MAX(CASE WHEN s = 2 THEN dq END) AS d2,
             MAX(CASE WHEN s = 3 THEN dq END) AS d3,
             MAX(CASE WHEN s = 4 THEN dq END) AS d4,
             MAX(CASE WHEN s = 5 THEN dq END) AS d5,
             MAX(CASE WHEN s = 6 THEN dq END) AS d6,
             MAX(CASE WHEN s = 7 THEN dq END) AS d7
      FROM j GROUP BY vec_id, label
    ),
    shortlist AS (
      SELECT vec_id, label,
             ROUND(d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7, 6) AS approx_dist
      FROM per
      ORDER BY ROUND(d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7, 6), vec_id
      LIMIT {PQ_RERANK}
    )
    SELECT s.vec_id, s.label, s.approx_dist,
           ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(generate_series(1, CAST(len(e.v) AS BIGINT)),
               d -> (e.v[d] - q.qv[d]) * (e.v[d] - q.qv[d]))),
             (acc, x) -> acc + x), 6) AS exact_dist
    FROM shortlist s
    JOIN emb e ON e.vec_id = s.vec_id
    CROSS JOIN q
    ORDER BY exact_dist, s.vec_id LIMIT 10
    """,
    tags=("similarity", "pq", "X15"),
)
def pq_topk_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with re-ranking (Jegou et al. 2011):
    split the 64-dim vector into 8 subspaces of 8 dims, assign each
    sub-vector to its nearest codebook centroid, shortlist the top-100
    by ASYMMETRIC DISTANCE (query-to-centroid lookup table summed over
    the data vector's codes), then re-rank the shortlist by exact L2 —
    the production PQ pipeline, and the third classic ANN family next
    to IVF (`ivf_topk_probe`) and LSH (`embedding_rp_lsh_buckets`,
    MLlib). The codebook is a deterministic seed (sub-vectors of the 4
    lowest-id vectors) so both engines derive identical codes — a
    trained k-means codebook is an offline swap that changes no plan
    shape. Recall@10 vs brute force is pinned in tests/test_ann.py
    (0.7 on this corpus; raw un-reranked ADC order is ~0.1 on these
    near-uniform vectors, which is exactly why production PQ re-ranks
    a shortlist). Argmin ties break on code id; every distance is a
    left-fold in dimension index order and the total is an explicit
    d0+..+d7 chain, so the doubles match DuckDB bit-for-bit.

    Plan shape at 100 TB: the 32-row codebook and 32-entry
    query-distance table broadcast; encoding is a bounded x32 row
    blow-up collapsed by a per-(vector, subspace) argmin (window
    partitioned on the vector — embarrassingly parallel); the ADC
    shortlist is TakeOrderedAndProject over code-table lookups (at
    real scale: over stored 8-byte codes — a 32x-compressed scan that
    never touches the vectors); only the 100-row shortlist pays full
    vector reads for the exact re-rank."""
    from pyspark.sql.window import Window
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    seeds = (e.orderBy("vec_id").limit(PQ_NCODE)
             .select(F.col("vec_id").alias("code"), F.col("v").alias("sv")))
    subs = spark.range(8).select(F.col("id").cast("int").alias("s"))
    cb = (seeds.crossJoin(F.broadcast(subs))
          .select("s", "code", F.expr("slice(sv, 8*s+1, 8)").alias("c")))
    q = e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))

    def subdist(vec: str) -> str:
        return (f"aggregate(zip_with(slice({vec}, 8*s+1, 8), c,"
                f" (x, y) -> (x - y) * (x - y)),"
                f" 0D, (acc, t) -> acc + t)")

    dqt = (cb.crossJoin(F.broadcast(q))
           .select("s", "code", F.expr(subdist("qv")).alias("dq")))
    a = (e.filter(F.col("vec_id") != 0)
         .crossJoin(F.broadcast(cb))
         .select("vec_id", "label", "s", "code",
                 F.expr(subdist("v")).alias("dv")))
    w = Window.partitionBy("vec_id", "s").orderBy("dv", "code")
    win = (a.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") == 1))
    j = win.join(F.broadcast(dqt), ["s", "code"])
    per = j.groupBy("vec_id", "label").agg(
        *[F.max(F.when(F.col("s") == i, F.col("dq"))).alias(f"d{i}")
          for i in range(8)])
    total = (F.col("d0") + F.col("d1") + F.col("d2") + F.col("d3")
             + F.col("d4") + F.col("d5") + F.col("d6") + F.col("d7"))
    shortlist = (per.select("vec_id", "label",
                            F.round(total, 6).alias("approx_dist"))
                 .orderBy("approx_dist", "vec_id").limit(PQ_RERANK))
    exact = ("aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),"
             " 0D, (acc, t) -> acc + t)")
    return (shortlist
            .join(e.select("vec_id", "v"), "vec_id")
            .crossJoin(F.broadcast(q))
            .select("vec_id", "label", "approx_dist",
                    F.round(F.expr(exact), 6).alias("exact_dist"))
            .orderBy("exact_dist", "vec_id").limit(10))


ANN_K = 10

_DUCK_L2 = ("ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(generate_series(1, CAST(len({a}) AS BIGINT)), "
            "d -> ({a}[d] - {b}[d]) * ({a}[d] - {b}[d]))), "
            "(acc, x) -> acc + x), 6)")


@register(
    "ann_recall_report",
    oracle=f"""
    WITH {_DUCK_EMB},
    q AS (SELECT v AS qv FROM emb WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             {_DUCK_COS.format(a='e.v', b='q.qv', d=6)} AS cosine,
             {_DUCK_L2.format(a='e.v', b='q.qv')} AS l2
      FROM emb e CROSS JOIN q WHERE e.vec_id <> 0
    ),
    gt_cos AS (SELECT vec_id FROM scored
               ORDER BY cosine DESC, vec_id LIMIT {ANN_K}),
    gt_l2 AS (SELECT vec_id FROM scored ORDER BY l2, vec_id LIMIT {ANN_K}),
    proj AS (
      SELECT vec_id,
             p.j,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, CAST(len(v) AS BIGINT)),
                 d -> v[d] * (CAST(((p.j * 64 + d) * 2654435761) % 1000 AS DOUBLE)
                              / 500.0 - 1.0))),
               (a, b) -> a + b) AS dot
      FROM emb CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS j) p
    ),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(CASE WHEN dot > 0 THEN CAST(POWER(2, j) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS bucket
      FROM proj GROUP BY vec_id
    ),
    qb AS (SELECT bucket AS qbucket FROM buckets WHERE vec_id = 0),
    cand_rp AS (
      SELECT b.vec_id FROM buckets b CROSS JOIN qb
      WHERE b.bucket = qb.qbucket AND b.vec_id <> 0
    ),
    rp_top AS (
      SELECT s.vec_id FROM cand_rp c JOIN scored s USING (vec_id)
      ORDER BY s.cosine DESC, s.vec_id LIMIT {ANN_K}
    ),
    cents AS (
      SELECT vec_id AS cent_id, v AS cv FROM emb WHERE vec_id % 53 = 1
    ),
    top_cents AS (
      SELECT cent_id FROM cents CROSS JOIN q
      ORDER BY {_DUCK_COS.format(a='cv', b='qv', d=9)} DESC, cent_id
      LIMIT {IVF_NPROBE}
    ),
    assign AS (
      SELECT e.vec_id, c.cent_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_DUCK_COS.format(a='e.v', b='c.cv', d=9)} DESC,
                        c.cent_id) AS rk
      FROM emb e CROSS JOIN cents c
    ),
    cand_ivf AS (
      SELECT vec_id FROM assign
      WHERE rk = 1 AND vec_id <> 0
        AND cent_id IN (SELECT cent_id FROM top_cents)
    ),
    ivf_top AS (
      SELECT s.vec_id FROM cand_ivf c JOIN scored s USING (vec_id)
      ORDER BY s.cosine DESC, s.vec_id LIMIT {ANN_K}
    ),
    seeds AS (
      SELECT vec_id AS code, v AS sv FROM emb ORDER BY vec_id
      LIMIT {PQ_NCODE}
    ),
    subs AS (SELECT unnest(generate_series(0, 7)) AS s),
    cb AS (
      SELECT s, code, sv[8*s+1 : 8*s+8] AS c
      FROM seeds CROSS JOIN subs
    ),
    dqt AS (
      SELECT s, code,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, 8),
                 t -> (qv[8*s+t] - c[t]) * (qv[8*s+t] - c[t]))),
               (acc, x) -> acc + x) AS dq
      FROM cb CROSS JOIN q
    ),
    enc AS (
      SELECT e.vec_id, cb.s, cb.code,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, 8),
                 t -> (e.v[8*cb.s+t] - cb.c[t]) * (e.v[8*cb.s+t] - cb.c[t]))),
               (acc, x) -> acc + x) AS dv
      FROM emb e CROSS JOIN cb WHERE e.vec_id <> 0
    ),
    enc_win AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id, s ORDER BY dv, code) AS rn
      FROM enc
    ),
    adc AS (
      SELECT w.vec_id, w.s, d.dq
      FROM enc_win w JOIN dqt d ON w.s = d.s AND w.code = d.code
      WHERE w.rn = 1
    ),
    adc_per AS (
      SELECT vec_id,
             MAX(CASE WHEN s = 0 THEN dq END) AS d0,
             MAX(CASE WHEN s = 1 THEN dq END) AS d1,
             MAX(CASE WHEN s = 2 THEN dq END) AS d2,
             MAX(CASE WHEN s = 3 THEN dq END) AS d3,
             MAX(CASE WHEN s = 4 THEN dq END) AS d4,
             MAX(CASE WHEN s = 5 THEN dq END) AS d5,
             MAX(CASE WHEN s = 6 THEN dq END) AS d6,
             MAX(CASE WHEN s = 7 THEN dq END) AS d7
      FROM adc GROUP BY vec_id
    ),
    shortlist AS (
      SELECT vec_id FROM adc_per
      ORDER BY ROUND(d0 + d1 + d2 + d3 + d4 + d5 + d6 + d7, 6), vec_id
      LIMIT {PQ_RERANK}
    ),
    pq_top AS (
      SELECT s.vec_id FROM shortlist c JOIN scored s USING (vec_id)
      ORDER BY s.l2, s.vec_id LIMIT {ANN_K}
    ),
    report AS (
      SELECT 'rp_lsh_bucket' AS variant, 'cosine' AS metric,
             CAST((SELECT COUNT(*) FROM cand_rp) AS BIGINT)
               AS n_candidates,
             CAST((SELECT COUNT(*) FROM rp_top t
                   JOIN gt_cos g USING (vec_id)) AS BIGINT) AS n_hits
      UNION ALL
      SELECT 'ivf_nprobe{IVF_NPROBE}', 'cosine',
             CAST((SELECT COUNT(*) FROM cand_ivf) AS BIGINT),
             CAST((SELECT COUNT(*) FROM ivf_top t
                   JOIN gt_cos g USING (vec_id)) AS BIGINT)
      UNION ALL
      SELECT 'pq_adc_rerank', 'l2',
             CAST((SELECT COUNT(*) FROM shortlist) AS BIGINT),
             CAST((SELECT COUNT(*) FROM pq_top t
                   JOIN gt_l2 g USING (vec_id)) AS BIGINT)
    )
    SELECT variant, metric, CAST({ANN_K} AS BIGINT) AS k,
           n_candidates, n_hits,
           {duck_round_ratio('n_hits', str(ANN_K), 6)} AS recall_at_k
    FROM report
    """,
    tags=("similarity", "ann", "X15", "report"),
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k evidence for every SQL-derivable ANN index variant —
    the report a user needs to CHOOSE an index (reference parity: its
    production retrieval is a pgvector HNSW cosine index,
    setup_vector_db.py:147-155, picked without published recall; this
    engine instead publishes the tradeoff). One row per variant:
    candidate-set size (the cost proxy — how much of the corpus the
    probe touches) and recall@{ANN_K} against the metric-matched
    brute-force ground truth (cosine for the LSH/IVF retrieval paths,
    L2 for PQ — mixing metrics would conflate index quality with
    metric mismatch).

    Variants: `rp_lsh_bucket` (candidates = the query's 8-bit
    random-projection bucket, exact cosine within), `ivf_nprobe2`
    (top-2 centroid buckets, exact cosine within — exactly
    `ivf_topk_probe`'s pipeline), `pq_adc_rerank` (ADC top-100
    shortlist re-ranked by exact L2 — exactly `pq_topk_adc`'s). The
    seeded MLlib LSH variant cannot appear here (JVM RNG is not
    SQL-reproducible); its recall floor is pinned against the same
    brute force in tests/test_ann.py.

    All recall arithmetic is exact integers (hit counts vs a
    deterministically tie-broken ground-truth set; the ratio goes
    through the shared half-up integer rounding), so the report
    itself is oracle-checked — the numbers are evidence, not
    estimates. At 100 TB every branch keeps its source query's plan
    shape (broadcast codebooks/centroids/query, TakeOrdered heads,
    bounded windows); the ground-truth brute-force scan is the one
    deliberately exhaustive branch, which is the point of an offline
    recall audit."""
    from pyspark.sql.window import Window
    # The query vector and the brute-force score table are PINNED:
    # both are MAP-ONLY subtrees (scan -> broadcast crossJoin ->
    # project, no exchange), so runtime exchange reuse cannot
    # deduplicate their five consumers — unpinned, the exhaustive
    # cosine/l2 branch recomputed per reference. The other shared
    # frames (buckets, candidate lists, shortlist) END in exchanges or
    # windows, which AQE's ReusedExchange dedups at runtime — pinning
    # them was measured SLOWER (serialized pin jobs vs one concurrent
    # DAG) and is left to the engine.
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        F.expr("transform(embedding, x -> cast(x as double))").alias("v"))
    q = (e.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
         .localCheckpoint(eager=True))
    l2 = ("round(aggregate(zip_with(v, qv, (x, y) -> (x - y) * (x - y)),"
          " 0D, (acc, t) -> acc + t), 6)")
    scored = (e.filter(F.col("vec_id") != 0)
              .crossJoin(F.broadcast(q))
              .select("vec_id",
                      F.expr(_spark_cos("v", "qv", 6)).alias("cosine"),
                      F.expr(l2).alias("l2"))
              .localCheckpoint(eager=True))
    gt_cos = (scored.orderBy(F.desc("cosine"), F.asc("vec_id"))
              .limit(ANN_K).select("vec_id"))
    gt_l2 = (scored.orderBy(F.asc("l2"), F.asc("vec_id"))
             .limit(ANN_K).select("vec_id"))

    # RP-LSH: same bucket fold as embedding_rp_lsh_buckets, for all
    # vectors including the query
    planes = spark.range(8).select(F.col("id").cast("int").alias("j"))
    pdot = ("aggregate(transform(sequence(1, size(v)),"
            " d -> element_at(v, d)"
            "      * (cast(((j * 64 + d) * 2654435761) % 1000 as double)"
            "         / 500.0 - 1.0)),"
            " 0D, (a, b) -> a + b)")
    buckets = (e.crossJoin(F.broadcast(planes))
               .select("vec_id", "j", F.expr(pdot).alias("dot"))
               .groupBy("vec_id")
               .agg(F.sum(F.when(F.col("dot") > 0,
                                 F.pow(F.lit(2), F.col("j")).cast("long"))
                          .otherwise(F.lit(0))).cast("long").alias("bucket")))
    qb = (buckets.filter(F.col("vec_id") == 0)
          .select(F.col("bucket").alias("qbucket")))
    cand_rp = (buckets.filter(F.col("vec_id") != 0)
               .crossJoin(F.broadcast(qb))
               .filter(F.col("bucket") == F.col("qbucket"))
               .select("vec_id"))
    rp_top = (cand_rp.join(scored, "vec_id")
              .orderBy(F.desc("cosine"), F.asc("vec_id"))
              .limit(ANN_K).select("vec_id"))

    # IVF: same probe as ivf_topk_probe
    cents = (e.filter(F.col("vec_id") % 53 == 1)
             .select(F.col("vec_id").alias("cent_id"),
                     F.col("v").alias("cv")))
    top_cents = (cents.crossJoin(F.broadcast(q))
                 .select("cent_id",
                         F.expr(_spark_cos("cv", "qv", 9)).alias("cos_qc"))
                 .orderBy(F.desc("cos_qc"), F.asc("cent_id"))
                 .limit(IVF_NPROBE).select("cent_id"))
    wv = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_vc"), F.asc("cent_id"))
    cand_ivf = (e.crossJoin(F.broadcast(cents))
                .withColumn("cos_vc", F.expr(_spark_cos("v", "cv", 9)))
                .withColumn("rk", F.row_number().over(wv))
                .filter((F.col("rk") == 1) & (F.col("vec_id") != 0))
                .join(F.broadcast(top_cents), "cent_id")
                .select("vec_id"))
    ivf_top = (cand_ivf.join(scored, "vec_id")
               .orderBy(F.desc("cosine"), F.asc("vec_id"))
               .limit(ANN_K).select("vec_id"))

    # PQ: same codebook/ADC shortlist as pq_topk_adc
    seeds = (e.orderBy("vec_id").limit(PQ_NCODE)
             .select(F.col("vec_id").alias("code"), F.col("v").alias("sv")))
    subs = spark.range(8).select(F.col("id").cast("int").alias("s"))
    cb = (seeds.crossJoin(F.broadcast(subs))
          .select("s", "code", F.expr("slice(sv, 8*s+1, 8)").alias("c")))

    def subdist(vec: str) -> str:
        return (f"aggregate(zip_with(slice({vec}, 8*s+1, 8), c,"
                f" (x, y) -> (x - y) * (x - y)),"
                f" 0D, (acc, t) -> acc + t)")

    dqt = (cb.crossJoin(F.broadcast(q))
           .select("s", "code", F.expr(subdist("qv")).alias("dq")))
    wp = Window.partitionBy("vec_id", "s").orderBy("dv", "code")
    enc = (e.filter(F.col("vec_id") != 0)
           .crossJoin(F.broadcast(cb))
           .select("vec_id", "s", "code", F.expr(subdist("v")).alias("dv"))
           .withColumn("rn", F.row_number().over(wp))
           .filter(F.col("rn") == 1))
    adc = enc.join(F.broadcast(dqt), ["s", "code"])
    per = adc.groupBy("vec_id").agg(
        *[F.max(F.when(F.col("s") == i, F.col("dq"))).alias(f"d{i}")
          for i in range(8)])
    total = sum((F.col(f"d{i}") for i in range(1, 8)), F.col("d0"))
    shortlist = (per.select("vec_id", F.round(total, 6).alias("approx_dist"))
                 .orderBy("approx_dist", "vec_id").limit(PQ_RERANK)
                 .select("vec_id"))
    pq_top = (shortlist.join(scored, "vec_id")
              .orderBy(F.asc("l2"), F.asc("vec_id"))
              .limit(ANN_K).select("vec_id"))

    def report_row(variant: str, metric: str, cand: DataFrame,
                   top: DataFrame, gt: DataFrame) -> DataFrame:
        ncand = cand.agg(F.count(F.lit(1)).cast("long")
                         .alias("n_candidates"))
        nhits = (top.join(gt, "vec_id")
                 .agg(F.count(F.lit(1)).cast("long").alias("n_hits")))
        return (ncand.crossJoin(nhits)
                .select(F.lit(variant).alias("variant"),
                        F.lit(metric).alias("metric"),
                        F.lit(ANN_K).cast("long").alias("k"),
                        "n_candidates", "n_hits",
                        spark_round_ratio("n_hits", str(ANN_K), 6)
                        .alias("recall_at_k")))

    return (report_row("rp_lsh_bucket", "cosine", cand_rp, rp_top, gt_cos)
            .unionByName(report_row(f"ivf_nprobe{IVF_NPROBE}", "cosine",
                                    cand_ivf, ivf_top, gt_cos))
            .unionByName(report_row("pq_adc_rerank", "l2",
                                    shortlist, pq_top, gt_l2)))


# --- 8values compass rollup (reference ROADMAP Workstream 6, r8) ----------

def _register_compass() -> None:
    from transcript_analysis_spark.plans.registry import _REGISTRY
    axis_oracle = _REGISTRY["eightvalues_axis_scores"].oracle
    mean_cols_sql = ", ".join(
        f"""(CAST((CASE WHEN (SUM(CAST(ROUND({ax} * 1000) AS BIGINT))) < 0
                 THEN -1 ELSE 1 END)
           * ((2 * abs(CAST(SUM(CAST(ROUND({ax} * 1000) AS BIGINT))
                       AS BIGINT)) * 10 + COUNT(*))
              // (2 * COUNT(*))) AS DOUBLE) / 10000) AS mean_{ax}"""
        for ax in ("econ", "dipl", "govt", "scty"))

    @register(
        "eightvalues_compass_by_nation",
        oracle=f"""
        WITH axis AS MATERIALIZED ({axis_oracle})
        SELECT c.c_nationkey                    AS nationkey,
               CAST(COUNT(*) AS BIGINT)         AS n_runs,
               {mean_cols_sql}
        FROM axis a JOIN customer c ON c.c_custkey = a.run_id
        GROUP BY c.c_nationkey
        """,
        tags=("A11", "F8", "report"),
    )
    def eightvalues_compass_by_nation(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
        """The classic 8values compass rolled up per speaker group
        (ROADMAP Workstream 6: "the compass per speaker / channel") —
        mean axis position over each nation's runs, composed on the
        REGISTERED axis query/oracle so the rollup cannot drift from
        the per-run scores. Mean-of-rounded-scores is computed by
        recovering each 3dp score as an exact integer (round(x*1000)
        is exact — the score IS k/1000), summing as int64, and
        half-up rounding once at 4dp: no float-summation order
        hazard. One broadcast dim join + one grouped aggregate."""
        axis = eightvalues_axis_scores(spark, sf_dir)
        c = _t(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("run_id"),
            F.col("c_nationkey").alias("nationkey"))
        j = axis.join(F.broadcast(c), "run_id")
        return (j.groupBy("nationkey")
                .agg(F.count(F.lit(1)).cast("long").alias("n_runs"),
                     *[spark_round_ratio(
                         f"sum(cast(round({ax} * 1000) as bigint))",
                         "count(1)", 4, n_prescale=3).alias(f"mean_{ax}")
                       for ax in ("econ", "dipl", "govt", "scty")]))


_register_compass()


def _register_question_agreement() -> None:
    from transcript_analysis_spark.functions.rounding import duck_round_ratio

    @register(
        "survey_question_agreement",
        oracle=f"""
        WITH resp AS (
          SELECT o_orderkey % 10                    AS question_id,
                 CAST(o_orderkey % 5 + 1 AS BIGINT) AS answer
          FROM orders WHERE o_orderstatus <> 'P'
        ),
        s AS (
          SELECT question_id,
                 CAST(COUNT(*) AS BIGINT)          AS n_answers,
                 CAST(SUM(answer) AS BIGINT)       AS s1,
                 CAST(SUM(answer * answer) AS BIGINT) AS s2
          FROM resp GROUP BY question_id
        )
        SELECT question_id, n_answers,
               {duck_round_ratio('s1', 'n_answers', 4)} AS mean_answer,
               -- population variance as one exact rational:
               -- (n*s2 - s1^2) / n^2, half-up at 4dp
               {duck_round_ratio('n_answers * s2 - s1 * s1',
                                 'n_answers * n_answers', 4)}
                 AS answer_variance,
               ({duck_round_ratio('n_answers * s2 - s1 * s1',
                                  'n_answers * n_answers', 4)})
                 > CAST(1.5 AS DOUBLE) AS low_agreement
        FROM s
        """,
        tags=("A11", "report", "statistics"),
    )
    def survey_question_agreement(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
        """Per-question answer variance across runs — the ROADMAP
        Workstream-6 bullet "confidence/variance across repeats; flag
        low-agreement questions". Failed responses (status 'P', the
        Neutral-multiplier rows) are excluded: they carry no opinion.
        Population variance is computed as ONE exact integer rational
        (n*s2 - s1^2)/n^2 half-up at 4dp — answers are small ints, so
        the numerator stays ~n^2*25, inside int64 to ~600M answers
        per question; the flag threshold 1.5 marks questions whose
        answers spread beyond ~uniform disagreement. One grouped
        aggregate, 10 rows out."""
        o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "P")
        resp = o.select((F.col("o_orderkey") % 10).alias("question_id"),
                        (F.col("o_orderkey") % 5 + 1).cast("long")
                        .alias("answer"))
        s = resp.groupBy("question_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_answers"),
            F.sum("answer").cast("long").alias("s1"),
            F.sum(F.col("answer") * F.col("answer")).cast("long")
             .alias("s2"))
        var = spark_round_ratio("n_answers * s2 - s1 * s1",
                                "n_answers * n_answers", 4)
        return s.select(
            "question_id", "n_answers",
            spark_round_ratio("s1", "n_answers", 4).alias("mean_answer"),
            var.alias("answer_variance"),
            (var > 1.5).alias("low_agreement"))


_register_question_agreement()
