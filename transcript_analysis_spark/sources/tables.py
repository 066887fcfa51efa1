"""Parquet table loaders for the synthetic corpus.

The driver corpus (TESTDATA.md) is one parquet file per table under
``/root/testdata/sf{0.001,0.01,0.1}/``. Reads are plain
``spark.read.parquet`` so Catalyst gets full predicate pushdown /
column pruning; at cluster scale the same call reads a partitioned
directory tree unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs every query depends on, set defensively because
    the driver's verify harness may run queries under its own
    SparkSession (not session.py's):

    - nanosAsLong: events.parquet carries TIMESTAMP(NANOS). Spark
      <= 4.0 cannot read that natively (the scan throws
      PARQUET_TYPE_ILLEGAL without this flag, and with it surfaces
      LongType nanos, converted below). Spark 4.1+ ignores the flag
      and reads nanos directly as TIMESTAMP_NTZ (truncated to micros)
      — callers must treat ts as NTZ: `unix_timestamp(ts)` works,
      numeric casts like `cast(ts as long)` do NOT.
    - UTC session timezone: date_format/unix_timestamp outputs must
      match the DuckDB oracle's UTC-naive timestamps.

    Both are runtime-settable SQL confs, re-asserted on EVERY call
    (r14 advice): if a foreign harness mutates the session timezone
    mid-session, timestamp outputs would silently diverge from the
    DuckDB oracle — the pre-r13 per-call behaviour self-healed, so
    keep it for the confs that decide correctness (2 py4j round-trips,
    ~1 ms/call, invisible at bench granularity).

    The r13 join-strategy confs that used to live here (set-once
    preferSortMergeJoin=false + AQE SHJ threshold) were removed in
    r14: AQE final plans proved them inert (zero ShuffledHashJoin,
    node-identical plans either way — see session.py and plans/r14/
    as of commit a8fd919, in git history),
    and with them went the set-once guard.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


# In-session table-schema memo — the catalog pattern (r13, guide §6):
# a production engine resolves table schemas from its catalog
# (metastore / Iceberg manifest), not by re-reading parquet footers on
# every query. `spark.read.parquet(path)` pays driver-side schema
# inference (~70-85 ms/table measured at sf0.1) on EVERY call;
# `spark.read.schema(s).parquet(path)` skips it (~15 ms). The memo
# holds table METADATA only — never rows, never results — and is
# keyed on (path, mtime, size) so a rewritten file (fuzz harness tmp
# dirs) can never serve a stale schema.
_SCHEMA_MEMO: dict[tuple[str, float, int], object] = {}
# Bound the memo (r14 advice): fuzz harnesses create many tmp dirs;
# without a cap the module-global memo grows for the process lifetime.
# 256 entries is ~25x the corpus table count — far above any working
# set, tiny in bytes (StructTypes only), evicted FIFO.
_SCHEMA_MEMO_MAX = 256


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
        # Directory inputs (Spark-written tables) are NOT memoized
        # (r14 advice): an in-place part-file rewrite of identical
        # size may not touch the directory mtime, so the stat key
        # cannot prove freshness. Single-file tables (the corpus
        # layout) keep the memo; dirs pay footer inference per call.
        key = (None if os.path.isdir(path)
               else (path, st.st_mtime, st.st_size))
    except OSError:
        key = None  # non-local path (s3a/hdfs): infer every time
    schema = _SCHEMA_MEMO.get(key) if key else None
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        if key:
            if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
                _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
            _SCHEMA_MEMO[key] = df.schema
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), surfaced as long nanos
        # via spark.sql.legacy.parquet.nanosAsLong; expose a proper
        # microsecond timestamp column (floor-truncated, UTC).
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType
        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def fanout(df: DataFrame, partitions: int | None = None,
           key: str | None = None) -> DataFrame:
    """Repartition to engage every core.

    The driver corpus ships one small parquet file per table, which
    Spark scans as a single partition — any compute-heavy per-row work
    (array smoothing, shingling, scoring) would run on one core. At
    production scale the scan has thousands of splits and this is a
    no-op decision; for single-file inputs the tiny shuffle (the raw
    rows) buys full parallelism for everything downstream.

    ``key`` (r13, guide §2.4/§2.5) hash-partitions by that column
    instead of round-robin: skips the sort-before-repartition every
    keyless repartition pays (SPARK-23207), is retry-deterministic,
    and lets a downstream join/groupBy clustered on the key reuse the
    partitioning (islands_flagship's doc_id time-range join measured
    −22% min-of-5 at sf0.1). Key choice matters: a query whose FIRST
    heavy op is an explode→multi-key groupBy measured SLOWER keyed
    (dsir −44%... i.e. +44% wall), so callers opt in per plan shape.
    """
    from pyspark.sql import functions as F
    n = partitions or df.sparkSession.sparkContext.defaultParallelism
    if key is not None:
        return df.repartition(n, F.col(key))
    return df.repartition(n)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str,
                   tables: list[str] | None = None) -> None:
    """Register corpus tables as temp views (for spark.sql plans).

    ``tables`` scopes registration to the views a query actually
    references (r13: catalog-level pruning — registering all 10 cost
    ~0.45 s/call at sf0.1 vs ~0.2 s for a 5-table scope; at cluster
    scale unscoped registration also pays one file-listing per unused
    table). Default stays every table (the generic SQL surface).
    """
    # `tables if tables is None else ...` (r14 advice): an explicit
    # empty list means "register nothing", not "register all 10".
    for name in (TABLES if tables is None else tables):
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def describe_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog introspection — the reference's `inspect_schema.py:33-87`
    (per-table columns, row counts, physical layout) over the corpus
    catalog.

    Row counts and file layout come from the parquet FOOTERS
    (pyarrow.dataset driver-side metadata walk): exact and free — no
    Spark job, no scan, the same trick a catalog service uses. That is
    deliberate: at 100 TB a `count(*)` fleet-scan per table to answer
    a metadata question is the wrong plan; footer row-group counts are
    already exact. The result is a bounded (one row per table) local
    frame — catalog metadata, not data.
    """
    import pyarrow.dataset as pads

    rows = []
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        ds = pads.dataset(os.path.join(sf_dir, f"{name}.parquet"),
                          format="parquet")
        n_rows, n_files, n_bytes = 0, 0, 0
        for frag in ds.get_fragments():
            md = frag.metadata          # parquet footer
            n_rows += md.num_rows
            n_files += 1
            # size via the dataset's OWN filesystem (works for
            # hdfs/s3 URIs, not just local paths — r8 advice item)
            n_bytes += ds.filesystem.get_file_info(frag.path).size
        rows.append((
            name,
            len(df.columns),
            ", ".join(f"{f.name}:{f.dataType.simpleString()}"
                      for f in df.schema.fields),
            n_rows, n_files, n_bytes,
        ))
    schema = ("table_name string, n_columns int, columns string, "
              "row_count long, n_files int, total_bytes long")
    return spark.createDataFrame(sorted(rows), schema)
