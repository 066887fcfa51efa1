"""The three benchmark workloads, driven through the engine's public
entry points: the ``plans`` registry's query functions,
``serving.dashboard.DashboardService`` and ``streaming.pipeline``.

Each workload sets up (untimed warm-up included), runs its timed
phase for the requested seconds, then checks its outputs. Every call
into a layer is wrapped in a span; when tracing, the span's tag
is recorded on the calling thread so the Spark event log attributes
the jobs it runs to it.
"""

from __future__ import annotations

import itertools
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import reduce
from pathlib import Path

import numpy as np

from eventlog import SPAN_PROPERTY
from oracle import Oracle, canonical, check_lsh_pairs
import gen

# corpus_batch: the documents/embeddings headline queries that fit the
# run budget at 4 cores (see README.md for the ones left out).
CORPUS_QUERIES = (
    "mllib_lsh_similar_pairs",
    "corpus_release_prep",
    "minhash_lsh_candidate_pairs",
    "gopher_quality_flags",
    "training_data_prep",
)
LSH_QUERY = "mllib_lsh_similar_pairs"

# corpus_batch and stream_ingest time a fixed number of operations,
# as many as fit in --seconds at these nominal durations (4 cores).
# Pass times keep falling for several passes as the JVM warms, so a
# count that followed the measured speed would move the median with
# the machine's speed; a fixed count compares the same passes.
CORPUS_PASS_S = 5.0
STREAM_BATCH_S = 12.0
# The untimed warm-up calls of corpus_batch and dashboard_mixed run
# this many at a time, which keeps set-up, and so each run, short:
# the gate's 70 runs must fit in 3,420 s.
WARMUP_THREADS = 4

# dashboard_mixed: the reference dashboard's queries, most popular
# first. Requests come in blocks of ZIPF_BLOCK holding rank r in
# proportion to 1 / r**ZIPF_S, each block shuffled by ORDER_SEED. The
# run's seed sets the data, not the order: the order sets the cache
# hits, and with about 100 requests the hit count that a seeded order
# gave moved the median between the latencies of neighbouring
# queries, by up to 20% between seeds.
DASHBOARD_QUERIES = (
    "corpus_counts", "status_histogram", "scoring_progress",
    "nation_dashboard", "pricing_summary", "revenue_rollup_hierarchy",
    "events_json_rollup", "sales_rollup_cube", "brand_revenue",
    "sql_frontend_revenue_by_region", "hll_distinct_profile",
    "tumbling_hourly_event_stats",
)
ZIPF_S = 1.0
ZIPF_BLOCK = 40
ORDER_SEED = 0
CLIENTS = 2
TIMEOUT_S = 15.0            # the reference dashboard's statement timeout
# The service's clock is virtual: request i is served at time i, so a
# cached answer lives for TTL_REQUESTS requests and the hit pattern is
# set by the order (a quarter to a third of requests hit).
TTL_REQUESTS = 6.0


@dataclass
class Span:
    layer: str
    name: str
    phase: str              # setup | warmup | timed | check
    tag: str | None         # SPAN_PROPERTY of its Spark jobs, when tracing
    start: float            # epoch seconds
    seconds: float
    attrs: dict


class Tracer:
    """Records a span around each call into a layer and, when
    tracing, tags the Spark jobs the call runs with the span's own
    local property. Unlike the job group, which DashboardService
    replaces with its own, nothing in the engine overwrites it."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[Span] = []
        self.sc = None
        self._ids = itertools.count()

    @contextmanager
    def span(self, layer: str, name: str, phase: str, **attrs):
        tag = None
        if self.traced and self.sc is not None:
            tag = f"{phase}:{layer}:{name}:{next(self._ids)}"
            self.sc.setLocalProperty(SPAN_PROPERTY, tag)
        start, t0 = time.time(), time.perf_counter()
        try:
            yield attrs
        finally:
            self.spans.append(Span(layer, name, phase, tag, start,
                                   time.perf_counter() - t0, attrs))
            if tag is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, None)

    def timed(self) -> list[Span]:
        return [s for s in self.spans if s.phase == "timed"]


@dataclass
class Context:
    spark: object
    data: Path              # generated inputs
    work: Path              # scratch space for stores
    seconds: float
    tracer: Tracer


@dataclass
class Result:
    latencies: list[float]  # seconds per timed operation
    items: int              # queries, requests or documents completed
    window: tuple[float, float]   # timed phase, perf_counter seconds
    attempted: int
    problems: list[str] = field(default_factory=list)
    extra: dict = field(default_factory=dict)


def corpus_batch(ctx: Context) -> Result:
    """One closed-loop client running the corpus queries in sequence
    through the ``noop`` sink. The untimed warm-up pass collects every
    answer for the checks."""
    from transcript_analysis_spark.plans import all_queries
    queries, tr = all_queries(), ctx.tracer

    def collect(name: str) -> tuple[list, list]:
        df = queries[name].fn(ctx.spark, str(ctx.data))
        return df.columns, df.collect()

    answers = warm_up(tr, "plans", CORPUS_QUERIES, collect)

    passes, start = [], time.perf_counter()
    for _ in range(op_count(ctx.seconds, CORPUS_PASS_S)):
        p0 = time.perf_counter()
        for name in CORPUS_QUERIES:
            with tr.span("plans", name, "timed") as a:
                b0 = time.perf_counter()
                df = queries[name].fn(ctx.spark, str(ctx.data))
                a["build_s"] = time.perf_counter() - b0
                df.write.format("noop").mode("overwrite").save()
        passes.append(time.perf_counter() - p0)
    window = (start, time.perf_counter())

    oracle, problems = Oracle(ctx.data), []
    try:
        for name, (cols, rows) in answers.items():
            if name == LSH_QUERY:
                bad = check_lsh_pairs(cols, rows,
                                      ctx.data / "embeddings.parquet")
            elif canonical(cols, rows) != oracle.expected(
                    queries[name].oracle):
                bad = "differs from its DuckDB oracle"
            else:
                bad = None
            if bad:
                problems.append(f"{name}: {bad}")
    finally:
        oracle.close()
    return Result(passes, len(passes) * len(CORPUS_QUERIES), window,
                  attempted=len(answers) + len(passes) * len(CORPUS_QUERIES),
                  problems=problems,
                  extra={"wall_s": float(np.median(passes))})


def warm_up(tr: Tracer, layer: str, names, call) -> dict:
    """``call(name)`` once per name, in a warm-up span each, on
    WARMUP_THREADS threads: {name: result}."""
    def one(name: str):
        with tr.span(layer, name, "warmup"):
            return name, call(name)

    with ThreadPoolExecutor(WARMUP_THREADS) as pool:
        return dict(pool.map(one, names))


def op_count(seconds: float, nominal_s: float) -> int:
    """Operations of ``nominal_s`` seconds that fill ``seconds``."""
    return max(1, round(seconds / nominal_s))


def dashboard_mixed(ctx: Context) -> Result:
    """A closed loop of CLIENTS threads calling DashboardService.run
    with a statement timeout, over Zipf-skewed query names."""
    from transcript_analysis_spark.plans import all_queries
    from transcript_analysis_spark.serving.dashboard import (
        DashboardService, QueryTimeout)
    queries, tr = all_queries(), ctx.tracer
    local = threading.local()
    svc = DashboardService(ctx.spark, str(ctx.data), ttl_sec=TTL_REQUESTS,
                           clock=lambda: local.now)
    restore = _time_query_builds(queries, local) if tr.traced else {}
    responses: list[tuple[str, list]] = []
    try:
        def request(name: str) -> list:
            local.now = -10 * TTL_REQUESTS
            return svc.run(name, timeout_sec=TIMEOUT_S)[0]

        responses += warm_up(tr, "serving", DASHBOARD_QUERIES,
                             request).items()
        svc.invalidate()

        rng = np.random.default_rng(ORDER_SEED)
        block = zipf_block(len(DASHBOARD_QUERIES))
        draws = np.concatenate([rng.permutation(block)
                                for _ in range(1000)])
        counter, lock = itertools.count(), threading.Lock()
        start = time.perf_counter()
        deadline = start + ctx.seconds

        def client() -> None:
            while True:
                with lock:
                    if time.perf_counter() >= deadline:
                        return
                    i = next(counter)
                name = DASHBOARD_QUERIES[draws[i]]
                local.now, local.build_s = float(i), 0.0
                with tr.span("serving", name, "timed") as a:
                    try:
                        rows, a["hit"] = svc.run(name,
                                                 timeout_sec=TIMEOUT_S)
                    except QueryTimeout:
                        a["timeout"] = True
                        continue
                    finally:
                        a["build_s"] = local.build_s
                responses.append((name, rows))

        with ThreadPoolExecutor(CLIENTS) as pool:
            for fut in [pool.submit(client) for _ in range(CLIENTS)]:
                fut.result()
        window = (start, time.perf_counter())
    finally:
        for name, fn in restore.items():
            queries[name].fn = fn

    timed = tr.timed()
    oracle, problems, seen = Oracle(ctx.data), [], {}
    try:
        for name, rows in responses:
            key = id(rows)          # cache hits return the same list
            if key not in seen:
                want = oracle.expected(queries[name].oracle)
                seen[key] = (canonical(rows[0].__fields__, rows) == want
                             if rows else len(want) == 1)
            if not seen[key]:
                problems.append(f"{name}: differs from its DuckDB oracle")
    finally:
        oracle.close()
    problems += [f"{s.name}: timed out after {TIMEOUT_S} s"
                 for s in timed if s.attrs.get("timeout")]
    done = [s for s in timed if not s.attrs.get("timeout")]
    return Result([s.seconds for s in timed], len(done), window,
                  attempted=len(DASHBOARD_QUERIES) + len(timed),
                  problems=problems)


def zipf_block(n: int) -> np.ndarray:
    """ZIPF_BLOCK ranks in 0..n-1, rank r about ZIPF_BLOCK / r**ZIPF_S
    times (largest-remainder rounding), every rank at least once."""
    w = np.arange(1, n + 1) ** -ZIPF_S
    share = ZIPF_BLOCK * w / w.sum()
    counts = np.maximum(np.floor(share).astype(int), 1)
    for r in np.argsort(counts - share)[:ZIPF_BLOCK - counts.sum()]:
        counts[r] += 1
    return np.repeat(np.arange(n), counts)


def _time_query_builds(queries, local) -> dict:
    """Wrap the dashboard queries' functions so each request records
    the time spent building its plan (tracing only). Returns the
    originals to restore."""
    restore = {}
    for name in DASHBOARD_QUERIES:
        q = queries[name]
        restore[name] = fn = q.fn

        def timed_fn(spark, sf_dir, _fn=fn):
            t0 = time.perf_counter()
            try:
                return _fn(spark, sf_dir)
            finally:
                local.build_s = time.perf_counter() - t0
        q.fn = timed_fn
    return restore


def stream_ingest(ctx: Context) -> Result:
    """One client feeding seeded, out-of-order micro-batches through
    ``foreach_batch_corpus_pipeline``. Set-up freezes the model stores
    and runs a small untimed warm-up batch, so JIT, code generation
    and first writes stay out of the timed micro-batches."""
    from pyspark.sql import DataFrame
    from transcript_analysis_spark.sources.tables import load_table
    from transcript_analysis_spark.streaming import pipeline as pl
    spark, tr = ctx.spark, ctx.tracer
    data, stream = str(ctx.data), str(ctx.data / "stream")
    root = ctx.work / "stores"
    stores = pl.PipelineStores.under(str(root))
    emb_path = str(ctx.data / "embeddings.parquet")
    with tr.span("streaming", "init", "setup"):
        pl.init_pipeline_stores(spark, stores,
                                load_table(spark, stream, "eval_docs"),
                                load_table(spark, data, "documents"),
                                load_table(spark, data, "embeddings"))
    names = ["warmup"] + gen.stream_batches(ctx.data)

    def run_batch(i: int, phase: str) -> None:
        with tr.span("streaming", names[i], phase) as a:
            report = pl.foreach_batch_corpus_pipeline(
                load_table(spark, stream, names[i]), i, stores, emb_path)
        a.update(docs=report["in"], kept=report["kept"])

    run_batch(0, "warmup")
    before = parquet_files(root)
    start = time.perf_counter()
    n_arrived = 1 + min(op_count(ctx.seconds, STREAM_BATCH_S),
                        len(names) - 1)
    for b in range(1, n_arrived):
        run_batch(b, "timed")
    window = (start, time.perf_counter())
    after = parquet_files(root)

    with tr.span("streaming", "check", "check"):
        arrived = reduce(DataFrame.unionByName,
                         (load_table(spark, stream, n)
                          for n in names[:n_arrived]))
        composite = {r.doc_id for r in pl.batch_composite_kept(
            arrived, spark.read.parquet(stores.bloom_dir),
            spark.read.parquet(stores.dsir_weights_dir)).collect()}
        final = {r.doc_id for r in pl.read_kept_final(
            spark, stores.kept_dir, stores.tombstones_dir).collect()}
    problems = [] if final == composite else [
        f"read_kept_final has {len(final)} docs, batch_composite_kept "
        f"{len(composite)} ({len(final ^ composite)} differ)"]

    timed = tr.timed()
    input_bytes = sum((ctx.data / "stream" / f"{names[b]}.parquet")
                      .stat().st_size for b in range(1, n_arrived))
    written = {p: n for p, n in after.items() if before.get(p) != n}
    per_store: dict[str, list[int]] = {}
    for p, n in written.items():
        acc = per_store.setdefault(p.relative_to(root).parts[0], [0, 0])
        acc[0] += n
        acc[1] += 1
    return Result([s.seconds for s in timed],
                  sum(s.attrs["docs"] for s in timed), window,
                  attempted=len(timed), problems=problems,
                  extra={"write_bytes_per_input_byte":
                         sum(written.values()) / input_bytes,
                         "files_per_batch": len(written) / len(timed),
                         "kept_ratio": sum(s.attrs["kept"] for s in timed)
                         / sum(s.attrs["docs"] for s in timed),
                         "store_writes": {k: (b / len(timed), f / len(timed))
                                          for k, (b, f) in per_store.items()}})


def parquet_files(root: Path) -> dict[Path, int]:
    """Size of every parquet file under ``root``."""
    return {p: p.stat().st_size for p in root.rglob("*.parquet")}


WORKLOADS = {"corpus_batch": corpus_batch,
             "dashboard_mixed": dashboard_mixed,
             "stream_ingest": stream_ingest}
