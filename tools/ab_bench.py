"""Interleaved A/B micro-bench for optimization candidates.

Runs variant builders ALTERNATELY in one session (A, B, then B, A, ...)
through the noop sink, so ambient load inflates both arms equally —
the ROUND10 adjudication doctrine baked into the measurement itself.

Usage: python tools/ab_bench.py <experiment> [reps]   (reps default 6)
Experiments are registered in tools/ab_experiments.py's EXPERIMENTS
(today only ``bloom2``); each returns a dict of
{variant_name: builder(spark, sf_dir) -> DataFrame}.

Both arms share one session, so the tool compares plans, not session
settings: a static conf such as session.py's codegen cache size is
fixed when the JVM starts and is the same in both arms. A/B such a
conf at process level instead, by alternating
``enginebench/run.py`` runs of the two trees.
"""

from __future__ import annotations

import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


def run_ab(spark, sf_dir: str, variants: dict, reps: int = 6,
           warm: int = 2) -> None:
    """Counterbalanced interleaved A/B (r14): a null A/B (identical
    builders in both arms) exposed a large FIRST-POSITION penalty in
    a plain A,B,A,B pattern — the arm following a *different* heavy
    query read up to 36% slower than the same builder following
    itself (ngram null A/B: 4.63 vs 2.97 min-of-5). The cause was
    codegen cache thrash: at Spark's default of 100 compiled classes
    the other arm's plans evicted this arm's, which then recompiled.
    session.py's CODEGEN_CACHE_ENTRIES now holds both arms' classes,
    which removes that penalty. The alternation stays, against any
    other order effect: visiting the arms A,B then B,A per rep gives
    each the same position distribution, so a position penalty
    cancels in both min and median instead of landing entirely on
    whichever arm was listed first. The balance is exact only for an
    even ``reps``."""
    names = list(variants)
    for name in names:  # warm each: plan + JIT + page cache
        for _ in range(warm):
            variants[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
    samples: dict[str, list[float]] = {n: [] for n in names}
    for rep in range(reps):
        order = names if rep % 2 == 0 else list(reversed(names))
        for name in order:
            spark._jvm.System.gc()
            t0 = time.time()
            variants[name](spark, sf_dir).write.format("noop") \
                .mode("overwrite").save()
            samples[name].append(time.time() - t0)
    for name in names:
        s = sorted(samples[name])
        print(f"{name:40s} min={s[0]:.3f} med={statistics.median(s):.3f} "
              f"max={s[-1]:.3f}  all={[round(x, 3) for x in samples[name]]}")


def main() -> None:
    if "--selfcheck" in sys.argv[1:]:
        # Clean-shell import canary (r12 verdict item 2), no JVM.
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        import ab_experiments
        print(f"selfcheck OK: {len(ab_experiments.EXPERIMENTS)} "
              f"experiments registered")
        return
    from transcript_analysis_spark.session import get_spark

    exp = sys.argv[1]
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("ab-bench")
    spark.sparkContext.setLogLevel("ERROR")

    import ab_experiments
    variants = ab_experiments.EXPERIMENTS[exp](spark)
    run_ab(spark, sf_dir, variants, reps=reps)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    main()
