"""Session-level settings, checked against JVM counters.

The compiled-class cache must hold the corpus queries' working set of
generated classes: repeated passes over the same plans then find their
classes cached instead of recompiling them. CodegenMetrics counts every
Janino compile, so the gate is a counter, free of timing noise.
"""

from __future__ import annotations

import sys
from pathlib import Path

from tests.conftest import SF_SMOKE
from transcript_analysis_spark.plans import all_queries
from transcript_analysis_spark.session import CODEGEN_CACHE_ENTRIES

# The benchmark's modules import each other by plain name.
sys.path.append(str(Path(__file__).resolve().parents[1] / "enginebench"))
from workloads import CORPUS_QUERIES  # noqa: E402


def _codegen_cache(spark):
    """Spark's compiled-class cache (CodeGenerator.cache), which has no
    public accessor."""
    cls = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$")
    field = cls.getDeclaredField("cache")
    field.setAccessible(True)
    return field.get(None)


def test_codegen_cache_size_is_the_session_constant(spark):
    assert (spark.conf.get("spark.sql.codegen.cache.maxEntries")
            == str(CODEGEN_CACHE_ENTRIES))


def test_corpus_passes_reuse_compiled_classes(spark):
    """Three alternating passes of the corpus_batch queries from an
    empty class cache: the third compiles under a quarter of the
    classes the first did. At Spark's default of 100 entries each pass
    evicts what the next needs and recompiles most of them."""
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    queries = all_queries()
    # Earlier tests may have cached some of these classes; start cold
    # so the first pass compiles the whole working set.
    _codegen_cache(spark).invalidateAll()
    per_pass = []
    for _ in range(3):
        before = compiles.getCount()
        for name in CORPUS_QUERIES:
            queries[name].fn(spark, SF_SMOKE).write.format("noop") \
                .mode("overwrite").save()
        per_pass.append(compiles.getCount() - before)
    assert per_pass[2] < per_pass[0] / 4, (
        f"compiles per pass {per_pass}: the third pass recompiled more "
        f"than a quarter of the first pass's classes")
