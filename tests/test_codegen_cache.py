"""Generated code stays compiled for the whole session.

Spark caches the classes Janino compiles for whole-stage codegen,
projections, predicates and orderings in an LRU keyed by the generated
source (`spark.sql.codegen.cache.maxEntries`, default 100). The 17 bench
queries alone need ~224 classes, so at the default every query evicted
what the next one needed and a warm lap recompiled ~214 classes.
`session.get_spark` sizes the cache to the whole registry; this test
fails if the bound drops back below the registry's working set or if a
warm pass over the bench queries starts recompiling again.
"""

from streamprocessing_with_kafka_spark.functions.lineage import drain_ephemeral_checkpoints
from streamprocessing_with_kafka_spark.plans.registry import registry

#: distinct classes one lap of all registered queries compiles into an
#: empty cache (2,317 at sf0.001, 2,321 at sf0.01; 4 cores).
REGISTRY_CODEGEN_CLASSES = 2321

#: a warm pass over the bench queries recompiles only the plan variants
#: AQE picks at run time (join_market_share: 0-4 classes a pass).
MAX_WARM_PASS_COMPILES = 20


def _compiles(spark) -> int:
    return spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _bench_pass(spark, sf_dir) -> None:
    for _, q in sorted(registry().items()):
        if q.bench:
            q.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            drain_ephemeral_checkpoints()


def test_cache_bound_covers_the_registry_working_set(spark):
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= REGISTRY_CODEGEN_CLASSES


def test_warm_bench_pass_reuses_compiled_classes(spark, sf_dir):
    _bench_pass(spark, sf_dir)
    before = _compiles(spark)
    _bench_pass(spark, sf_dir)
    compiled = _compiles(spark) - before
    assert compiled <= MAX_WARM_PASS_COMPILES, (
        f"a warm pass over the bench queries compiled {compiled} classes; "
        "the codegen class cache is evicting classes the next query needs"
    )
