"""Session-level invariants of :func:`get_session`: the codegen cache is
bounded by the registry's traffic, so re-running queries in one
long-lived session compiles nothing new."""

from pyspark.sql import functions as F

from multi_sensor_data_pipeline_for_robotics__spark.session import (
    CODEGEN_CACHE_MAX_ENTRIES,
    codegen_compiles,
)

# more distinct plan shapes than Spark's default cache bound of 100
N_SHAPES = 120
_OPS = (lambda a, b: a + b, lambda a, b: a * b, lambda a, b: a - b)


def _shape(spark, k: int):
    """The k-th of 3^5 operator chains over ``id``: each k yields a
    structurally distinct generated class. No literals, since the
    generated source inlines them and a changed literal would be a new
    class too."""
    e = F.col("id")
    for _ in range(5):
        e = _OPS[k % 3](e, F.col("id"))
        k //= 3
    return spark.range(4, numPartitions=1).select(e.alias("v"))


def test_codegen_cache_bound_pinned(spark):
    assert CODEGEN_CACHE_MAX_ENTRIES == 8192
    conf = spark._jsparkSession.sessionState().conf()
    assert conf.codegenCacheMaxEntries() == CODEGEN_CACHE_MAX_ENTRIES


def test_rerun_compiles_nothing(spark):
    def run_all():
        for k in range(N_SHAPES):
            assert len(_shape(spark, k).collect()) == 4

    c0 = codegen_compiles(spark)
    run_all()
    c1 = codegen_compiles(spark)
    run_all()
    c2 = codegen_compiles(spark)
    # the first run must overflow the default bound, or the second
    # run would hit the cache at any bound and prove nothing
    assert c1 - c0 > 100
    assert c2 - c1 == 0
