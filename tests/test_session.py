"""Session defaults that only show across repeated queries in one JVM."""

from __future__ import annotations

from pyspark.sql import functions as F

from hdp2_5_hive2_spark.queries import REGISTRY

from .conftest import SF_CORRECT

# perfbench's sql_mix op list: one pass generates more classes than Spark's
# default codegen cache (100 entries) holds
_OPS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q9_product_profit",
    "q18_large_volume_customer",
    "groupby_cube",
    "join_left_anti",
    "window_topn_per_group",
    "events_sessionize",
    "matchpath_price_runs",
)


def _compiles(spark) -> int:
    """Janino compiles in this JVM so far (one histogram update each)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _clear_codegen_cache(spark) -> None:
    """Empty Spark's compiled-class cache, so the next pass compiles its
    whole working set whatever ran earlier in this JVM."""
    spark.range(2).selectExpr("id * 2").collect()  # CodeGenerator is loaded
    jvm = spark._jvm
    module = jvm.java.lang.Class.forName(
        "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator$"
    )
    field = module.getDeclaredField("cache")
    field.setAccessible(True)
    field.get(module.getField("MODULE$").get(None)).invalidateAll()


def _pass(spark) -> tuple[int, list[tuple]]:
    """(compiles, per-op checksums) of one pass over _OPS; the checksum is
    an aggregate over every column, as perfbench's action is."""
    before = _compiles(spark)
    sums = []
    for name in _OPS:
        df = REGISTRY[name].fn(spark, SF_CORRECT)
        h = F.xxhash64(*[F.col(f"`{c}`") for c in sorted(df.columns)])
        row = df.agg(
            F.count(F.lit(1)),
            F.sum(h.bitwiseAND(0xFFFFFFFF)),
            F.sum(F.shiftrightunsigned(h, 32)),
        ).first()
        sums.append(tuple(row))
    return _compiles(spark) - before, sums


def test_warm_pass_compiles_no_class(spark):
    """get_session sizes the codegen cache to the engine's working set: a
    repeated pass finds every generated class compiled, where the default
    100-entry LRU cache evicts each class before the cycle comes back."""
    _clear_codegen_cache(spark)
    cold, first = _pass(spark)
    warm, second = _pass(spark)
    assert cold > 100, f"the op list compiled only {cold} classes"
    assert warm == 0
    assert second == first
