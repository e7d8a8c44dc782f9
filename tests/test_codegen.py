"""The cell kernels run as compiled code. HotSpot never JIT-compiles a
method of more than 8,000 bytes of bytecode (-XX:HugeMethodLimit), so a
generated method past it runs interpreted for the life of the JVM."""

import pytest

from extractors_geo_spark import datagen
from extractors_geo_spark.operators import pip_join
from tests.test_literal_tables import SF, E

HUGE_METHOD_LIMIT = 8000


def max_method_bytes(df) -> int:
    """The largest generated method, in bytes of bytecode, over the
    whole-stage codegen subtrees of `df`'s executed plan (run `df` first:
    then the plan is AQE's final one). Each subtree's compile is a cache
    hit that returns its ByteCodeStats, the figures
    CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE samples when the
    code is first compiled; that histogram is a decaying reservoir shared
    by every query in the JVM, so it is no per-plan record."""
    seq = df._jdf.queryExecution().debug().codegenToSeq()
    return max(seq.apply(i)._3().maxMethodCodeSize() for i in range(seq.size()))


def _pip_join_exact(spark, sf_dir):
    """pip_join's exact path (edge-list cover and ray-cast refine), which
    the jittered polygon layer takes and the `_RECTS` query does not."""
    return pip_join.pip_join(
        E._points(spark, sf_dir), datagen.polygons_df(spark), point_cols=("point_id",),
        poly_cols=("poly_id",), res=E.RES, exact=True,
    )


@pytest.mark.parametrize("name", ["cell_ops", "bbox_join", "pip_join", "pip_join_exact"])
def test_cell_kernel_methods_fit_the_jit_limit(spark, name):
    query = _pip_join_exact if name == "pip_join_exact" else E.queries()[name]
    df = query(spark, SF)
    df.collect()
    assert 0 < max_method_bytes(df) <= HUGE_METHOD_LIMIT
