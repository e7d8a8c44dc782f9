import numpy as np
import pytest

from extractors_geo_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _empty_plan_cache():
    """Each test builds the driver queries it calls afresh: one that
    monkeypatches a query's inputs never gets an earlier test's plan."""
    from extractors_geo_spark import exprcache

    exprcache._PLANS.clear()


@pytest.fixture(scope="session")
def images_small(spark):
    from extractors_geo_spark import datagen

    return datagen.images_df(spark, 400, px=16, partitions=8).cache()


@pytest.fixture(scope="session")
def polygons(spark):
    from extractors_geo_spark import datagen

    return datagen.polygons_df(spark).cache()


def psnr(a: np.ndarray, b: np.ndarray, peak: float | None = None) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    mse = float(((a - b) ** 2).mean())
    if mse == 0:
        return float("inf")
    peak = peak if peak is not None else max(float(a.max() - a.min()), 1e-12)
    return 10.0 * np.log10(peak * peak / mse)
