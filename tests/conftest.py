from __future__ import annotations

import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "8")

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from amante_s_supabase_full_cloud_etl_pipeline_spark.session import get_spark

    spark = get_spark("amante-tests")
    # Force multi-partition shuffles even on tiny data so any
    # order-dependence in aggregation would surface in tests.
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def global_serving_views(spark, sf_dir) -> list[str]:
    """Every registry view registered once per session as global temp
    views (the view-surface, Thrift and Connect serving tests all read
    them); returns the qualified view names."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.serve import (
        create_serving_views,
    )

    return create_serving_views(spark, sf_dir)
