from __future__ import annotations

import sys
from pathlib import Path

import pytest

# the checkout this conftest sits in, not any other copy on the path
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from airflow_embeddings_pipeline_spark.session import get_spark

    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
