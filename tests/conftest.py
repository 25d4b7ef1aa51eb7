from __future__ import annotations

import glob
import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from rdfshape_api_spark.session import get_spark

    s = get_spark("tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def fixtures_001():
    from rdfshape_api_spark.fixtures import ensure_fixtures

    return ensure_fixtures("sf0.001")


@pytest.fixture(scope="session")
def triples_001(spark, fixtures_001):
    from rdfshape_api_spark.operators.canonicalize import canonicalize, dedup_triples
    from rdfshape_api_spark.sources.extract import extract_triples

    docs = spark.read.parquet(fixtures_001["docs"])
    t = dedup_triples(canonicalize(extract_triples(docs)), scope_doc=True).persist()
    t.count()
    return t


@pytest.fixture
def assert_one_file_per_layout_dir():
    """Check the canonical store's layout invariant: every
    ``pred_part=/bucket=`` directory holds exactly one parquet file."""

    def check(store_dir: str) -> None:
        dirs = glob.glob(os.path.join(store_dir, "pred_part=*", "bucket=*"))
        assert dirs, f"no layout directories under {store_dir}"
        counts = {d: len(glob.glob(os.path.join(d, "*.parquet"))) for d in dirs}
        assert set(counts.values()) == {1}, {d: n for d, n in counts.items() if n != 1}

    return check
