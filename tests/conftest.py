from __future__ import annotations

import os
import sys

import pytest

os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
os.environ.setdefault("PYSPARK_DRIVER_PYTHON", sys.executable)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("search-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_corpus_pd():
    """FIXTURES.md `tiny` scale: 20 convs / ~140 turns."""
    from search_spark.corpus import generate_pandas

    return generate_pandas(20)


@pytest.fixture(scope="session")
def small_corpus_pd():
    """A mid-size corpus for rank-identity tests (~200 convs)."""
    from search_spark.corpus import generate_pandas

    return generate_pandas(200)


@pytest.fixture
def verify_paths(monkeypatch):
    """Iterate the two positional-verify paths of operators/phrase.py.

    ``for path in verify_paths(): ...`` runs the loop body once with
    ``DENSE_SKIP_FRAC`` = 0.0 (every query verifies over the flat corpus
    scan) and once with 1.01 (every query takes candidates from the index
    first).  The fixture corpora's terms all have df above the default
    0.5, so without this only the flat path is ever reached."""
    import search_spark.operators.phrase as ph

    def paths():
        for path, frac in (("flat", 0.0), ("candidate", 1.01)):
            with monkeypatch.context() as m:
                m.setattr(ph, "DENSE_SKIP_FRAC", frac)
                yield path

    return paths
