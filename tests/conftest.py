from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from google_spark.session import get_spark

    # The test tables are a few hundred rows: 8 shuffle partitions (twice
    # the usual 4 cores) instead of the engine's 32 cuts the per-task cost
    # that dominates every shuffle at this size.
    s = get_spark(app="google_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    from google_spark.corpus import generate_source_files

    return generate_source_files(n_files=300, seed=42)


@pytest.fixture(scope="session")
def corpus_df(spark, corpus_pdf):
    return spark.createDataFrame(corpus_pdf).repartition(8)
