import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from osmflat_rs_spark.fixtures import generate_docs, generate_polygons, docs_to_spark, polygons_to_spark
from osmflat_rs_spark.oracle import parse_docs_model
from osmflat_rs_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session", autouse=True)
def no_checkpoint_fallback():
    """Fail the run when ``fresh_local_checkpoint`` fell back to the plain
    checkpoint anywhere: its once-per-process warning is easy to miss in
    a long run, and the plain checkpoint's inherited statistics are what
    the rewrap exists to drop."""
    yield
    from osmflat_rs_spark.plans import checkpoint

    assert not checkpoint._fallback_warned, "fresh_local_checkpoint fell back to the plain localCheckpoint"


@pytest.fixture(scope="session")
def docs_pdf():
    pdf, _truth = generate_docs()
    return pdf


@pytest.fixture(scope="session")
def poly_pdf():
    return generate_polygons()


@pytest.fixture(scope="session")
def docs_df(spark, docs_pdf):
    return docs_to_spark(spark, docs_pdf).repartition(8).cache()


@pytest.fixture(scope="session")
def poly_df(spark, poly_pdf):
    return polygons_to_spark(spark, poly_pdf)


@pytest.fixture(scope="session")
def model(docs_pdf):
    """Pure-pandas model oracle tables."""
    return parse_docs_model(docs_pdf)


@pytest.fixture(scope="session")
def tables(spark, docs_df):
    """Engine-ingested columnar tables (cached)."""
    from osmflat_rs_spark.ingest import ingest

    t = ingest(docs_df)
    for k in ("nodes", "ways", "relations"):
        t[k] = t[k].cache()
        t[k].count()
    return t
