from __future__ import annotations

import contextlib
import os
import tempfile

import pytest

from splade_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # vendored-jar hook: with $SPLADE_ICEBERG_JAR pointing at an
    # iceberg-spark-runtime jar, the session registers a hadoop catalog in
    # a temp warehouse and the Iceberg round-trip test runs instead of
    # self-skipping (get_spark adds the jar to spark.jars)
    warehouse = None
    jar = os.environ.get("SPLADE_ICEBERG_JAR")
    if jar and os.path.exists(jar):
        warehouse = tempfile.mkdtemp(prefix="splade_iceberg_wh_")
    s = get_spark(
        "splade_spark_tests",
        cores=4,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "8g"},
        iceberg_warehouse=warehouse,
    )
    yield s


@pytest.fixture(scope="session")
def tiny_transcripts(spark):
    from splade_spark.fixtures import transcripts

    return transcripts(spark, 100, partitions=4).cache()


@pytest.fixture(scope="session")
def tiny_documents(spark, tiny_transcripts):
    from splade_spark.documents import build_documents

    return build_documents(tiny_transcripts, partitions=4).cache()


@pytest.fixture
def arrow_batch_rows(spark):
    """``with arrow_batch_rows(n):`` runs its body with Arrow batches of n
    rows (None: the session default), restoring the conf afterwards.
    Tiny batches split (shard, term) groups across batches, which the
    tier-1 corpora never do at the default 65,536 rows."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"

    @contextlib.contextmanager
    def _rows(n):
        old = spark.conf.get(key)
        if n is not None:
            spark.conf.set(key, str(n))
        try:
            yield
        finally:
            spark.conf.set(key, old)

    return _rows
