import os

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")
SF_DIR_ORACLE = "/root/testdata/sf0.01"

# Suite wall-clock tiering (r14, VERDICT r13 item 1): the full suite
# outgrew the round driver's pytest window (r13: ~31 min, verify record
# truncated at 97% with zero failures). The hypothesis model sweeps are
# the depth knob — each example is several Spark round trips, and the
# sweeps' full depth re-proves properties that have been green for
# rounds. Default = ~1/3 of each test's authored example budget
# (minimum 3 — every property still executes every code path each
# run); SPARK_GRAFT_EXHAUSTIVE=1 restores the authored depth for
# release certification / after touching the operators under sweep.
EXHAUSTIVE = os.environ.get("SPARK_GRAFT_EXHAUSTIVE", "") == "1"


def examples(n: int) -> int:
    """Hypothesis ``max_examples`` budget for a sweep authored at ``n``."""
    return n if EXHAUSTIVE else max(3, n // 3)


def build_spark(app: str = "kolang-spark-tests", shuffle_partitions: int = 8) -> SparkSession:
    return (
        SparkSession.builder.master("local[4]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


@pytest.fixture(scope="session")
def spark():
    s = build_spark()
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def jobs_started(spark, fn):
    """``(fn(), Spark jobs fn started)``, read from the DAG scheduler's
    job-id counter (exact; the status tracker can drop evicted jobs)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - j0
