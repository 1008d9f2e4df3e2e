import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pidb_rdf_spark.session import get_spark

    # codegen off for the TEST session only: the suite runs
    # thousands of tiny jobs whose Janino stage-compile time dwarfs
    # interpreting KB-sized test data (the same measurement behind
    # _LOOP_CODEGEN_OFF_MAX_ROWS: ~1.3 s of a 4.7 s loop was codegen
    # compile). Semantics are engine-config-independent — every
    # assertion is on values or plan OPERATORS, never codegen nodes —
    # and bench.py/production sessions keep codegen on. Cores and
    # shuffle partitions follow SPARK_GRAFT_CPUS (session.get_spark).
    s = get_spark(
        "pidb-rdf-spark-tests",
        extra_conf={"spark.sql.codegen.wholeStage": "false"},
    )
    yield s


@pytest.fixture(scope="session")
def graph(spark):
    from pidb_rdf_spark.graph import graphify

    g = graphify(spark, SF_DIR)
    g.nodes = g.nodes.cache()
    g.edges = g.edges.cache()
    return g
