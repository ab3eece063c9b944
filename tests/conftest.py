from __future__ import annotations

import pytest

from medacy_spark.session import get_spark

SF = "/root/testdata/sf0.001"
REF = "/root/reference/medacy/tests/sample_data"


@pytest.fixture(scope="session")
def spark():
    # a bounded heap: measured under G1, which expands toward its maximum
    # before collecting, the one long-lived test JVM outgrew a machine with
    # 16 GB of memory at the 16g default and was killed mid-suite (14.9 GB);
    # not re-measured at 16g on the parallel collector. At 6g on the
    # parallel collector with 1 MB Tungsten pages, the suite's process tree
    # peaked at 5.20 GB of summed Pss, the test JVM at 3.01 GB (16 MB
    # pages: 5.66 and 3.54 GB; 4-core host, sampled every 2 s)
    s = get_spark(
        app_name="medacy_spark_tests", cores=8, shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "6g"},
    )
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _session_conf_unchanged(request):
    """A test that uses the shared session leaves its conf as it found it:
    same keys set, same values."""
    if "spark" not in request.fixturenames:
        yield
        return
    spark = request.getfixturevalue("spark")
    before = dict(spark.conf.getAll)
    yield
    after = dict(spark.conf.getAll)
    changed = {
        k: (before.get(k), after.get(k))
        for k in before.keys() | after.keys()
        if before.get(k) != after.get(k)
    }
    if changed:
        pytest.fail(f"session conf changed (key: (before, after)): {changed}")


@pytest.fixture(scope="session")
def doc_ids(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select("doc_id").cache()


@pytest.fixture
def graph_sides(spark):
    """Both sides of ``graph._driver_side``'s choice, for tests of
    connected_components and pagerank. Iterating yields "driver" with the
    session's ``spark.sql.autoBroadcastJoinThreshold`` (rounds in numpy
    for a graph within ``graph._DRIVER_MAX_EDGES``) and then "spark" with
    it at -1 (the Spark rounds); the session's value is restored after
    the test."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)

    def sides():
        for side, value in (("driver", old), ("spark", "-1")):
            spark.conf.set(key, value)
            yield side

    yield sides()
    spark.conf.set(key, old)
