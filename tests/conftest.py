"""Shared Spark session + fixture tables for the test suite.

One session for the whole run (JVM startup ~15 s); small deterministic
tables per FIXTURES.md. `python -m pytest -x -q` is the mandated gate
(BASELINE.json input_hint).
"""

from __future__ import annotations

import pytest

from canned_yaml_spark import fixtures
from canned_yaml_spark.session import get_spark

N_SMALL = 2000


def run_available_now(writer, timeout: float = 120) -> None:
    """Start `writer` with Trigger.AvailableNow, require the query to
    finish within `timeout` s, and stop it in any case, so that no
    stream query outlives its test."""
    q = writer.trigger(availableNow=True).start()
    try:
        assert q.awaitTermination(timeout), (
            f"stream query still active after {timeout} s")
    finally:
        q.stop()


@pytest.fixture(scope="session")
def spark():
    s = get_spark("canned_yaml_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def clips(spark):
    df = fixtures.clips_df(spark, N_SMALL).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def clips_clean(spark):
    df = fixtures.clips_df(spark, N_SMALL, inject=False,
                           max_samples=64).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def clips_ref(spark):
    df = fixtures.clips_ref_df(spark, N_SMALL).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def codec_dim(spark):
    return fixtures.codec_dim_df(spark)


@pytest.fixture(scope="session")
def suite(spark, clips):
    from canned_yaml_spark import compile_spec
    return compile_spec("specs/clips.spec.yaml", clips.schema)


@pytest.fixture(scope="session")
def golden():
    return fixtures.golden_rule_counts(N_SMALL)


@pytest.fixture
def bucketed(spark, tmp_path):
    """Factory for real clip_id-bucketed tables under tmp_path:
    ``bucketed(df, name, files_per_bucket=1)`` (fixtures.bucketed_table).
    AQE and automatic broadcast are off so executed plans are final and
    reflect only the engine's own choices. Tables are dropped and confs
    restored after.
    """
    confs = {"spark.sql.adaptive.enabled": "false",
             "spark.sql.autoBroadcastJoinThreshold": "-1"}
    saved = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    names = []

    def make(df, name, files_per_bucket=1):
        names.append(name)
        return fixtures.bucketed_table(spark, df, name, str(tmp_path / name),
                                       files_per_bucket)

    yield make
    for name in names:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    for k, v in saved.items():
        spark.conf.set(k, v)
