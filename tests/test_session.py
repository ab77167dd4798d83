"""One definition of the job's Spark settings (session.JOB_CONF): the
test and benchmark sessions run them, and the spark-submit CLI's
session takes each one its driver was not launched with."""

from __future__ import annotations

from types import SimpleNamespace

from pyspark import SparkConf

from webextract.session import JOB_CONF, job_session


def test_test_session_runs_the_job_settings(spark):
    for k, v in JOB_CONF.items():
        assert spark.conf.get(k) == v, k


def test_job_session_fills_only_what_the_driver_lacks():
    """A setting given to spark-submit (``--conf``) stays; every other
    job setting is set on the session."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    launched = SparkConf(loadDefaults=False).set(key, "512")
    set_ = {}
    driver = SimpleNamespace(
        sparkContext=SimpleNamespace(getConf=lambda: launched),
        conf=SimpleNamespace(set=set_.__setitem__))
    assert job_session(driver) is driver
    assert set_ == {k: v for k, v in JOB_CONF.items() if k != key}
