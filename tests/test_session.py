"""Session hygiene: a Spark call hands the session back as it found it,
whether it succeeds or raises, and leaves no temp files behind."""

import glob
import os
import tempfile

import pytest

CONF_KEYS = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")


def test_pagerank_restores_conf_when_loop_raises(spark, monkeypatch):
    """pagerank runs its cycles under its own shuffle-partition and AQE
    settings; a failure inside the loop must still restore them."""
    from hadoopsearchengine_spark.operators.pagerank import pagerank

    doc_ids = spark.createDataFrame([(d,) for d in (1, 2, 3)],
                                    "doc_id long")
    links = spark.createDataFrame([(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0)],
                                  "src long, dst long, weight double")
    before = {key: spark.conf.get(key) for key in CONF_KEYS}
    frame = type(links)  # the session's concrete DataFrame class
    real = frame.localCheckpoint
    calls = []

    def failing(self, *args, **kwargs):
        # the first cycle's checkpoint passes, the second one fails
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected failure")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(frame, "localCheckpoint", failing)
    with pytest.raises(RuntimeError, match="injected failure"):
        pagerank(links, 3, doc_ids, iterations=3)
    assert {key: spark.conf.get(key) for key in CONF_KEYS} == before
    # the loop really ran under other settings: one partition for 3 edges
    assert before["spark.sql.shuffle.partitions"] != "1"


def test_get_spark_leaves_no_pools_file(spark):
    """Spark reads the FAIR allocation file only while it creates the
    SparkContext, so get_spark deletes it afterwards; the pools it defines
    must still be there."""
    from hadoopsearchengine_spark.session import get_spark

    pattern = os.path.join(tempfile.gettempdir(), "sfe_fair_pools_*")
    before = set(glob.glob(pattern))
    assert get_spark("pytest", cores=8, shuffle_partitions=8) is spark
    assert set(glob.glob(pattern)) <= before
    pool = spark.sparkContext._jsc.sc().getPoolForName("latency")
    assert pool.isDefined() and pool.get().weight() == 100
