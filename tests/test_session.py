"""Session and process hygiene: conf pins restore the caller's state,
the driver heap fits the host, and working directories do not outlive
the process."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from flink_engagement_pipeline_spark.session import pinned_conf

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
UNSET_KEY = "spark.sql.streaming.checkpointFileManagerClass"  # no default


def test_pinned_conf_restores_the_callers_conf(spark):
    """An unset key is unset again (also when the body raises); a set
    key gets its value back."""
    spark.conf.unset(UNSET_KEY)
    with pinned_conf(spark, UNSET_KEY, "a"):
        assert spark.conf.get(UNSET_KEY) == "a"
    assert spark.conf.get(UNSET_KEY, None) is None
    with pytest.raises(RuntimeError, match="body"):
        with pinned_conf(spark, UNSET_KEY, "b"):
            raise RuntimeError("body")
    assert spark.conf.get(UNSET_KEY, None) is None

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    with pinned_conf(spark, key, "3"):
        assert spark.conf.get(key) == "3"
    assert spark.conf.get(key) == before


def test_driver_heap_fits_the_host(spark):
    host = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext.getConf().get("spark.driver.memory")
    assert jvm.org.apache.spark.util.Utils.byteStringAsBytes(conf) <= host
    assert jvm.java.lang.Runtime.getRuntime().maxMemory() <= host


def test_working_dirs_are_removed_at_exit(tmp_path):
    """Dirs made through tmpdirs share one per-process root, and the
    root is gone once that process exits (no Spark involved)."""
    code = (
        "import os\n"
        "from flink_engagement_pipeline_spark import tmpdirs\n"
        "a = tmpdirs.mkdtemp(prefix='a_')\n"
        "b = tmpdirs.mkdtemp(prefix='b_')\n"
        "assert os.path.dirname(a) == os.path.dirname(b)\n"
        "open(os.path.join(a, 'f'), 'w').close()\n"
        "print(os.path.dirname(a))\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp_path), PYTHONPATH=ROOT)
    out = subprocess.run(
        [sys.executable, "-c", code], env=env, capture_output=True, text=True, check=True
    )
    root = out.stdout.strip()
    assert os.path.dirname(root) == str(tmp_path)
    assert not os.path.exists(root)
    assert os.listdir(tmp_path) == []
