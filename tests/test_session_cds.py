"""``session.get_spark``: the driver class-data archive and the codegen cache.

The archive cases run ``get_spark`` in child processes with their own
``XDG_CACHE_HOME``, so they never touch the machine's archive; together
they start two JVMs."""

import json
import os
import subprocess
import sys

from pyspark.find_spark_home import _find_spark_home

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SESSION = f"""
import sys
sys.path.insert(0, {ROOT!r})
from seq2kg_spark.session import get_spark
spark = get_spark("cds-test", cpus=2, shuffle_partitions=2)
conf = spark.sparkContext.getConf()
print("RESULT", spark.range(1000).selectExpr("sum(id)").first()[0])
print("OPTS", conf.get("spark.driver.defaultJavaOptions", ""))
"""

# get_spark up to the JVM launch: the builder's options and the env it
# would launch with
NO_LAUNCH = f"""
import json, os, sys
sys.path.insert(0, {ROOT!r})
from pyspark.sql import SparkSession
from seq2kg_spark.session import get_spark

class Launch(Exception):
    pass

def capture(builder):
    raise Launch(dict(builder._options))

SparkSession.Builder.getOrCreate = capture
out = []
for conf_dir in (None, sys.argv[1]):
    if conf_dir:
        os.environ["SPARK_CONF_DIR"] = conf_dir
    try:
        get_spark("cds-test", cpus=1)
    except Launch as e:
        out.append({{"SPARK_CONF_DIR": os.environ.get("SPARK_CONF_DIR"),
                     "opts": e.args[0].get("spark.driver.defaultJavaOptions")}})
print(json.dumps(out))
"""


def _child(code: str, cache, *args, env=None) -> str:
    env = {**os.environ, **(env or {}), "XDG_CACHE_HOME": str(cache),
           "SPARK_DRIVER_MEM": "1g"}
    # the test session's own get_spark set it for this process
    env.pop("SPARK_CONF_DIR", None)
    proc = subprocess.run([sys.executable, "-c", code, *args], env=env,
                          capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout


def test_archive_recorded_at_exit_then_unusable_archive_falls_back(tmp_path):
    cds = tmp_path / "seq2kg_spark" / "cds"
    cds.mkdir(parents=True)
    # a recorder that died mid-write (pid above any pid_max) is cleaned up
    (cds / "old.jsa.999999999.tmp").write_bytes(b"x")

    out = _child(SESSION, tmp_path)
    assert "RESULT 499500" in out
    assert "-XX:ArchiveClassesAtExit=" in out
    archives = sorted(p.name for p in cds.iterdir() if p.is_file())
    assert len(archives) == 1 and archives[0].endswith(".jsa"), archives
    assert (cds / archives[0]).stat().st_size > 0
    assert "[cds" not in out

    # a damaged archive: the JVM starts without it, the query is right
    (cds / archives[0]).write_bytes(b"not a class-data archive" * 100)
    out = _child(SESSION, tmp_path)
    assert "RESULT 499500" in out
    assert f"-XX:SharedArchiveFile={cds / archives[0]}" in out
    assert "[cds" not in out


def test_configured_spark_conf_dir_skips_archive(tmp_path):
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf").write_text("# user settings\n")
    (home / "conf" / "log4j2.properties.template").write_text("")
    os.symlink(os.path.join(_find_spark_home(), "jars"), home / "jars")
    user_conf = tmp_path / "user-conf"
    user_conf.mkdir()
    out = _child(NO_LAUNCH, tmp_path / "cache", str(user_conf),
                 env={"SPARK_HOME": str(home)})
    assert json.loads(out) == [
        {"SPARK_CONF_DIR": None, "opts": None},
        {"SPARK_CONF_DIR": str(user_conf), "opts": None},
    ]
    assert not (tmp_path / "cache").exists()


def test_codegen_cache_holds_a_warm_query(spark):
    """A query of ~120 generated classes (over Spark's default cache of
    100) runs a second time in the same session without recompiling."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles(run) -> int:
        before = metrics.METRIC_COMPILATION_TIME().getCount()
        run()
        return metrics.METRIC_COMPILATION_TIME().getCount() - before

    def query():
        df = spark.range(3).selectExpr("id + 1 as v")
        for i in range(2, 61):
            df = df.unionByName(spark.range(3).selectExpr(f"id * {i} as v"))
        assert df.count() == 180 and len(df.collect()) == 180

    assert compiles(query) > 100
    assert compiles(query) <= 5
