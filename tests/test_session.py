"""The driver JVM that ``session.get_spark`` launches runs with the JIT
thresholds scaled by ``JIT_THRESHOLD_SCALING``, and from a class-data-sharing
archive that the first session for a Java build and class path writes."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

from zipline_chronon_spark import session
from zipline_chronon_spark.session import JIT_THRESHOLD_SCALING, vm_option

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_jit_threshold_scaling(spark):
    assert float(vm_option(spark, "CompileThresholdScaling")) == JIT_THRESHOLD_SCALING


def test_driver_reads_or_writes_archive(spark):
    shared = vm_option(spark, "SharedArchiveFile")
    assert bool(shared) != bool(vm_option(spark, "ArchiveClassesAtExit"))
    if shared:
        assert vm_option(spark, "UseSharedSpaces") == "true"


_SESSION = """
import json
from zipline_chronon_spark.session import cds_mapped, get_spark
spark = get_spark("local[2]", extra={"spark.driver.memory": "1g"})
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(1000).selectExpr("id % 3 AS k").groupBy("k").count().collect()
print(json.dumps({"rows": len(rows), "cds": cds_mapped(spark)}))
"""


def _session(tmp_path) -> bool:
    """Run one session with its own cache in a new interpreter; whether its
    driver JVM mapped an archive."""
    env = {**os.environ, "XDG_CACHE_HOME": str(tmp_path / "cache"),
           "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)}
    out = subprocess.run([sys.executable, "-c", _SESSION], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "[cds]" not in out.stdout
    result = json.loads(out.stdout.splitlines()[-1])
    assert result["rows"] == 3
    return result["cds"]


def test_archive_lifecycle(tmp_path):
    cds = tmp_path / "cache" / "zipline_chronon_spark" / "cds"
    assert _session(tmp_path) is False  # writes the archive as its JVM exits
    (jsa,) = cds.glob("*.jsa")
    assert not list(cds.glob("*.tmp"))
    assert _session(tmp_path) is True
    half = tmp_path / "half.jsa"
    shutil.copyfile(jsa, half)
    os.truncate(half, half.stat().st_size // 2)

    jsa.unlink()
    jsa.write_bytes(os.urandom(100_000))
    assert _session(tmp_path) is False  # rejected, and removed
    assert not jsa.exists()

    os.replace(half, jsa)
    assert _session(tmp_path) is False  # crashes the JVM that maps it; relaunched
    assert not jsa.exists()


@pytest.mark.parametrize("real", [False, True], ids=["templates", "real-defaults"])
def test_archive_only_with_template_conf_dir(tmp_path, monkeypatch, real):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    if real:
        (conf / "spark-defaults.conf").write_text("spark.driver.cores 1\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    plan = session._archive({}, "24g")
    assert os.environ["SPARK_CONF_DIR"] == str(conf)
    if real:
        assert plan is None
    else:
        base, conf_dir, writes = plan
        assert writes and os.path.exists(base + ".lock")
        assert os.listdir(conf_dir) == []
