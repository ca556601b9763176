"""``get_spark``'s class-data sharing (``alaska_etl_spark._cds``).

Each case starts fresh JVMs in child Python processes whose
``XDG_CACHE_HOME`` lies under ``tmp_path``, so the module builds exactly
one archive (the ``built`` fixture) and never touches the user's cache."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from alaska_etl_spark import _cds

ROOT = Path(__file__).resolve().parent.parent

#: one start: ``get_spark`` with the JSON ``extra_conf`` in argv[1], one
#: job, then the facts the tests read. With argv[2], ``_cds.build`` is
#: replaced by a copy of that pristine archive (a rebuild without a
#: second 40 s build), and asserts that no archive is left when it runs.
START = """
import json, os, shutil, sys
from alaska_etl_spark import _cds, session

if len(sys.argv) > 2:
    def restore(cache, digest):
        assert not [n for n in os.listdir(cache) if n.endswith(".jsa")]
        path = os.path.join(cache, f"{digest}-{os.path.getsize(sys.argv[2])}.jsa")
        shutil.copyfile(sys.argv[2], path)
        return path
    _cds.build = restore
spark = session.get_spark("cds-test", master="local[1]", extra_conf=json.loads(sys.argv[1]))
prop = spark.sparkContext._jvm.java.lang.System.getProperty
print("RESULT " + json.dumps({
    "state": session.cds_state,
    "rows": spark.range(10).count(),
    "probe": prop("probe"),
    "conf_probe": spark.conf.get("spark.cdstest.probe", None),
}))
"""


def _start(xdg: Path, extra_conf=None, pristine=None, conf_dir=None):
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY_")}
    env.pop("SPARK_CONF_DIR", None)
    env.update(XDG_CACHE_HOME=str(xdg), PYTHONPATH=str(ROOT), SPARK_GRAFT_DRIVER_MEM="1g")
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    argv = [sys.executable, "-c", START, json.dumps(extra_conf or {})]
    if pristine is not None:
        argv.append(str(pristine))
    proc = subprocess.run(argv, env=env, cwd=xdg, capture_output=True, text=True, timeout=900)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stdout[-3000:] + proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])
    out["stderr"] = proc.stderr
    return out


def _archives(xdg: Path) -> list[Path]:
    return sorted((xdg / "alaska_etl_spark").glob("*.jsa"))


@pytest.fixture(scope="module")
def built(tmp_path_factory):
    """The first start in an empty cache: it builds the archive."""
    xdg = tmp_path_factory.mktemp("xdg")
    return xdg, _start(xdg)


def test_first_start_builds_second_start_maps_archive(built):
    xdg, first = built
    assert first["state"] == "built"
    assert first["rows"] == 10
    (archive,) = _archives(xdg)
    assert archive.name.endswith(f"-{archive.stat().st_size}.jsa")
    second = _start(xdg, {"spark.driver.extraJavaOptions": "-Dprobe=1"})
    assert second["state"] == "active"
    # the caller's extraJavaOptions still reach the JVM next to the CDS flags
    assert second["probe"] == "1"
    assert second["rows"] == 10


def test_damaged_archive_is_rebuilt_and_never_mapped(built, tmp_path):
    xdg, _ = built
    (archive,) = _archives(xdg)
    pristine = tmp_path / "pristine.jsa"
    shutil.copyfile(archive, pristine)
    # a truncated archive crashes the JVM (SIGBUS) if it is ever mapped
    with open(pristine, "rb") as src:
        head = src.read(4096)
    archive.chmod(0o644)
    archive.write_bytes(head)
    out = _start(xdg, pristine=pristine)
    assert out["state"] == "built"
    assert out["rows"] == 10
    assert [p.stat().st_size for p in _archives(xdg)] == [pristine.stat().st_size]


def test_stale_archive_is_rejected_reported_and_deleted(built, tmp_path):
    """An archive moved to another cache names a classpath (its ``conf``
    directory) that this launch does not have: the JVM refuses it."""
    xdg, _ = built
    moved = tmp_path / "moved"
    (moved / "alaska_etl_spark").mkdir(parents=True)
    for archive in _archives(xdg):
        shutil.copyfile(archive, moved / "alaska_etl_spark" / archive.name)
    out = _start(moved)
    assert out["state"] == "rejected"
    assert "rejected by the JVM" in out["stderr"]
    assert out["rows"] == 10
    assert _archives(moved) == []  # so the next start rebuilds it


def test_real_conf_dir_skips_cds_and_is_honoured(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.cdstest.probe 42\n")
    out = _start(tmp_path, conf_dir=conf)
    assert out["state"] == "skipped:conf_dir"
    assert out["conf_probe"] == "42"
    assert _archives(tmp_path) == []


@pytest.mark.parametrize(
    "extra_conf, reason",
    [
        ({}, None),
        ({"spark.driver.extraJavaOptions": "-Dx=1 -XX:-UsePerfData"}, None),
        ({"spark.driver.defaultJavaOptions": "-Dx=1"}, "default_java_options"),
        ({"spark.driver.extraJavaOptions": "-Xshare:off"}, "java_options"),
        ({"spark.driver.extraJavaOptions": "-XX:SharedArchiveFile=/a.jsa"}, "java_options"),
        ({"spark.driver.extraJavaOptions": "-XX:ArchiveClassesAtExit=/a.jsa"}, "java_options"),
        ({"spark.driver.extraClassPath": "/x.jar"}, "class_path"),
    ],
)
def test_skip_reason(tmp_path, monkeypatch, extra_conf, reason):
    (tmp_path / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    assert _cds.skip_reason(extra_conf) == reason
