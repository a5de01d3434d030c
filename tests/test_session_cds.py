"""get_spark's class-data-sharing archive for the driver JVM: the first
session dumps it when its JVM exits, a later session promotes and maps
it, and nothing about it can break a session. Each session runs in its
own subprocess (one JVM per process) against a scratch area of its own,
so the checkout's archive is never read or written here."""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

import duckdb
import pytest

from basis_spark import io, session

ROOT = str(Path(__file__).resolve().parent.parent)
SF = "/root/testdata/sf0.001"
MEM = "1g"

# argv: checkout root, scratch dir, SF dir. Prints one JSON line: the
# JVM's input arguments, SPARK_CONF_DIR, the caller conf marker and a
# query over lineitem. The JVM is stopped and waited for, so a dump has
# finished on return.
SCRIPT = r"""
import json, os, sys
sys.path.insert(0, sys.argv[1])
from basis_spark import io
io.SCRATCH = sys.argv[2]
from basis_spark.session import get_spark
spark = get_spark("cds-test", cpus=2)
spark.sparkContext.setLogLevel("ERROR")
row = spark.read.parquet(sys.argv[3] + "/lineitem.parquet").selectExpr(
    "count(*) AS n", "sum(l_quantity) AS q", "sum(l_orderkey) AS k").first()
args = list(spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
out = {"args": args, "conf_dir": os.environ.get("SPARK_CONF_DIR"),
       "marker": spark.sparkContext.getConf().get("spark.basis.caller.marker", None),
       "rows": [row["n"], float(row["q"]), row["k"]]}
gateway = spark.sparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=120)
print(json.dumps(out))
"""


def run_session(scratch: Path, **env_extra: str) -> tuple[dict, str]:
    """One get_spark session in a subprocess; (its JSON, its stdout)."""
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS", "PYSPARK_GATEWAY_PORT")}
    env.update(SPARK_GRAFT_DRIVER_MEM=MEM, SPARK_GRAFT_CPUS="2", **env_extra)
    res = subprocess.run([sys.executable, "-c", SCRIPT, ROOT, str(scratch), SF],
                         capture_output=True, text=True, timeout=600, env=env)
    assert res.returncode == 0, res.stdout[-2000:] + res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1]), res.stdout


def expected_rows() -> list:
    n, q, k = duckdb.sql(
        f"SELECT count(*), sum(l_quantity), sum(l_orderkey) FROM '{SF}/lineitem.parquet'"
    ).fetchone()
    return [n, float(q), k]


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    """A scratch area of the test's own, for in-process calls too. The
    conf dir the default Spark home falls back to must hold only
    templates, or no session gets an archive."""
    conf = os.path.join(os.environ.get("SPARK_HOME", ""), "conf")
    if os.path.isdir(conf) and any(not f.endswith(".template") for f in os.listdir(conf)):
        pytest.skip("the Spark conf dir holds real files: no session gets an archive")
    monkeypatch.setattr(io, "SCRATCH", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    yield tmp_path
    shutil.rmtree(tmp_path, ignore_errors=True)  # archives are ~150 MB


def archive_path() -> str:
    return session._cds_archive(session.JAVA_OPTS, MEM)


def test_second_session_maps_the_archive_the_first_dumped(scratch):
    archive = archive_path()
    first, stdout = run_session(scratch)
    assert any(a.startswith("-XX:ArchiveClassesAtExit=" + archive) for a in first["args"])
    assert first["conf_dir"] == os.path.join(scratch, "cds", "conf")
    assert first["rows"] == expected_rows()
    # the dump's own log lines would land on the caller's stdout
    assert len(stdout.strip().splitlines()) == 1, stdout[:2000]
    assert not os.path.exists(archive)  # promoted only by a later session

    log = scratch / "class_load.log"
    second, _ = run_session(
        scratch, JAVA_TOOL_OPTIONS=f"-Xlog:class+load=info:file={log}")
    assert f"-XX:SharedArchiveFile={archive}" in second["args"]
    assert second["rows"] == first["rows"]
    assert os.path.exists(archive)
    assert set(os.listdir(scratch / "cds")) == {"conf", os.path.basename(archive)}
    shared = re.findall(r"(org\.apache\.spark\.\S+) source: shared objects file \(top\)",
                        log.read_text())
    assert "org.apache.spark.SparkContext" in shared, log.read_text()[:2000]
    assert len(shared) > 1000


def test_garbage_archive_still_gives_a_working_session(scratch):
    archive = archive_path()
    with open(archive, "wb") as fh:
        fh.write(os.urandom(1 << 16))
    out, stdout = run_session(scratch)
    assert f"-XX:SharedArchiveFile={archive}" in out["args"]
    assert out["rows"] == expected_rows()
    assert len(stdout.strip().splitlines()) == 1, stdout[:2000]


def test_part_of_a_live_jvm_is_never_promoted(scratch):
    archive = archive_path()
    flag, part = session._cds_flag(archive)
    assert flag.startswith(f"-XX:ArchiveClassesAtExit={part} ")
    with open(part, "wb") as fh:  # a finished dump, as far as its header goes
        fh.write(session._DYNAMIC_MAGIC + bytes(60))
    # a process whose command line names the part, as the dumping JVM's does
    jvm = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(600)",
                            f"-XX:ArchiveClassesAtExit={part}"])
    try:
        with open(part[: -len(".part")] + ".pid", "w") as fh:
            fh.write(str(jvm.pid))
        assert session._cds_flag(archive) == ("", None)  # no map, no second dump
        assert os.path.exists(part) and not os.path.exists(archive)
    finally:
        jvm.kill()
        jvm.wait()
    flag, part2 = session._cds_flag(archive)
    assert flag.startswith(f"-XX:SharedArchiveFile={archive} ") and part2 is None
    assert not os.path.exists(part)


def test_unfinished_part_of_an_exited_jvm_is_dropped(scratch):
    archive = archive_path()
    _, part = session._cds_flag(archive)
    with open(part, "wb") as fh:  # the JVM writes the header last
        fh.write(bytes(64))
    with open(part[: -len(".part")] + ".pid", "w") as fh:
        fh.write("999999999")
    flag, part2 = session._cds_flag(archive)
    assert flag.startswith("-XX:ArchiveClassesAtExit=") and part2 != part
    assert not os.path.exists(archive) and not os.path.exists(part)


def test_caller_conf_dir_with_a_real_file_is_left_alone(scratch):
    conf = scratch / "caller_conf"
    conf.mkdir()
    defaults = conf / "spark-defaults.conf"
    defaults.write_text("spark.basis.caller.marker true\n")
    out, _ = run_session(scratch, SPARK_CONF_DIR=str(conf))
    assert out["conf_dir"] == str(conf)
    assert out["marker"] == "true"  # the session read the caller's conf dir
    assert not [a for a in out["args"] if "Archive" in a or "cds" in a], out["args"]
    assert out["rows"] == expected_rows()
    assert os.listdir(conf) == ["spark-defaults.conf"]
    assert defaults.read_text() == "spark.basis.caller.marker true\n"


def test_unused_digest_ages_out_and_the_archive_in_use_survives(scratch):
    archive = archive_path()
    unused = os.path.join(os.path.dirname(archive), "0123456789abcdef.jsa")
    now = time.time()
    for path, age_h in ((archive, 23), (unused, 25)):
        with open(path, "wb") as fh:
            fh.write(session._DYNAMIC_MAGIC)
        os.utime(path, (now - age_h * 3600,) * 2)
    flag, _ = session._cds_flag(archive_path())
    assert flag.startswith(f"-XX:SharedArchiveFile={archive} ")
    assert not os.path.exists(unused)
    assert os.path.getmtime(archive) > now - 60  # touched, so the next GC keeps it
