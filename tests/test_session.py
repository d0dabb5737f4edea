"""The session's JVM start-up archive: found, built once, never trusted
half-written, never fatal, skipped where CDS cannot work.

Launches that must start a fresh driver JVM run in a child Python (this
process already has one), with the archive cache pointed at ``tmp_path``.
"""

from __future__ import annotations

import json
import os
import signal
import subprocess
import sys
import threading
import time

import pytest

from flnr_wins_spark import session
from flnr_wins_spark.session import build_archive, start_up_archive

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLER_FLAG = "-Dflnr.wins.caller=1"

# a fresh get_spark in a child Python: the JVM's input arguments, its
# SPARK_CONF_DIR, one conf value and a query answer, as one JSON line
LAUNCH = """
import json, sys
from flnr_wins_spark.session import get_spark
cache = sys.argv[1] or None
spark = get_spark(master="local[1]", shuffle_partitions=1, _cds_cache=cache,
                  extra_conf={"spark.driver.extraJavaOptions": sys.argv[2]})
jvm = spark.sparkContext._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
print(json.dumps({
    "args": args,
    "conf_dir": jvm.System.getenv("SPARK_CONF_DIR"),
    "marker": spark.conf.get("spark.flnr.marker", None),
    "answer": spark.sql("SELECT 6 * 7 AS a").first().a,
}))
spark.stop()
"""


def launch(cache: str | None, cwd: str = ROOT, **env: str) -> tuple[dict, str]:
    """Run ``LAUNCH``; returns (its JSON line, its whole stdout)."""
    proc = subprocess.run(
        [sys.executable, "-c", LAUNCH, cache or "", CALLER_FLAG],
        capture_output=True, text=True, timeout=120, cwd=cwd,
        env=dict(os.environ, PYTHONPATH=ROOT, SPARK_DRIVER_MEMORY="1g", **env),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stdout


def fake_build(calls: list):
    """A build that records its call and writes random bytes as the archive."""

    def build(cds):
        calls.append(cds)
        with open(cds.archive, "wb") as fh:
            fh.write(os.urandom(1 << 16))
        return None

    return build


def test_missing_archive_builds_exactly_once(tmp_path):
    calls: list = []
    first = start_up_archive({}, str(tmp_path), build=fake_build(calls))
    again = start_up_archive({}, str(tmp_path), build=fake_build(calls))
    assert first is not None and first == again
    assert len(calls) == 1
    assert os.path.dirname(first.archive) == str(tmp_path)
    assert os.listdir(first.conf_dir) == []


def test_failed_build_is_not_retried_at_once(tmp_path):
    calls: list = []

    def failing(cds):
        calls.append(cds)
        return "no luck"

    assert start_up_archive({}, str(tmp_path), build=failing) is None
    assert start_up_archive({}, str(tmp_path), build=failing) is None
    assert len(calls) == 1


def test_random_bytes_archive_still_gives_a_working_session(tmp_path):
    cds = start_up_archive({}, str(tmp_path), build=fake_build([]))
    out, stdout = launch(str(tmp_path))
    assert out["answer"] == 42
    # the caller's options are kept and the archive's appended to them
    assert CALLER_FLAG in out["args"]
    assert f"-XX:SharedArchiveFile={cds.archive}" in out["args"]
    assert out["conf_dir"] == cds.conf_dir
    # a rejected archive warns on stderr, never on the stdout callers parse
    assert stdout.strip().splitlines() == [json.dumps(out)]


def test_killed_build_child_leaves_no_archive(tmp_path):
    cds = session._locate({}, str(tmp_path))
    result: list = []
    builder = threading.Thread(target=lambda: result.append(build_archive(cds)))
    builder.start()
    log = cds.log
    deadline = time.monotonic() + 60
    started = None
    while started is None and time.monotonic() < deadline and builder.is_alive():
        time.sleep(0.1)
        if os.path.exists(log):
            with open(log) as fh:
                started = next((ln.split() for ln in fh if ln.startswith("build child")), None)
    assert started, "the build child never started its JVM"
    child, jvm = int(started[2]), int(started[5])
    os.kill(child, signal.SIGTERM)  # midway: its queries are still running
    builder.join(30)
    assert not builder.is_alive()
    assert result and result[0] and result[0].startswith("build exited")
    assert not os.path.exists(cds.archive)
    assert not [p for p in os.listdir(tmp_path) if p.endswith(".tmp")]
    assert not session._alive(jvm)
    # nothing half-written is handed to a JVM: without an archive, no CDS flags
    assert start_up_archive({}, str(tmp_path), build=lambda cds: "not built") is None


def test_dead_builders_temp_files_are_swept(tmp_path):
    cds = session._locate({}, str(tmp_path))
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait()
    stale = session._temp_path(cds.archive, dead.pid)
    live = session._temp_path(cds.archive, os.getpid())
    for path in (stale, live):
        open(path, "wb").close()
    session._locate({}, str(tmp_path))
    assert not os.path.exists(stale) and os.path.exists(live)


def test_new_archive_prunes_older_keys(tmp_path):
    old = tmp_path / "0123456789abcdef0123.jsa"
    old.write_bytes(b"old")
    (tmp_path / "0123456789abcdef0123.log").write_text("old")
    cds = session._locate({}, str(tmp_path))
    session._prune(cds.archive)
    assert not old.exists() and not (tmp_path / "0123456789abcdef0123.log").exists()


def test_real_spark_defaults_disable_cds(tmp_path, monkeypatch):
    """A conf directory with a real file keeps CDS off: nothing is built and
    the caller's SPARK_CONF_DIR reaches the JVM untouched."""
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.flnr.marker  from-defaults\n")
    calls: list = []
    cache = str(tmp_path / "cache")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    assert start_up_archive({}, cache, build=fake_build(calls)) is None
    monkeypatch.delenv("SPARK_CONF_DIR")
    # the same when the installation's own conf directory holds the file
    home = tmp_path / "spark-home"
    (home / "jars").mkdir(parents=True)
    os.symlink(conf, home / "conf")
    monkeypatch.setenv("SPARK_HOME", str(home))
    assert start_up_archive({}, cache, build=fake_build(calls)) is None
    assert calls == []
    monkeypatch.undo()

    out, _ = launch(cache, SPARK_CONF_DIR=str(conf))
    assert out["conf_dir"] == str(conf)
    assert out["marker"] == "from-defaults"
    assert not any("SharedArchiveFile" in a for a in out["args"])
    assert not os.path.exists(cache) or not any(
        p.endswith(".jsa") for p in os.listdir(cache)
    )


def test_caller_cds_choice_wins(tmp_path):
    for opts in ("-Xshare:off", "-XX:SharedArchiveFile=/elsewhere.jsa"):
        conf = {"spark.driver.extraJavaOptions": opts}
        assert start_up_archive(conf, str(tmp_path), build=fake_build([])) is None


def test_session_starts_from_the_host_archive(spark):
    """The test session's own ``get_spark`` built (or found) this host's
    archive; a fresh session starts from it with the caller's flags kept."""
    cds = session._locate({}, None)
    if cds is None or not os.path.isfile(cds.archive):
        pytest.skip("CDS is skipped on this host, or its archive build failed")
    out, stdout = launch(None)
    assert out["answer"] == 42
    assert CALLER_FLAG in out["args"]
    assert f"-XX:SharedArchiveFile={cds.archive}" in out["args"]
    assert stdout.strip().splitlines() == [json.dumps(out)]


def test_truncated_archive_is_dropped_and_the_session_starts(spark, tmp_path):
    """A cut-short archive kills a JVM that maps it (SIGBUS, even under
    -Xshare:auto): the launch is retried without it and the archive dropped."""
    host = session._locate({}, None)
    if host is None or not os.path.isfile(host.archive):
        pytest.skip("CDS is skipped on this host, or its archive build failed")
    cds = session._locate({}, str(tmp_path))
    with open(host.archive, "rb") as src, open(cds.archive, "wb") as dst:
        dst.write(src.read(os.path.getsize(host.archive) // 4))
    out, _ = launch(str(tmp_path), cwd=str(tmp_path))  # the crash report lands in cwd
    assert out["answer"] == 42
    assert CALLER_FLAG in out["args"]
    assert not any("SharedArchiveFile" in a for a in out["args"])
    assert not os.path.exists(cds.archive)
    assert os.path.exists(cds.archive + ".failed")
