"""The driver JVM maps Spark's classes from a dynamic CDS archive.

Each case launches ``get_spark`` in a subprocess with its own
``XDG_CACHE_HOME`` and reads the CDS flags in effect from the running JVM
(``HotSpotDiagnosticMXBean``; Spark adds
``-XX:+IgnoreUnrecognizedVMOptions``, so the command line proves
nothing).  Run as a script, this module starts ``get_spark`` with the
``extra_conf`` given as JSON in its argument, prints those flags and one
setting as JSON, and stops.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from dataclod_spark.jvm_cds import MAGIC, archive_key  # noqa: E402

# a setting only a conf directory's spark-defaults.conf supplies
PROBE = "spark.dataclod.cds_probe"


def launch(tmp, extra_conf=None, env=None, check=True):
    """Run this module as a script under ``XDG_CACHE_HOME=<tmp>/xdg``;
    its stdout and the JSON it printed (None when it failed)."""
    env = {
        **os.environ,
        "XDG_CACHE_HOME": os.path.join(tmp, "xdg"),
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        **(env or {}),
    }
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), json.dumps(extra_conf or {})],
        cwd=tmp, env=env, capture_output=True, text=True, timeout=300, check=check,
    )
    if proc.returncode:
        return proc.stdout, None
    return proc.stdout, json.loads(proc.stdout.strip().splitlines()[-1])


def cds_dir(tmp) -> str:
    return os.path.join(tmp, "xdg", "dataclod_spark", "cds")


def assert_no_cds(got):
    assert got["SharedArchiveFile"] == ""
    assert got["ArchiveClassesAtExit"] == ""


@pytest.fixture(scope="module")
def cold(tmp_path_factory):
    """A first launch on a cold cache that holds a torn dump (a zero
    header) under a stale claim, as a JVM killed while dumping leaves."""
    tmp = str(tmp_path_factory.mktemp("cds_cold"))
    cds = cds_dir(tmp)
    os.makedirs(cds, mode=0o700)
    k = archive_key({})
    with open(os.path.join(cds, f"{k}.torn.part"), "wb") as fh:
        fh.write(bytes(1 << 16))
    with open(os.path.join(cds, f"{k}.claim"), "w") as fh:
        fh.write("999999999 0\n999999999 0\n")
    out, got = launch(tmp)
    return {"tmp": tmp, "key": k, "out": out, "got": got, "files": sorted(os.listdir(cds))}


@pytest.fixture(scope="module")
def warm(cold):
    """A second launch on the cache the first one dumped into, logging
    where every class came from."""
    log = os.path.join(cold["tmp"], "classload.txt")
    out, got = launch(cold["tmp"], {"spark.driver.extraJavaOptions": f"-Xlog:class+load=info:file={log}"})
    with open(log) as fh:
        loads = [line.split("[class,load] ")[-1].split(" source: ") for line in fh if " source: " in line]
    sources = [source.strip() for _, source in loads]
    spark_context = [source.strip() for name, source in loads if name == "org.apache.spark.SparkContext"]
    yield {"out": out, "got": got, "sources": sources, "spark_context": spark_context,
           "files": sorted(os.listdir(cds_dir(cold["tmp"])))}
    # the archive is over 100 MB
    for path in glob.glob(os.path.join(cds_dir(cold["tmp"]), "*.jsa")):
        os.unlink(path)


def test_zero_header_part_is_not_published(cold):
    k = cold["key"]
    assert f"{k}.torn.part" not in cold["files"]
    assert f"{k}.jsa" not in cold["files"]


def test_first_launch_dumps_at_exit(cold):
    k = cold["key"]
    got = cold["got"]
    assert got["SharedArchiveFile"] == ""
    part = got["ArchiveClassesAtExit"]
    assert os.path.dirname(part) == cds_dir(cold["tmp"])
    # the claim stays until the next launch finds its JVM gone
    assert cold["files"] == sorted(["conf", "lock", f"{k}.claim", os.path.basename(part)])
    with open(part, "rb") as fh:
        assert fh.read(len(MAGIC)) == MAGIC


def test_second_launch_maps_spark_from_the_archive(cold, warm):
    k = cold["key"]
    assert warm["files"] == sorted(["conf", f"{k}.jsa", "lock"])
    assert warm["got"]["SharedArchiveFile"] == os.path.join(cds_dir(cold["tmp"]), f"{k}.jsa")
    assert warm["got"]["VerifySharedSpaces"] == "true"
    assert warm["got"]["ArchiveClassesAtExit"] == ""
    assert warm["spark_context"] == ["shared objects file (top)"]
    assert warm["sources"].count("shared objects file (top)") > 5000


def test_stdout_is_the_program_output(cold, warm):
    for out in (cold["out"], warm["out"]):
        assert len(out.splitlines()) == 1
        assert not out.startswith("[")


def test_torn_archive_degrades_to_a_plain_start(cold, warm, tmp_path):
    """A published archive with a valid header and a short body kills the
    JVM while it maps it: the launch is retried without CDS flags, and
    the archive is dropped."""
    k = cold["key"]
    with open(os.path.join(cds_dir(cold["tmp"]), f"{k}.jsa"), "rb") as fh:
        head = fh.read(1 << 20)
    cds = cds_dir(str(tmp_path))
    os.makedirs(cds, mode=0o700)
    with open(os.path.join(cds, f"{k}.jsa"), "wb") as fh:
        fh.write(head)
    _, got = launch(str(tmp_path), {"spark.driver.extraJavaOptions": "-XX:-CreateCoredumpOnCrash"})
    assert_no_cds(got)
    assert not os.path.exists(os.path.join(cds, f"{k}.jsa"))


def test_launch_failing_without_cds_too_keeps_the_archive(cold, warm):
    """A bad setting fails the launch with and without CDS flags: the
    archive was not at fault and stays."""
    _, got = launch(cold["tmp"], env={"SPARK_GRAFT_DRIVER_MEM": "notasize"}, check=False)
    assert got is None
    assert os.path.exists(os.path.join(cds_dir(cold["tmp"]), f"{cold['key']}.jsa"))


def test_conf_directory_with_real_files_gets_no_cds(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text(f"{PROBE} yes\n")
    _, got = launch(str(tmp_path), env={"SPARK_CONF_DIR": str(conf)})
    assert_no_cds(got)
    assert got[PROBE] == "yes"
    assert not glob.glob(os.path.join(cds_dir(str(tmp_path)), "*.claim"))


def test_caller_xshare_off_gets_no_cds(tmp_path):
    _, got = launch(str(tmp_path), {"spark.driver.extraJavaOptions": "-Xshare:off"})
    assert_no_cds(got)
    assert got["UseSharedSpaces"] == "false"


def test_unusable_cache_directory_gets_no_cds(tmp_path):
    cds = cds_dir(str(tmp_path))
    os.makedirs(cds)
    os.chmod(cds, 0o755)  # others may enter: archived classes skip verification
    _, got = launch(str(tmp_path))
    assert_no_cds(got)
    assert os.listdir(cds) == []


if __name__ == "__main__":
    from dataclod_spark.session import get_spark

    extra = {"spark.ui.showConsoleProgress": "false", **json.loads(sys.argv[1])}
    spark = get_spark(app_name="jvm_cds", extra_conf=extra)
    jvm = spark.sparkContext._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    flags = ("SharedArchiveFile", "ArchiveClassesAtExit", "VerifySharedSpaces", "UseSharedSpaces")
    got = {f: hotspot.getVMOption(f).getValue() for f in flags}
    got[PROBE] = spark.sparkContext.getConf().get(PROBE, None)
    spark.stop()
    print(json.dumps(got))
