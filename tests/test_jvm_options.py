"""The driver JVM options ``get_spark`` sets take effect.

Spark launches the JVM with ``-XX:+IgnoreUnrecognizedVMOptions``, so a
misspelled flag on the command line is silently dropped.  These tests
read the effective values from the running JVM instead.  Run as a script,
this module starts ``get_spark`` with a caller's own
``spark.driver.extraJavaOptions`` and prints what the JVM reports, as
JSON.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def jvm_settings(spark) -> dict:
    """The compiler-thread count, default time zone and ``x`` system
    property in effect in ``spark``'s driver JVM."""
    jvm = spark.sparkContext._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    return {
        "CICompilerCount": hotspot.getVMOption("CICompilerCount").getValue(),
        "timezone": jvm.java.util.TimeZone.getDefault().getID(),
        "x": jvm.java.lang.System.getProperty("x"),
    }


def test_compiler_threads_and_timezone_in_effect(spark):
    got = jvm_settings(spark)
    assert got["CICompilerCount"] == "2"
    assert got["timezone"] == "UTC"


def run_script(**env) -> dict:
    """This module's JSON line, run as a script under a non-UTC ``TZ``."""
    env = {
        **os.environ,
        "TZ": "Pacific/Auckland",
        "SPARK_GRAFT_CPUS": "2",
        "SPARK_GRAFT_DRIVER_MEM": "1g",
        **env,
    }
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_caller_java_options_add_to_the_defaults():
    """A caller's extraJavaOptions no longer replace the defaults: under a
    non-UTC ``TZ`` the JVM still runs in UTC with one C2 thread, and the
    caller's own option is in effect too."""
    assert run_script() == {"CICompilerCount": "2", "timezone": "UTC", "x": "y"}


def test_caller_java_options_add_to_the_defaults_on_a_cold_cds_cache(tmp_path):
    """The same with no class-data archive yet: the JVM dumps one at its
    exit, and its log lines stay off stdout, whose last line is still the
    program's own."""
    assert run_script(XDG_CACHE_HOME=str(tmp_path)) == {"CICompilerCount": "2", "timezone": "UTC", "x": "y"}
    assert glob.glob(os.path.join(tmp_path, "dataclod_spark", "cds", "*.part"))


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from dataclod_spark.session import get_spark

    spark = get_spark(
        app_name="jvm_options",
        extra_conf={"spark.driver.extraJavaOptions": "-Dx=y", "spark.ui.showConsoleProgress": "false"},
    )
    settings = jvm_settings(spark)
    spark.stop()
    print(json.dumps(settings))
