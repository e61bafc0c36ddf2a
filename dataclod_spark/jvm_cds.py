"""Class data sharing (CDS) for the driver JVM.

Every engine start loads, parses and verifies about 11,500 classes from
``$SPARK_HOME/jars``.  JDK 17's dynamic AppCDS maps them instead from an
archive the JVM dumped at the exit of an earlier run
(``-XX:ArchiveClassesAtExit``).  The archive depends only on the JDK and
the jars, so one archive per JDK and Spark install serves every checkout
and every process; it is kept in ``${XDG_CACHE_HOME:-~/.cache}/
dataclod_spark/cds/<key>.jsa``.

The cache directory holds, per key:

- ``<key>.jsa``: the published archive, only ever a complete file.  A
  torn one (a valid header and a short body) kills the JVM with SIGBUS
  while it maps it, so nothing writes this name but ``os.replace``.
- ``<key>.<token>.part``: the file a dumping JVM writes at its exit.
  HotSpot writes the archive header last, so a part whose header holds
  the magic number is complete once its JVM is gone.
- ``<key>.claim``: at most one launch dumps at a time.  Created with
  ``O_EXCL``; holds one ``<pid> <start time>`` line for the Python process
  that claimed it, then one for its JVM.  A later launch that finds every
  owner gone publishes a complete part (or deletes a torn one) and
  removes the claim, so a stale claim never blocks dumping for good.

``lock`` serialises these steps between launches (``flock``, released
when its holder dies).

Spark's launcher puts the conf directory first on the class path, JDK 17
refuses to dump with a non-empty directory there, and an archive maps
only under the class path it was dumped with.  Spark never reads
``*.template`` files, so a conf directory holding nothing else is swapped
for the empty ``conf`` directory beside the archives for every launch
with CDS flags; a conf directory with real files gets no CDS.

Archived classes skip bytecode verification, so the cache directory must
be the user's own, mode 0700; otherwise no CDS.  Any failure here means
a launch without CDS flags: a plain start.
"""

from __future__ import annotations

import contextlib
import fcntl
import glob
import hashlib
import logging
import os
import re
import secrets
import shutil
import stat
import time
from typing import Mapping

# first bytes of a dynamic archive (CDS_DYNAMIC_ARCHIVE_MAGIC 0xf00baba8,
# little-endian); an unfinished dump reads zero there
MAGIC = b"\xa8\xab\x0b\xf0"
# a claim that never got its JVM recorded (the launch died) holds this long
CLAIM_GRACE_S = 120
# the caller's own choice of archive (or of no sharing) wins
_CALLER_CDS = re.compile(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit")
# options are split on whitespace and the class path on ':'
_SAFE_PATH = re.compile(r"[\w./@+-]+")


def _spark_home() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return _find_spark_home()


def archive_key(extra_conf: Mapping[str, str]) -> str:
    """Hash of what the archived classes come from: the ``java`` that
    ``spark-class`` runs (its real path and its ``libjvm.so``),
    ``SPARK_HOME``, every jar in ``$SPARK_HOME/jars``, and the other
    class-path inputs.  Raises OSError when one is missing."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    java = os.path.realpath(java)
    libjvm = os.stat(os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so"))
    shome = _spark_home()
    parts = [java, f"{libjvm.st_size} {libjvm.st_mtime_ns}", shome]
    jars = os.path.join(shome, "jars")
    for name in sorted(os.listdir(jars)):
        st = os.stat(os.path.join(jars, name))
        parts.append(f"{name} {st.st_size} {st.st_mtime_ns}")
    parts.append(extra_conf.get("spark.driver.extraClassPath", ""))
    parts += [os.environ.get(v, "") for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")]
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()[:20]


def _private_dir(path: str) -> bool:
    """Create ``path`` (mode 0700) if absent; True when it is a real
    directory owned by this user that no one else may enter."""
    os.makedirs(path, mode=0o700, exist_ok=True)
    st = os.lstat(path)
    return stat.S_ISDIR(st.st_mode) and st.st_uid == os.geteuid() and not st.st_mode & 0o077


def _start_time(pid: int) -> str | None:
    """Start time of ``pid`` (field 22 of ``stat``), None once it has
    exited (a zombie included: its parent may reap it late)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rpartition(")")[2].split()
    except OSError:
        return None
    return None if fields[0] in "ZX" else fields[19]


def _owner_line(pid: int) -> str:
    return f"{pid} {_start_time(pid)}\n"


def _claim_held(claim: str) -> bool:
    """True while a process the claim names lives, or, until
    ``CLAIM_GRACE_S`` has passed, while its JVM is not yet recorded."""
    with open(claim) as fh:
        owners = [line.split() for line in fh.read().splitlines()]
    if any(len(o) == 2 and o[0].isdigit() and _start_time(int(o[0])) == o[1] for o in owners):
        return True
    return len(owners) < 2 and time.time() - os.stat(claim).st_mtime < CLAIM_GRACE_S


def _settle(cache: str, key: str) -> None:
    """Publish a finished dump of ``key`` and delete the unfinished ones.
    Only called when no live process holds the key's claim."""
    for part in glob.glob(os.path.join(cache, f"{key}.*.part")):
        with open(part, "rb") as fh:
            done = fh.read(len(MAGIC)) == MAGIC
        if done:
            os.replace(part, os.path.join(cache, f"{key}.jsa"))
        else:
            os.unlink(part)
    with contextlib.suppress(FileNotFoundError):
        os.unlink(os.path.join(cache, f"{key}.claim"))


class Plan:
    """The CDS side of one driver JVM launch: its java options, the empty
    conf directory it runs with, and the claim it holds when it dumps."""

    def __init__(self, java_options: str, conf_dir: str, archive: str | None, claim: str | None) -> None:
        self.java_options = java_options
        self.conf_dir = conf_dir
        self.archive = archive
        self.claim = claim

    @contextlib.contextmanager
    def launching(self):
        """``SPARK_CONF_DIR`` points at the empty conf directory while the
        JVM is launched (``launch_gateway`` copies ``os.environ``)."""
        old = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = self.conf_dir
        try:
            yield
        finally:
            if old is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = old

    def started(self, jvm_pid: int) -> None:
        """Record the dumping JVM in the claim: the dump is finished once
        it is gone."""
        if self.claim:
            with contextlib.suppress(OSError), open(self.claim, "a") as fh:
                fh.write(_owner_line(jvm_pid))

    def abandon(self) -> None:
        """The launch failed: give the claim up before a launch without
        CDS flags."""
        logging.getLogger(__name__).warning(
            "driver JVM launch with %s failed; launching without class data sharing",
            self.java_options, exc_info=True,
        )
        if self.claim:
            with contextlib.suppress(OSError):
                os.unlink(self.claim)

    def refused(self) -> None:
        """The launch without CDS flags worked where this one failed:
        drop the archive, so later launches dump a new one."""
        if self.archive:
            with contextlib.suppress(OSError):
                os.unlink(self.archive)


def plan(extra_conf: Mapping[str, str]) -> Plan | None:
    """The CDS plan for a driver JVM about to be launched with
    ``extra_conf``, or None for a launch without CDS flags."""
    caller = extra_conf.get("spark.driver.extraJavaOptions", "") + os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    if _CALLER_CDS.search(caller) or "spark.driver.defaultJavaOptions" in extra_conf:
        return None
    try:
        return _plan(extra_conf)
    except OSError:  # no usable cache directory, java or jars
        return None
    except Exception:  # no CDS is a plain start, never a failed one
        logging.getLogger(__name__).warning("class data sharing is off for this launch", exc_info=True)
        return None


def _plan(extra_conf: Mapping[str, str]) -> Plan | None:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    cache = os.path.join(base, "dataclod_spark", "cds")
    if not os.path.isabs(cache) or not _SAFE_PATH.fullmatch(cache) or not _private_dir(cache):
        return None
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(_spark_home(), "conf")
    try:
        names = os.listdir(conf)
    except FileNotFoundError:
        names = []
    if any(not n.endswith(".template") for n in names):
        return None
    empty_conf = os.path.join(cache, "conf")
    if not _private_dir(empty_conf) or os.listdir(empty_conf):
        return None
    key = archive_key(extra_conf)
    archive = os.path.join(cache, f"{key}.jsa")
    claim = os.path.join(cache, f"{key}.claim")
    lock = os.open(os.path.join(cache, "lock"), os.O_RDWR | os.O_CREAT, 0o600)
    try:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not os.path.exists(archive):
            if os.path.exists(claim) and _claim_held(claim):
                return None
            _settle(cache, key)
        if os.path.exists(archive):
            return Plan(f"-XX:SharedArchiveFile={archive} -XX:+VerifySharedSpaces", empty_conf, archive, None)
        fd = os.open(claim, os.O_WRONLY | os.O_CREAT | os.O_EXCL, 0o600)
        with os.fdopen(fd, "w") as fh:
            fh.write(_owner_line(os.getpid()))
        part = os.path.join(cache, f"{key}.{secrets.token_hex(4)}.part")
        return Plan(f"-XX:ArchiveClassesAtExit={part}", empty_conf, None, claim)
    finally:
        os.close(lock)
