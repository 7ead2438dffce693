"""Dynamic class-data-sharing (CDS) archive for the driver JVM.

A fresh driver JVM spends seconds loading and verifying Spark's classes.
JDK 13+ can write the classes a run loaded into an archive at exit
(``-XX:ArchiveClassesAtExit``, JEP 350) and map them at the next start
(``-XX:SharedArchiveFile``). ``build_session`` does this by default:

- The archive lives in ``${XDG_CACHE_HOME:-~/.cache}/scio_spark/cds/`` as
  ``<key>.jsa``. The key digests the ``java`` binary (real path, size,
  mtime), the ``$SPARK_HOME/jars`` listing (names, sizes, mtimes) and the
  launch settings that change the classpath. Creating an archive deletes
  the archives of other keys (each is 140-270 MB: it holds every class
  the dumping run loaded).
- Dynamic CDS refuses a non-empty directory on the classpath, and the
  launcher puts ``$SPARK_CONF_DIR`` there. When that directory holds
  nothing but ``*.template`` files, the launch points ``SPARK_CONF_DIR`` at
  an empty directory in the cache (restored right after); otherwise, or
  when the Hadoop/YARN conf dirs or ``SPARK_DIST_CLASSPATH`` add to the
  classpath, CDS is skipped.
- A truncated archive crashes the JVM, so a dump never writes the final
  name. One process at a time holds ``<key>.lock`` (``O_EXCL``) and has its
  JVM dump to ``<key>.<pid>.tmp``. At interpreter exit it closes the
  gateway's stdin, waits for the JVM, and promotes the file with
  ``os.replace`` only if the JVM exited with 0 and a ``java -version``
  maps the archive cleanly. Every start removes temp files and locks
  whose process is gone.
- Without a usable archive and without the lock, the JVM starts exactly
  as it would without this module. The dumping run pays the dump once per
  key (~10-40 s more at exit).
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import shutil
import subprocess
from typing import Iterator, NamedTuple

#: Without these the dumping run prints "Pre JDK 6 class not supported by
#: CDS" warnings, and a classpath mismatch "Unable to use shared archive".
LOG = "-Xlog:cds=off,cds+dynamic=off"
#: How long the exiting interpreter waits for the dumping JVM.
DUMP_WAIT_S = 180
#: Settings that change the driver classpath beside ``$SPARK_HOME/jars``.
CLASSPATH_CONFS = ("spark.jars", "spark.driver.extraClassPath")
#: Environment that puts directories of its own on the launcher's classpath.
CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
JAVA_OPTS = "spark.driver.extraJavaOptions"


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache"
    )
    return os.path.join(base, "scio_spark", "cds")


def _java() -> str | None:
    """The binary spark-class runs: ``$JAVA_HOME/bin/java``, else ``java``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def _only_templates(conf_dir: str) -> bool:
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def key(java: str, spark_home: str, confs: dict[str, str]) -> str:
    h = hashlib.sha256()

    def add(path: str, name: str) -> None:
        st = os.stat(path)
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())

    add(java, java)
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    h.update(jars.encode())
    for name in sorted(os.listdir(jars)):
        add(os.path.join(jars, name), name)
    for k in CLASSPATH_CONFS:
        h.update(f"{k}={confs.get(k, '')}\n".encode())
    h.update(os.environ.get("PYSPARK_SUBMIT_ARGS", "").encode())
    return h.hexdigest()[:20]


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _sweep(cache: str) -> None:
    """Remove temp archives (``<key>.<pid>.tmp``) and locks whose process
    is gone: a killed run leaves them, and they are never promoted."""
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        try:
            if name.endswith(".tmp"):
                pid = name.split(".")[-2]
            elif name.endswith(".lock"):
                with open(path) as f:
                    pid = f.read().strip()
            else:
                continue
            if pid.isdigit() and not _alive(int(pid)):
                os.remove(path)
        except OSError:
            pass


def _loads(java: str, archive: str) -> bool:
    """Whether a JVM maps ``archive`` and exits cleanly (a truncated
    archive aborts it)."""
    err = f"{archive}.hs_err"
    try:
        return subprocess.run(
            [java, f"-XX:SharedArchiveFile={archive}", LOG,
             f"-XX:ErrorFile={err}", "-XX:-CreateCoredumpOnCrash", "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=60,
        ).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False
    finally:
        with contextlib.suppress(OSError):
            os.remove(err)


def _remove(*paths: str) -> None:
    for p in paths:
        with contextlib.suppress(OSError):
            os.remove(p)


class Dump(NamedTuple):
    java: str
    tmp: str
    archive: str
    lock: str


def _promote(proc, dump: Dump, owner: int) -> None:
    """atexit: end the dumping JVM, then promote its archive if it exited 0."""
    if os.getpid() != owner:  # a forked child inherited the hook
        return
    from pyspark import SparkContext

    java, tmp, archive, lock = dump
    try:
        sc = SparkContext._active_spark_context
        if sc is not None and getattr(sc._gateway, "proc", None) is proc:
            # stop first: the JVM ends while this interpreter still runs,
            # and a live accumulator server would trace its EOF
            with contextlib.suppress(Exception):
                sc.stop()
        with contextlib.suppress(OSError, ValueError):
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
        try:
            rc = proc.wait(timeout=DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = None
        if rc == 0 and os.path.isfile(tmp) and _loads(java, tmp):
            os.replace(tmp, archive)
            cache, name = os.path.split(archive)
            _remove(*(os.path.join(cache, n) for n in os.listdir(cache)
                      if n.endswith(".jsa") and n != name))
    except OSError:
        pass
    finally:
        _remove(tmp, lock)


def _plan(confs: dict[str, str]):
    """(flags, empty conf dir, dump files or None) for this launch, or None
    when CDS does not apply."""
    from pyspark.find_spark_home import _find_spark_home

    opts = confs.get(JAVA_OPTS, "")
    if any(s in opts for s in ("Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")):
        return None
    if any(os.environ.get(v) for v in CLASSPATH_ENV):
        return None
    java = _java()
    if java is None:
        return None
    try:
        spark_home = _find_spark_home()
        conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
        if not _only_templates(conf_dir):
            return None
        cache = cache_dir()
        empty = os.path.join(cache, "empty-conf")
        os.makedirs(empty, exist_ok=True)
        if os.listdir(empty):
            return None
        _sweep(cache)
        k = key(java, spark_home, confs)
    except (OSError, SystemExit):  # _find_spark_home exits when it finds none
        return None
    archive = os.path.join(cache, f"{k}.jsa")
    if os.path.isfile(archive):
        return f"-XX:SharedArchiveFile={archive}", empty, None
    lock = os.path.join(cache, f"{k}.lock")
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except OSError:  # another process is dumping, or the cache is read-only
        return None
    with os.fdopen(fd, "w") as f:
        f.write(str(os.getpid()))
    if os.path.isfile(archive):  # promoted while we looked
        _remove(lock)
        return f"-XX:SharedArchiveFile={archive}", empty, None
    tmp = os.path.join(cache, f"{k}.{os.getpid()}.tmp")
    return f"-XX:ArchiveClassesAtExit={tmp}", empty, Dump(java, tmp, archive, lock)


@contextlib.contextmanager
def launch(confs: dict[str, str]) -> Iterator[dict[str, str]]:
    """Yield the confs to launch the driver JVM with inside the block, with
    the CDS flags appended to ``spark.driver.extraJavaOptions`` and
    ``SPARK_CONF_DIR`` redirected while the block runs. A process that
    already has a JVM, or where CDS does not apply, gets ``confs`` as is."""
    from pyspark import SparkContext

    plan = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        plan = _plan(confs)
    if plan is None:
        yield confs
        return
    flag, empty, dump = plan
    opts = " ".join(o for o in (confs.get(JAVA_OPTS, ""), flag, LOG) if o)
    saved = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = empty
    try:
        yield {**confs, JAVA_OPTS: opts}
    except BaseException:
        if dump is not None:
            _remove(dump.tmp, dump.lock)
        raise
    finally:
        if saved is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = saved
    if dump is not None:
        proc = SparkContext._gateway.proc if SparkContext._gateway else None
        if proc is None:
            _remove(dump.tmp, dump.lock)
        else:
            atexit.register(_promote, proc, dump, os.getpid())
