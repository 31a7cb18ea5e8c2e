"""PySpark-native analytics engine with the query/data-processing
capabilities of the OpenTelemetry Collector Contrib pipeline model.

Brand-new Spark-first design (NOT a port): the collector's
receiver -> processor -> connector -> exporter DAG is re-expressed as a
batch parse -> enrich -> route -> aggregate DataFrame plan, compiled
declaratively so Catalyst/Tungsten pick the physical strategy.

Reference semantics (file:line citations throughout) are from
sincejune/opentelemetry-collector-contrib, studied read-only at
/root/reference.
"""

import os
import sys
import zipimport

__version__ = "0.1.0"

_STAMP = "_otel_spark_zip_stamp"


def _interpreter_start_ns() -> int:
    """A wall-clock time (ns) no later than this interpreter's start, 0
    where it cannot be shown. It is the start of the oldest process in
    the chain of parents that run this executable: a fork without exec
    keeps the executable, so the process that exec'd this interpreter
    is in that chain (a PySpark worker is forked from its daemon, and
    inherits the daemon's importers). Linux ``/proc`` only; the boot
    time is whole seconds rounded down, which only makes it earlier."""
    try:
        with open("/proc/stat") as f:
            boot = next(int(x.split()[1]) for x in f if x.startswith("btime"))
        exe, pid, ticks = os.readlink("/proc/self/exe"), os.getpid(), None
        while pid > 0 and os.readlink(f"/proc/{pid}/exe") == exe:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            pid, ticks = int(fields[1]), int(fields[19])
    except (OSError, ValueError, StopIteration):
        return 0
    return (boot * 10**9 + ticks * 10**9 // os.sysconf("SC_CLK_TCK")
            if ticks is not None else 0)


def _backport_lazy_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when the file changed since that importer last read it.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task (``worker_util.setup_spark_files``). Before
    CPython 3.12, each ``zipimporter`` on ``sys.path`` then re-parses its
    archive's whole central directory in pure Python: ~26k entries over
    pyspark.zip, the py4j zip and the spark-core jar, 190-340 ms per
    task on a 4-vCPU host, against 20-35 ms for a typical UDF body.
    CPython 3.12 made the invalidation lazy (gh-103200); this keeps the
    3.11 method but skips the re-read while the archive's
    ``(st_mtime_ns, st_size, st_ino)`` equals the stamp taken just
    before this importer's last read. A rewritten archive still gets
    re-read, which is what ``invalidate_caches`` is for. A stat error
    falls through to the original method. The patch lives in the
    package ``__init__`` because a worker imports it when it unpickles
    an engine UDF that names a module-level engine function (a UDF made
    only of closures imports the package itself, as
    ``operators/coralogix.py`` does). From then on an unchanged archive
    costs one ``stat``: an importer with no stamp yet takes one without
    a read when its archive's inode last changed (``st_ctime``, which
    any write or rename moves forward) before this interpreter started,
    because every read the importer holds happened after that start.
    On 3.12+ it does nothing.
    """
    if sys.version_info >= (3, 12):
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, _STAMP, False):  # already installed
        return
    started_ns = _interpreter_start_ns()

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self.__dict__.pop(_STAMP, None)
            return original(self)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
        last = self.__dict__.get(_STAMP)
        if last != stamp:
            if last is not None or st.st_ctime_ns >= started_ns:
                original(self)
            setattr(self, _STAMP, stamp)

    setattr(invalidate_caches, _STAMP, True)
    zipimport.zipimporter.invalidate_caches = invalidate_caches


_backport_lazy_zip_invalidation()
