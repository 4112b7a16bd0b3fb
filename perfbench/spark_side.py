"""The benchmark's Spark session and the functions it ships to workers.

Everything a run writes stays under the work directory: Spark's local
dirs, the JVM's and Python's temp files, the warehouse and the event
log. Python workers import ``extract_kit_spark`` from the checkout
under test (PYTHONPATH), and ``worker_provenance`` proves it.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import tempfile
import time
from pathlib import Path

from pyspark import cloudpickle

ROOT = Path(__file__).resolve().parent.parent

# worker-side functions below travel by value: the perfbench directory
# is not importable on the workers, and need not be
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def package_digest(pkg_dir: str) -> str:
    """sha256 over (relative path, contents) of every .py file."""
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(pkg_dir)
                   for f in fs if f.endswith(".py"))
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, pkg_dir).encode() + b"\0")
        with open(p, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def prepare_env(work: Path, slots: int) -> None:
    """Process environment shared by the benchmark, its set-up probes,
    the JVM and the Python workers. ``get_spark`` takes its master,
    ``local[slots]``, and its shuffle partitions from SPARK_GRAFT_CPUS."""
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(work / "tmp")
    # every JVM, the spark-submit launcher's too: temp files under the
    # work dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(k, None)
    tempfile.tempdir = None


def conf(work: Path, event_dir: Path | None = None) -> dict:
    c = {"spark.local.dir": str(work / "spark-local"),
         "spark.sql.warehouse.dir": str(work / "warehouse")}
    if event_dir is not None:
        event_dir.mkdir(parents=True, exist_ok=True)
        c.update({"spark.eventLog.enabled": "true",
                  # no zstd module is installed, so no compression
                  "spark.eventLog.compress": "false",
                  "spark.eventLog.dir": event_dir.as_uri()})
    return c


def start(work: Path, event_dir: Path | None = None):
    """(session, seconds spent in session.get_spark)."""
    from extract_kit_spark.session import get_spark
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench",
                      extra_conf=conf(work, event_dir))
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session, then the JVM, and wait for every descendant
    process (JVM, PySpark daemon, workers) to end."""
    from pyspark import SparkContext
    from proctree import tree
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = SparkContext._jvm = None
    me = os.getpid()
    deadline = time.monotonic() + 30
    while [p for p in tree(me, live_only=True) if p != me]:
        if time.monotonic() > deadline:
            for p in tree(me, live_only=True):
                if p != me:
                    try:
                        os.kill(p, 9)
                    except OSError:
                        pass
        time.sleep(0.1)


# -- run on Python workers ---------------------------------------------------

def worker_provenance(batches):
    """Where the worker imported extract_kit_spark from, and a digest of
    the sources it found there."""
    import pandas as pd
    import extract_kit_spark
    for _ in batches:
        pass
    pkg = os.path.dirname(os.path.abspath(extract_kit_spark.__file__))
    yield pd.DataFrame({"file": [extract_kit_spark.__file__],
                        "digest": [package_digest(pkg)]})


def identity(batches):
    yield from batches


def probe_workers(spark) -> dict:
    """Import ``extract_kit_spark`` on every worker slot and check that
    each one loaded the sources of this checkout."""
    want = package_digest(str(ROOT / "extract_kit_spark"))
    rows = spark.range(1).mapInPandas(
        worker_provenance, "file string, digest string").collect()
    for r in rows:
        if r["digest"] != want or not r["file"].startswith(str(ROOT)):
            raise RuntimeError(
                f"worker imported {r['file']} (digest {r['digest'][:12]}), "
                f"not the checkout under test ({want[:12]})")
    return {"worker_file": rows[0]["file"], "digest": want}
