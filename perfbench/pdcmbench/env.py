"""Process environment for a benchmark run: every directory Spark, the JVM
and the program write to lives under ``perfbench/.work`` of the checkout,
and the session is sized to the machine it runs on."""

from __future__ import annotations

import hashlib
import os
import platform
import tempfile

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
LAKE = os.path.join(BENCH_DIR, "lake")
WORK = os.path.join(BENCH_DIR, ".work")
ORACLE_CACHE = os.path.join(WORK, "oracles")

# lake scale the timed work reads, and the one the warm-up reads
SF_TIMED = os.path.join(LAKE, "sf0.01")
SF_WARM = os.path.join(LAKE, "sf0.001")

# the program's own tuning switches: a benchmark run leaves them at their
# defaults so it measures what a user gets
PROGRAM_KNOBS = (
    "SPARK_GRAFT_DAG_REUSE",
    "SPARK_GRAFT_SHARE_INTERMEDIATES",
    "SPARK_GRAFT_IO_CODEC",
)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def physical_memory_gib() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


def driver_memory() -> str:
    """A quarter of physical memory, between 2g and 8g: the driver JVM is
    the whole local-mode cluster, and the session factory's own default
    (24g) can exceed the machine."""
    return f"{max(2, min(8, round(physical_memory_gib() / 4)))}g"


def configure_process(run_dir: str) -> dict[str, str]:
    """Point every temporary location inside ``run_dir`` and size the
    session. Must run before pyspark starts the JVM. Returns the Spark
    settings the session is built with."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    for knob in PROGRAM_KNOBS:
        os.environ.pop(knob, None)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None  # re-read TMPDIR on next use
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} "
            f"-Dderby.system.home={os.path.join(run_dir, 'derby')}"
        ),
        "spark.ui.showConsoleProgress": "false",
        # the status tracker must still hold a whole run's jobs when the
        # traced run attributes them to layers at the end
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def source_digest() -> str:
    """sha256 over the program's source files: identifies the code under
    test where the checkout carries no git metadata."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "pdcm_etl_spark")
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames.sort()
        paths += [os.path.join(dirpath, f) for f in sorted(filenames)
                  if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    """HEAD of the checkout when it is a git work tree (read from the
    files, no subprocess)."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as fh:
            ref = fh.read().strip()
        if not ref.startswith("ref: "):
            return ref
        with open(os.path.join(ROOT, ".git", ref[5:])) as fh:
            return fh.read().strip()
    except OSError:
        return None


def machine_info(spark, seed: int) -> dict:
    jvm = spark.sparkContext._jvm
    return {
        "cpus": cpus(),
        "memory_gib": round(physical_memory_gib(), 1),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "spark": spark.version,
        "java": str(jvm.System.getProperty("java.version")),
        "python": platform.python_version(),
        "commit": git_commit(),
        "source_sha256": source_digest(),
        "seed": seed,
    }
