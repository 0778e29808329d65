"""The sf0.01 release the api_serve workload reads: every non-raw entity
of the metadata DAG, written with ``write_entity_parquet``.

It is built once per checkout and program version (the directory name
carries the digest of the program's sources) and reused by later runs,
so api_serve measures the read path and not the release build. The
build runs in a process of its own before the first run's session
starts (``python3 -m pdcmbench.release`` from perfbench/), so it leaves
no warm JVM behind for that run to profit from.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from . import env

MANIFEST = "MANIFEST.json"


def dataset_layout(path: str) -> tuple[int, int]:
    """(parquet files, bytes) under a written dataset or release."""
    files = nbytes = 0
    for dirpath, _, filenames in os.walk(path):
        for f in filenames:
            if f.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(dirpath, f))
    return files, nbytes


def release_dir() -> str:
    return os.path.join(env.WORK, f"release-{env.source_digest()}",
                        os.path.basename(env.SF_TIMED))


def build(spark, path: str) -> dict:
    from pdcm_etl_spark.plans.dag import build_metadata_dag
    from pdcm_etl_spark.plans.synth import synthesize_provider_modules
    from pdcm_etl_spark.sources.sinks import write_entity_parquet

    t0 = time.perf_counter()
    raw = synthesize_provider_modules(spark, env.SF_TIMED)
    entities = build_metadata_dag(spark, raw).run()
    writes = {}
    for name, df in entities.items():
        t = time.perf_counter()
        write_entity_parquet(df, os.path.join(path, name))
        writes[name] = time.perf_counter() - t
    return {"entities": sorted(entities), "write_s": writes,
            "build_s": time.perf_counter() - t0}


def built() -> bool:
    return os.path.exists(os.path.join(release_dir(), MANIFEST))


def ensure(spark) -> tuple[str, dict]:
    """(release directory, manifest); builds the release when this
    checkout has none yet."""
    path = release_dir()
    manifest = os.path.join(path, MANIFEST)
    if not built():
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        info = build(spark, tmp)
        with open(os.path.join(tmp, MANIFEST), "w") as fh:
            json.dump(info, fh, indent=1)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(manifest) as fh:
        return path, json.load(fh)


def main() -> None:
    import sys

    sys.path.insert(0, env.ROOT)
    from .runner import Run

    run = Run("release-build", 0, 0, traced=False)
    try:
        ensure(run.spark)
    finally:
        run.close()


if __name__ == "__main__":
    main()
