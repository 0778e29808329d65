"""release_delta: one provider re-submits its data.

Set-up runs bench.py's warm-up pass over the operator suite (warmup.py),
then builds the base index with the first
``run_etl_search_index_incremental`` call. Each timed iteration runs the
same call for the seeded provider (the metadata DAG over that provider's
rows only, merged into the base by partition replacement) and writes the
merged index with ``write_entity_parquet``. Every written index is then
checked against the full-rebuild oracles of ``__spark_entry__``.
"""

from __future__ import annotations

import contextlib
import os
import random
import time

from . import checks, env
from .release import dataset_layout
from .stats import median
from .tracing import timed
from .warmup import warm_pass

SF = env.SF_WARM


def providers(sf_dir: str) -> list[str]:
    """Provider names the synthetic workload derives from the lake (one
    per region)."""
    con = checks.lake_connection(sf_dir)
    rows = con.execute(
        "SELECT DISTINCT replace(r_name, ' ', '_') FROM region ORDER BY 1"
    ).fetchall()
    return [r[0] for r in rows]


def delta_provider(seed: int, names: list[str]) -> str:
    return random.Random(seed).choice(sorted(names))


@contextlib.contextmanager
def traced_layers(run):
    """Wrap the public functions the incremental layer calls, so their
    time and jobs show as their own spans. Only in a traced run."""
    if not run.tracer.enabled:
        yield {}
        return
    from pdcm_etl_spark.plans import dag, synth

    shared: list[int] = []
    tracer, engine = run.tracer, run.engine
    orig_synth = synth.synthesize_provider_modules
    orig_build = dag.build_metadata_dag
    orig_run = dag.EntityDag.run

    def dag_run(self, *args, **kwargs):
        before = engine.persistent_rdd_ids()
        with tracer.layer("dag.run"):
            out = orig_run(self, *args, **kwargs)
        shared.append(len(engine.persistent_rdd_ids() - before))
        return out

    synth.synthesize_provider_modules = tracer.wrap("synth", orig_synth)
    dag.build_metadata_dag = tracer.wrap("dag.build", orig_build)
    dag.EntityDag.run = dag_run
    try:
        yield {"shared": shared}
    finally:
        synth.synthesize_provider_modules = orig_synth
        dag.build_metadata_dag = orig_build
        dag.EntityDag.run = orig_run


def run(ctx) -> dict[str, float]:
    from pdcm_etl_spark.plans.incremental import (
        run_etl_search_index_incremental,
    )
    from pdcm_etl_spark.sources.sinks import write_entity_parquet

    import __spark_entry__ as entry

    spark, tracer = ctx.spark, ctx.tracer
    provider = delta_provider(ctx.seed, providers(SF))
    out_dir = os.path.join(ctx.run_dir, "release_delta")

    def release(i: int) -> tuple[float, float, str]:
        path = os.path.join(out_dir, f"search_index-{i}")
        t0 = time.perf_counter()
        with tracer.layer("incremental", iteration=i):
            six = run_etl_search_index_incremental(
                spark, SF, delta_provider=provider)
        t1 = time.perf_counter()
        with tracer.layer("sinks.write", iteration=i):
            write_entity_parquet(six, path)
        return t1 - t0, time.perf_counter() - t1, path

    with ctx.setup():
        warm_pass(ctx)
        t0 = time.perf_counter()
        with tracer.layer("incremental.base", iteration=-1):
            release(-1)
        base_s = time.perf_counter() - t0
    ctx.engine.release_blocks()

    plans, execs, outputs, latencies = [], [], [], []
    with ctx.measuring(), traced_layers(ctx) as hooks:
        for i in ctx.timer():
            ctx.attempted += 1
            with tracer.layer("release", iteration=i, jobs=False):
                try:
                    plan_s, exec_s, path = release(i)
                except Exception as e:  # a failed release is counted
                    ctx.fail(f"release {i}", f"raised {e!r}"[:300])
                    latencies.append(float("inf"))
                    continue
            plans.append(plan_s)
            execs.append(exec_s)
            latencies.append((plan_s + exec_s) * 1000.0)
            outputs.append(path)
            ctx.engine.release_blocks()

    # ---- checks (untimed) ----
    con = checks.lake_connection(SF)
    oracles = entry.oracle_sql()
    expected = {}
    for name in ("etl_search_index_incremental", "etl_search_index"):
        sql = oracles[name]
        if sql not in expected:
            expected[sql] = (
                name, checks.lake_oracle(con, SF, sql, env.ORACLE_CACHE))
    unreadable = 0
    recompute = []
    for path in outputs:
        pattern = checks.parquet_glob(path)
        if pattern is None:
            unreadable += 1
            ctx.fail(path, "no readable parquet file was written")
            continue
        got = checks.duck_result(con, f"SELECT * FROM read_parquet('{pattern}')")
        problems = [f"vs {name}: {problem}" for name, want in expected.values()
                    if (problem := checks.compare(got, want))]
        ctx.check(os.path.basename(path), "; ".join(problems) or None)
        n_delta, n_all = con.execute(
            f"SELECT count(*) FILTER (WHERE data_source = ?), count(*) "
            f"FROM read_parquet('{pattern}')", [provider]).fetchone()
        recompute.append(n_delta / n_all)

    finite = [x for x in latencies if x != float("inf")]
    files, nbytes = dataset_layout(outputs[-1]) if outputs else (0, 0)
    if finite:
        ctx.layer.update({
            "incremental.plan_s": median(plans),
            "incremental.exec_s": median(execs),
            "sinks.write_s": median(execs),
            "sinks.write_max_s": max(execs),
        })
    ctx.layer.update({
        "incremental.base_s": base_s,
        "incremental.recompute_frac": median(recompute) if recompute else 0.0,
        "sinks.files": files,
        "sinks.bytes": nbytes,
        "sinks.unreadable_entities": unreadable,
        "ops": len(latencies),
    })
    if tracer.enabled:
        layers = tracer.summary(include=timed)
        n = max(1, len(finite))
        ctx.layer.update({
            "synth.plan_s": layers.get("synth", {}).get("total_s", 0) / n,
            "dag.build_s": layers.get("dag.build", {}).get("total_s", 0) / n,
            "dag.run_s": layers.get("dag.run", {}).get("total_s", 0) / n,
            "dag.jobs": layers.get("dag.run", {}).get("jobs", 0) / n,
            "dag.shared_nodes": median(hooks["shared"]) if hooks["shared"] else 0,
            "incremental.jobs": sum(
                layers.get(k, {}).get("jobs", 0)
                for k in ("incremental", "synth", "dag.build", "dag.run")) / n,
        })
    total_s = sum(finite) / 1000.0
    return {
        "latency_p50_ms": median(latencies),
        "ops_per_s": len(finite) / total_s if total_s else 0.0,
    }
