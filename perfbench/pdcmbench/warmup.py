"""bench.py's warm-up pass at sf0.001, over the operator suite: one
registry query per operator family, each run once and collected, and
checked against its own DuckDB oracle from
``__spark_entry__.oracle_sql()``.

It runs inside release_delta's set-up, so ``operators/`` and
``streaming/`` — which neither workload's timed phase reaches — are
measured (``operators.*`` per-layer times, and ``setup_s``) and checked
in every run.
"""

from __future__ import annotations

import time

from . import checks, env
from .metrics import OPERATOR_GROUPS, SUITE


def warm_pass(ctx) -> None:
    import __spark_entry__ as entry

    spark, tracer = ctx.spark, ctx.tracer
    queries, oracles = entry.queries(), entry.oracle_sql()
    ctx.warm_engine()
    results, times = {}, {}
    for name in SUITE:
        t0 = time.perf_counter()
        with tracer.layer(f"operators.{name}", iteration=-1):
            try:
                results[name] = checks.spark_result(
                    queries[name](spark, env.SF_WARM))
            except Exception as e:  # a failing query is counted
                results[name] = e
        times[name] = time.perf_counter() - t0

    con = checks.lake_connection(env.SF_WARM)
    for name in SUITE:
        ctx.attempted += 1
        got = results[name]
        if isinstance(got, Exception):
            ctx.fail(f"{name} at sf0.001", f"raised {got!r}"[:300])
            continue
        want = checks.lake_oracle(con, env.SF_WARM, oracles[name],
                                  env.ORACLE_CACHE)
        ctx.check(f"{name} at sf0.001", checks.compare(got, want))
        ctx.layer[f"operators.{name}_s"] = times[name]
    for group, members in OPERATOR_GROUPS.items():
        ctx.layer[group] = sum(ctx.layer.get(f"operators.{q}_s", 0.0)
                               for q in members)
    ctx.engine.release_blocks()
