"""api_serve: site users reading a written release through the API views.

Set-up reads every entity of the sf0.01 release back with
``spark.read.parquet``, registers them (``register_entities``) and
creates the API views (``create_views``). Then a closed loop of client
threads sends a seeded mix of requests, each ``spark.sql`` then
``collect``; the first WARM_REQUESTS of them are sent, untimed, in
set-up. Every response is checked against DuckDB over the same
release parquet, with SQL written independently of the program's views.
"""

from __future__ import annotations

import math
import os
import random
import threading
import time
from dataclasses import dataclass

from . import checks, release
from .metrics import REQUEST_CLASSES
from .stats import median, tail
from .tracing import timed

CLIENTS = 2
# untimed requests before the timed phase: four blocks of the mix, which
# hold every request class and every facet view
WARM_REQUESTS = 40
MIX = {"search": 40, "detail": 30, "facet": 20, "molecular": 10}
PAGE = 20
SEARCH_COLUMNS = (
    "pdcm_model_id, external_model_id, data_source, model_type, histology, "
    "primary_site, patient_sex, patient_age, dataset_available"
)

_GROUP_COUNT = "SELECT {cols}, COUNT(1) AS count FROM search_index GROUP BY {cols}"
_EXPLODE_COUNT = (
    "SELECT {expr} AS {name}, COUNT(DISTINCT pdcm_model_id) AS count FROM ("
    "SELECT pdcm_model_id, unnest({array}) AS v FROM search_index) "
    "GROUP BY {name}"
)
# facet view -> DuckDB SQL computing the same counts from search_index
FACETS = {
    "models_by_primary_site": _GROUP_COUNT.format(cols="primary_site"),
    "models_by_tumour_type": _GROUP_COUNT.format(cols="tumour_type"),
    "models_by_patient_age": _GROUP_COUNT.format(cols="patient_age"),
    "models_by_patient_sex": _GROUP_COUNT.format(cols="patient_sex"),
    "models_by_patient_ethnicity": _GROUP_COUNT.format(cols="patient_ethnicity"),
    "models_by_anatomical_system_and_diagnosis": _GROUP_COUNT.format(
        cols="cancer_system, histology"),
    "models_by_dataset_availability": _EXPLODE_COUNT.format(
        expr="v", name="dataset_availability", array="dataset_available"),
    "models_by_mutated_gene": _EXPLODE_COUNT.format(
        expr="split_part(v, '/', 1)", name="mutated_gene",
        array="markers_with_mutation_data"),
}

MOLECULAR_ORACLE = """
    SELECT mc.model_id, mc.sample_id, mc.sample_origin AS source,
           COALESCE(m.hgnc_symbol, m.non_harmonised_symbol) AS hgnc_symbol,
           m.amino_acid_change, m.consequence, m.read_depth,
           m.allele_frequency, m.seq_start_position, m.ref_allele,
           m.alt_allele, m.data_source_tmp AS data_source,
           m.non_harmonised_symbol, m.harmonisation_result
    FROM mutation_measurement_data m
    JOIN molecular_characterization mc
      ON mc.id = m.molecular_characterization_id
    WHERE mc.molchar_type <> 'immunemarker'
      AND mc.model_id = '{model}'
      AND NOT EXISTS (
        SELECT 1 FROM molecular_data_restriction r
        WHERE r.data_source = m.data_source_tmp
          AND r.molecular_data_table = 'mutation_measurement_data')
"""

# release entities the oracles read
ORACLE_ENTITIES = [
    "search_index", "molecular_characterization",
    "mutation_measurement_data", "molecular_data_restriction",
]


@dataclass(frozen=True)
class Request:
    cls: str
    sql: str  # sent to Spark
    oracle: str  # run by DuckDB
    ordered: bool = False


@dataclass(frozen=True)
class Domains:
    """Values requests draw from, read from the release."""
    histologies: list[str]
    model_ids: list[int]
    molecular_models: list[str]


def domains(con) -> Domains:
    def col(sql):
        return [r[0] for r in con.execute(sql).fetchall()]

    return Domains(
        histologies=col("SELECT DISTINCT histology FROM search_index "
                        "WHERE histology IS NOT NULL ORDER BY 1"),
        model_ids=col("SELECT pdcm_model_id FROM search_index ORDER BY 1"),
        molecular_models=col(
            "SELECT DISTINCT mc.model_id FROM mutation_measurement_data m "
            "JOIN molecular_characterization mc "
            "ON mc.id = m.molecular_characterization_id ORDER BY 1"),
    )


def make_request(cls: str, rng: random.Random, d: Domains,
                 facet: str) -> Request:
    if cls == "search":
        histology = rng.choice(d.histologies).replace("'", "''")
        sql = (f"SELECT {SEARCH_COLUMNS} FROM search_index "
               f"WHERE histology = '{histology}' ORDER BY pdcm_model_id "
               f"LIMIT {PAGE} OFFSET {PAGE * rng.randrange(3)}")
        return Request(cls, sql, sql, ordered=True)
    if cls == "detail":
        sql = (f"SELECT * FROM search_index "
               f"WHERE pdcm_model_id = {rng.choice(d.model_ids)}")
        return Request(cls, sql, sql)
    if cls == "facet":
        return Request(cls, f"SELECT * FROM {facet}", FACETS[facet])
    model = rng.choice(d.molecular_models).replace("'", "''")
    return Request(
        cls, f"SELECT * FROM mutation_data_extended WHERE model_id = '{model}'",
        MOLECULAR_ORACLE.format(model=model))


def request_stream(seed: int, d: Domains, n: int) -> list[Request]:
    """``n`` requests in shuffled blocks that each hold the exact mix, so
    a short run sees the stated proportions rather than a random draw.
    Facet requests cycle through the facet views (from a seeded start),
    so every run sees them in equal shares."""
    rng = random.Random(seed)
    block = [cls for cls, k in MIX.items() for _ in range(k // 10)]
    views = sorted(FACETS)
    facets = rng.randrange(len(views))
    out: list[Request] = []
    while len(out) < n:
        rng.shuffle(block)
        for cls in block:
            out.append(make_request(cls, rng, d, views[facets % len(views)]))
            facets += cls == "facet"
    return out[:n]


def read_back(spark, path: str, entities: list[str]):
    """(entity -> DataFrame, unreadable entity names)."""
    from pyspark.errors import AnalysisException

    frames, unreadable = {}, []
    for name in entities:
        try:
            frames[name] = spark.read.parquet(os.path.join(path, name))
        except AnalysisException:
            unreadable.append(name)
    return frames, unreadable


def serve(send, stream: list[Request], first: int, *,
          count: int | None = None, seconds: float | None = None):
    """Send ``stream[first:]`` from a closed loop of CLIENTS threads until
    ``count`` requests have been taken or ``seconds`` have passed (the
    requests in flight then run to completion). Returns (request index ->
    (response, plan ms, exec ms, total ms) or the error it raised, wall
    seconds)."""
    lock = threading.Lock()
    last = len(stream) if count is None else first + count
    cursor = iter(range(first, last))
    results: dict[int, tuple | str] = {}
    t0 = time.perf_counter()
    deadline = t0 + seconds if seconds is not None else math.inf

    def client():
        while time.perf_counter() < deadline:
            with lock:
                i = next(cursor, None)
            if i is None:
                return
            t = time.perf_counter()
            try:
                resp, plan_ms, exec_ms = send(stream[i], i)
                out = resp, plan_ms, exec_ms, (time.perf_counter() - t) * 1000
            except Exception as e:  # a failed request is counted
                out = repr(e)[:300]
            with lock:
                results[i] = out

    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results, time.perf_counter() - t0


def run(ctx) -> dict[str, float]:
    from pdcm_etl_spark.plans.views import create_views, register_entities

    spark, tracer = ctx.spark, ctx.tracer
    path, manifest = release.ensure(spark)
    entities = manifest["entities"]
    con, _ = checks.release_connection(path, ORACLE_ENTITIES)
    stream = request_stream(ctx.seed, domains(con), 20_000)

    def send(req: Request, i: int):
        t0 = time.perf_counter()
        with tracer.layer(f"views.{req.cls}", iteration=i):
            df = spark.sql(req.sql)
            t1 = time.perf_counter()
            rows = df.collect()
        t2 = time.perf_counter()
        return (df.columns, rows), (t1 - t0) * 1000, (t2 - t1) * 1000

    with ctx.setup():
        ctx.warm_engine()
        t0 = time.perf_counter()
        with tracer.layer("sinks.read", iteration=-1):
            frames, unreadable = read_back(spark, path, entities)
        read_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        with tracer.layer("views.create", iteration=-1):
            register_entities(frames)
            created = create_views(spark)
        create_s = time.perf_counter() - t0
        # the first requests of the stream, untimed: first executions of
        # every query shape (codegen, file listing) and JIT warm-up of
        # the whole request path; as set-up spans they carry iteration -1
        warm, _ = serve(lambda req, i: send(req, -1), stream, 0,
                        count=WARM_REQUESTS)

    ctx.setup_checks += len(entities)
    for name in unreadable:
        ctx.defect(f"read back {name}", "no readable parquet file was written")

    with ctx.measuring():
        timed_results, wall = serve(send, stream, WARM_REQUESTS,
                                    seconds=ctx.seconds)

    # ---- checks (untimed) ----
    ctx.attempted += len(warm) + len(timed_results)
    expected: dict[str, tuple] = {}
    for i, out in sorted({**warm, **timed_results}.items()):
        req = stream[i]
        if isinstance(out, str):
            ctx.fail(f"request {i} ({req.sql})", f"raised {out}")
            continue
        if req.oracle not in expected:
            expected[req.oracle] = checks.duck_result(con, req.oracle)
        ctx.check(f"request {i} ({req.sql})",
                  checks.compare(out[0], expected[req.oracle],
                                 ordered=req.ordered))

    done = {i: out for i, out in timed_results.items()
            if not isinstance(out, str)}
    # ms; a failed request counts as inf
    latencies = [math.inf if isinstance(out, str) else out[3]
                 for out in timed_results.values()]
    files, nbytes = release.dataset_layout(path)
    ctx.layer.update({
        "sinks.read_s": read_s,
        "sinks.files": files,
        "sinks.bytes": nbytes,
        "sinks.unreadable_entities": len(unreadable),
        "views.create_s": create_s,
        "views.created": len(created),
        "ops": len(latencies),
    })
    for cls in REQUEST_CLASSES:
        mine = [out for i, out in done.items() if stream[i].cls == cls]
        if mine:
            ctx.layer[f"views.{cls}.plan_ms"] = median([m[1] for m in mine])
            ctx.layer[f"views.{cls}.exec_ms"] = median([m[2] for m in mine])
    tl = tail(latencies)
    if tl is not None:
        ctx.layer["api.tail_pct"], ctx.layer["api.tail_ms"] = tl
    if tracer.enabled:
        layers = tracer.summary(include=timed)
        for cls in REQUEST_CLASSES:
            row = layers.get(f"views.{cls}")
            if row:
                ctx.layer[f"views.{cls}.jobs"] = row["jobs"] / row["calls"]
    return {
        "latency_p50_ms": median(latencies),
        "ops_per_s": len(done) / wall,
    }
