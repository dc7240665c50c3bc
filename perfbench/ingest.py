"""``ingest_daily``: raw CSV extracts -> debounce -> batch state table ->
``MedallionPipeline.run_batch`` for every batch, until drained.

One episode = every file event of the traffic, from the first event to
all KPIs merged, in fresh zone and state directories.  Each run times one
episode, whatever ``--seconds`` says, and checks its outputs afterwards.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from common import (Tracer, attribute_jobs, dir_bytes, geomean, median,
                    reduce_event_log, sum_jobs)
from ingestgen import IngestInputs, make_ingest_inputs

DAYS = 2
ORDERS_PER_DAY = 1500
REDELIVERY_ORDERS = 300
PRODUCTS = 400
ZONES = ("validated", "rejected", "kpis")


def generate(root: str, seed: int) -> IngestInputs:
    return make_ingest_inputs(root, seed, DAYS, ORDERS_PER_DAY, PRODUCTS,
                              REDELIVERY_ORDERS)


def describe(inputs: IngestInputs) -> dict:
    return {"days": DAYS, "orders_per_day": ORDERS_PER_DAY,
            "redelivery_orders": REDELIVERY_ORDERS, "products": PRODUCTS,
            "batches": [(b.days, b.redelivery) for b in inputs.batches],
            "raw_bytes": inputs.raw_bytes,
            "injected": {f"{e}.{t}": n for (e, t), n in inputs.injected.items()}}


def _entity(path: str) -> str:
    return os.path.basename(path).rsplit(".", 1)[0]


def episode(spark, inputs: IngestInputs, base: str, tracer: Tracer) -> dict:
    """Run one episode; returns its wall time and per-batch latencies."""
    from data_pipeline_for_e_commerce_shop_spark.pipeline import MedallionPipeline
    from data_pipeline_for_e_commerce_shop_spark.streaming.debounce import debounce_batches
    from data_pipeline_for_e_commerce_shop_spark.streaming.runner import (
        BatchStateTable, run_until_drained)

    pipe = MedallionPipeline(spark, os.path.join(base, "zones"))
    state = BatchStateTable(spark, os.path.join(base, "state"))
    upsert_bytes = []
    if tracer.enabled:
        for m in ("enqueue", "claim_next", "finish", "requeue_failed"):
            tracer.wrap(state, m, f"runner.{m}")
        for m, name in (("validate_and_load", "validate"),
                        ("enforce_referential_integrity", "ri"),
                        ("write_validated", "write_validated"),
                        ("read_validated", "read_validated"),
                        ("upsert_kpis", "kpi_upsert")):
            tracer.wrap(pipe, m, f"pipeline.{name}")
        upsert = pipe.upsert_kpis

        def measured_upsert(*a, **k):
            upsert(*a, **k)
            upsert_bytes.append(dir_bytes(os.path.join(pipe.base, "kpis")))

        pipe.upsert_kpis = measured_upsert

    latencies = []

    def process(row) -> None:
        paths = defaultdict(list)
        for p in row["file_paths"]:
            paths[_entity(p)].append(p)
        t0 = time.perf_counter()
        with tracer.span("pipeline.run_batch", row["batch_id"]):
            pipe.run_batch(dict(paths))
        latencies.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    with tracer.span("ingest"):
        events = spark.createDataFrame(
            inputs.file_events(), "event_ts timestamp, group_key string, file_path string")
        with tracer.span("debounce"):
            batches = debounce_batches(events, watermark=None)
        state.enqueue(batches)
        with tracer.span("runner.drain"):
            stats = run_until_drained(state, process)
    wall = time.perf_counter() - t0
    return {"ingest_s": wall, "batch_s": latencies, "stats": stats,
            "upsert_bytes": upsert_bytes, "base": base}


def _layers(tracer: Tracer, event_log_dir: str, ep: dict, inputs: IngestInputs,
            check: dict) -> dict[str, float]:
    jobs_by_span = attribute_jobs(reduce_event_log(event_log_dir), tracer)
    tot = tracer.totals()
    self_t = tracer.self_times()
    out: dict[str, float] = {}

    def jobs(*names):
        return [j for s in tracer.spans if s.name in names
                for j in jobs_by_span.get(s.sid, [])]

    control = ("runner.enqueue", "runner.claim_next", "runner.finish",
               "runner.requeue_failed")
    for name in control:
        out[f"runner.{name.split('.')[1].split('_')[0]}_s"] = tot.get(name, 0.0)
    control_s = sum(tot.get(n, 0.0) for n in control) + self_t.get("runner.drain", 0.0)
    out["runner.control_jobs"] = len(jobs(*control, "runner.drain"))
    out["runner.control_share"] = control_s / ep["ingest_s"]
    out["debounce.batches"] = ep["stats"]["done"] + ep["stats"]["failed"]
    for step in ("validate", "ri", "write_validated", "read_validated", "kpi_upsert"):
        out[f"pipeline.{step}_s"] = tot.get(f"pipeline.{step}", 0.0)
        out[f"pipeline.{step}_jobs"] = len(jobs(f"pipeline.{step}"))
    out.update(sum_jobs(jobs("pipeline.run_batch", "pipeline.validate", "pipeline.ri",
                             "pipeline.write_validated", "pipeline.read_validated",
                             "pipeline.kpi_upsert"), "exec"))
    out["exec.write_s"] = tot.get("pipeline.write_validated", 0.0) + tot.get(
        "pipeline.kpi_upsert", 0.0)
    q = check["quarantined_total"]
    out["quality.quarantined_rows"] = q
    out["quality.admit_ratio"] = (check["raw_rows"] - q) / check["raw_rows"]
    zones = os.path.join(ep["base"], "zones")
    kpi_bytes = dir_bytes(os.path.join(zones, "kpis"))
    out["merge.write_amplification"] = sum(ep["upsert_bytes"]) / kpi_bytes
    out["sinks.validated_bytes"] = dir_bytes(os.path.join(zones, "validated"))
    out["sinks.rejected_bytes"] = dir_bytes(os.path.join(zones, "rejected"))
    out["stored_bytes_per_raw_byte"] = (
        sum(dir_bytes(os.path.join(zones, z)) for z in ZONES)
        + dir_bytes(os.path.join(ep["base"], "state"))) / inputs.raw_bytes
    out["trace.blocking_self_s"] = sum(self_t.values())
    return out


def run(spark_factory, inputs: IngestInputs, work: str, trace: bool,
        event_log_dir: str, rss) -> dict:
    """One episode in the session set-up leaves behind, as a job started
    per delivery pays it.  A traced run adds an untraced and a traced warm
    episode (the latter after a restart with the event log on) to measure
    the tracing overhead.  Every episode's zones are checked."""
    from expected import check_episode

    spark = spark_factory(False)
    rss.armed = True
    first = episode(spark, inputs, os.path.join(work, "episode_1"), Tracer(spark))
    rss.armed = False
    episodes = [first]
    result = {"e2e": {"panel_s": first["ingest_s"],
                      "query_geomean_s": geomean(first["batch_s"]),
                      "batch_p50_s": median(first["batch_s"]),
                      "samples": len(first["batch_s"]), "passes": 1}}
    if trace:
        warm = episode(spark, inputs, os.path.join(work, "episode_2"), Tracer(spark))
        spark.stop()
        spark = spark_factory(True)
        tracer = Tracer(spark, enabled=True)
        traced = episode(spark, inputs, os.path.join(work, "episode_3"), tracer)
        episodes += [warm, traced]
    spark.stop()
    checks = [check_episode(inputs, ep["base"]) for ep in episodes]
    if trace:
        layers = _layers(tracer, event_log_dir, traced, inputs, checks[-1])
        layers["trace.overhead_s"] = traced["ingest_s"] - warm["ingest_s"]
        result["layers"] = layers
        result["tracer"] = tracer
    result["episodes"] = [{k: v for k, v in ep.items() if k != "base"} for ep in episodes]
    result["checks"] = checks
    # One operation per batch; a batch the runner left failed counts as failed.
    result["attempted"] = len(checks) * len(inputs.batches)
    result["failed"] = sum(c["failed_batches"] for c in checks)
    result["wrong"] = max(c["wrong_rows"] for c in checks)
    result["correct"] = all(c["correct"] for c in checks)
    return result
