"""Query-panel workloads: each member cold, timed from the call of its
``QUERIES[name](spark, sf_dir)`` callable to the end of its final
``df.write.format("noop")``."""

from __future__ import annotations

import time
import traceback
from dataclasses import dataclass

from common import (Tracer, attribute_jobs, geomean, median, reduce_event_log,
                    release_blocks, sum_jobs)


@dataclass(frozen=True)
class Member:
    name: str
    sf: float
    group: str               # sub-panel: "olap" or "driver"
    streaming: bool = False  # the callable drains a stream before returning


# olap: execution-bound, the final write dominates each member's wall.
# driver: construction (py4j calls, eager side-jobs) and micro-batch
# drains dominate; the final writes are small.
PANEL = (
    Member("tpch_q9_product_type_profit", 0.1, "olap"),
    Member("events_stream_dedup", 0.001, "driver", streaming=True),
    Member("survey_raking_ipf", 0.001, "driver"),
)
GROUPS = ("olap", "driver")
MIN_PASSES = 3


def check_members(spark, sf_dirs: dict[float, str]) -> tuple[int, int, list[dict]]:
    """Untimed correctness pass: every member against its DuckDB oracle with
    the registry's typed comparison.  Returns (wrong, failed, details)."""
    from data_pipeline_for_e_commerce_shop_spark.queries import ORACLES, QUERIES
    from tests.oracle_utils import normalize, run_oracle

    wrong = failed = 0
    details = []
    for m in PANEL:
        release_blocks(spark)
        try:
            sdf = QUERIES[m.name](spark, sf_dirs[m.sf])
            s_cols, s_rows = sdf.columns, [tuple(r) for r in sdf.collect()]
            o_cols, o_rows = run_oracle(ORACLES[m.name], sf_dirs[m.sf])
        except Exception:
            failed += 1
            details.append({"member": m.name, "error": traceback.format_exc()[-800:]})
            continue
        ok = (sorted(s_cols) == sorted(o_cols)
              and normalize(s_cols, s_rows)[1] == normalize(o_cols, o_rows)[1])
        wrong += not ok
        details.append({"member": m.name, "rows": len(s_rows), "match": ok})
    return wrong, failed, details


class PanelRun:
    """Closed-loop passes over a panel: one member at a time, each cold."""

    def __init__(self, spark, sf_dirs: dict[float, str]):
        from data_pipeline_for_e_commerce_shop_spark.queries import QUERIES

        self.spark = spark
        self.sf_dirs = sf_dirs
        self.fns = {m.name: QUERIES[m.name] for m in PANEL}
        self.plan_counts: list[tuple[int, int, int]] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def one_pass(self, tracer: Tracer) -> dict[str, float]:
        """Member -> seconds (construct + final write) for one pass; a
        failed member is counted and left out."""
        from data_pipeline_for_e_commerce_shop_spark.plans import inspect

        times = {}
        for m in PANEL:
            name = m.name
            release_blocks(self.spark)
            self.attempted += 1
            layer = "streaming.drain" if m.streaming else "queries.construct"
            try:
                with tracer.span(layer, name) as construct:
                    df = self.fns[name](self.spark, self.sf_dirs[m.sf])
                if tracer.enabled:
                    with tracer.span("plans.physical_plan", name):
                        inspect.physical_plan(df)
                    self.plan_counts.append((inspect.exchange_count(df),
                                             int(inspect.has_nested_loop_join(df)),
                                             inspect.codegen_stage_count(df)))
                with tracer.span("exec.write", name) as write:
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                self.failed += 1
                self.errors.append(f"{name}: {traceback.format_exc()[-600:]}")
                continue
            times[name] = (construct.end - construct.start) + (write.end - write.start)
        return times

    def passes(self, tracer: Tracer, seconds: float) -> list[dict[str, float]]:
        """Passes until ``seconds`` have elapsed, at least ``MIN_PASSES``."""
        out = []
        t0 = time.perf_counter()
        while len(out) < MIN_PASSES or time.perf_counter() - t0 < seconds:
            out.append(self.one_pass(tracer))
        return out


def end_to_end(passes: list[dict[str, float]]) -> dict[str, float]:
    """A pass's wall is the sum over members of each member's median."""
    samples = [t for p in passes for t in p.values()]
    per_member = {}
    for p in passes:
        for name, t in p.items():
            per_member.setdefault(name, []).append(t)
    med = {name: median(v) for name, v in per_member.items()}
    groups = {g: sum(t for n, t in med.items() if n in names)
              for g in GROUPS for names in [{m.name for m in PANEL if m.group == g}]}
    return {
        "panel_s": sum(med.values()),
        "olap.panel_s": groups["olap"],
        "driver.panel_s": groups["driver"],
        "query_geomean_s": geomean(med.values()),
        "batch_p50_s": median(samples),
        "samples": len(samples),
        "passes": len(passes),
        "members": per_member,
    }


def per_layer(tracer: Tracer, event_log_dir: str, n_passes: int,
              plan_counts: list[tuple[int, int, int]]) -> dict[str, float]:
    """Per-pass layer metrics from the traced passes' spans and event log."""
    jobs_by_span = attribute_jobs(reduce_event_log(event_log_dir), tracer)
    out: dict[str, float] = {}

    def spans(name):
        return [s for s in tracer.spans if s.name == name]

    def jobs(name):
        return [j for s in spans(name) for j in jobs_by_span.get(s.sid, [])]

    construct = sum(s.end - s.start for s in spans("queries.construct"))
    batch_ops = {s.op for s in spans("queries.construct")}
    batch_write = sum(s.end - s.start for s in spans("exec.write") if s.op in batch_ops)
    out["queries.construct_s"] = construct
    out["queries.construct_jobs"] = len(jobs("queries.construct"))
    out["queries.construct_share"] = construct / (construct + batch_write) if construct else 0.0
    # load_table's parquet read fires a schema job from DataFrameReader.parquet
    out["schemas.load_jobs"] = sum("DataFrameReader.parquet" in j.callsite
                                   for j in jobs("queries.construct"))
    out["plans.physical_plan_s"] = sum(s.end - s.start for s in spans("plans.physical_plan"))
    out["plans.exchanges"] = sum(c[0] for c in plan_counts)
    out["plans.nested_loop_joins"] = sum(c[1] for c in plan_counts)
    out["plans.codegen_stages"] = sum(c[2] for c in plan_counts)
    out["exec.write_s"] = sum(s.end - s.start for s in spans("exec.write"))
    out.update(sum_jobs(jobs("exec.write"), "exec"))
    out["streaming.drain_s"] = sum(s.end - s.start for s in spans("streaming.drain"))
    out["streaming.drain_jobs"] = len(jobs("streaming.drain"))
    self_t = tracer.self_times()
    out["trace.blocking_self_s"] = sum(
        self_t.get(n, 0.0) for n in ("queries.construct", "streaming.drain", "exec.write"))
    return {k: v / n_passes if not k.endswith("_share") else v for k, v in out.items()}


def run(spark_factory, sf_dirs: dict[float, str], seconds: float, trace: bool,
        event_log_dir: str, rss) -> dict:
    t0 = time.perf_counter()
    spark = spark_factory(False)
    wrong, failed, details = check_members(spark, sf_dirs)
    checked = time.perf_counter()
    work = PanelRun(spark, sf_dirs)
    rss.armed = True
    untraced = work.passes(Tracer(spark), seconds / 2 if trace else seconds)
    rss.armed = False
    result = {
        "e2e": end_to_end(untraced),
        "wrong": wrong,
        "check_failed": failed,
        "checks": details,
        "check_s": checked - t0,
        "passes_s": time.perf_counter() - checked,
    }
    if trace:
        spark.stop()
        spark = spark_factory(True)
        work.spark = spark
        tracer = Tracer(spark, enabled=True)
        traced = work.passes(tracer, seconds / 2)
        spark.stop()
        layers = per_layer(tracer, event_log_dir, len(traced), work.plan_counts)
        traced_wall = end_to_end(traced)["panel_s"]
        layers["trace.overhead_s"] = traced_wall - result["e2e"]["panel_s"]
        result["layers"] = layers
        result["tracer"] = tracer
        result["traced_pass_s"] = traced_wall
    else:
        spark.stop()
    result["attempted"] = work.attempted + len(PANEL)
    result["failed"] = work.failed + failed
    result["errors"] = work.errors
    return result
