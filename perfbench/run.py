"""Repository benchmark: two closed-loop workloads, one process per run.

    python3 perfbench/run.py --workload panels --seed 1 --seconds 15 --trace 0

Workloads (README.md says why each was chosen):

- ``panels``        an execution-bound query at sf0.1 and two driver-bound
                    queries at sf0.001, each member cold;
- ``ingest_daily``  seeded CSV extracts through debounce -> batch state
                    table -> ``MedallionPipeline.run_batch``.

Inputs are generated from ``--seed`` inside ``perfbench/.work``.  Set-up
(session start plus a fixed warm-up job) is repeated and its median
reported.  Outputs are checked against independent DuckDB results outside
the timed region.  ``--trace 1`` adds passes under spans and Spark's event
log and prints the per-layer metrics instead of the end-to-end ones.  The
last stdout line is ``{"correct", "attempted", "failed", "metrics"}``; the
full record (stamps, per-member numbers, checks, spans) goes to
``perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 5
DRIVER_MEM = "1g"
WORKLOADS = ("panels", "ingest_daily")


def _prepare_env(work: str) -> None:
    """Environment the Spark JVM and its Python workers inherit: the
    package importable from any working directory, all temporary files
    inside ``work`` and one shuffle partition per core."""
    for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # No hsperfdata file in the system temp dir from spark-submit's launcher JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _spark_factory(work: str):
    from data_pipeline_for_e_commerce_shop_spark.session import get_spark

    base = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # A fixed, pre-touched heap keeps the JVM's resident set independent
        # of when the collector grows the heap.  C1-only JIT: these
        # workloads are planning- and scheduling-bound, and tiered C2's
        # background compilation moved run times by tens of percent from
        # run to run; C1 alone was both faster and steadier here.
        "spark.driver.extraJavaOptions": (f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
                                          f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                                          "-XX:TieredStopAtLevel=1 -XX:-UsePerfData"),
    }

    def make(event_log: bool):
        conf = dict(base)
        if event_log:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON-lines file
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        return get_spark(app_name="perfbench", extra_conf=conf)

    return make


def _setup(make) -> tuple[list[float], list[float]]:
    """Session start plus the fixed warm-up job, ``SETUPS`` times; the
    first one also launches the JVM."""
    totals, starts = [], []
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        spark = make(False)
        t1 = time.perf_counter()
        spark.range(2_000_000).selectExpr("sum(id * 3 % 7)").collect()
        totals.append(time.perf_counter() - t0)
        starts.append(t1 - t0)
        spark.stop()
    return totals, starts


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM to exit; it exits when
    its stdin closes, and its Python daemon and workers exit with it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    import data_pipeline_for_e_commerce_shop_spark  # noqa: F401  (fail fast outside a checkout)

    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    from common import RssSampler, cpu_calibration_s, wait_for_processes

    os.environ["PERFBENCH_RUN"] = work  # inherited by every process the run starts

    stamp = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "driver_memory": DRIVER_MEM, "loadavg_start": os.getloadavg(),
        "cpu_calibration_s_start": cpu_calibration_s(),
        "started": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    rss = RssSampler()
    try:
        result = _run_workload(args, work, stamp, rss)
    finally:
        rss.close()
        _stop_jvm()
        stamp["killed"] = wait_for_processes(f"PERFBENCH_RUN={work}")
        shutil.rmtree(work, ignore_errors=True)
    stamp["t_done"] = time.perf_counter() - T0
    stamp["peak_rss_mb_by_command"] = {k: v / 2**20 for k, v in rss.peak_by_name.items()}
    stamp["loadavg_end"] = os.getloadavg()
    stamp["cpu_calibration_s_end"] = cpu_calibration_s()

    e2e = result["e2e"]
    values = {
        "setup_s": statistics.median(result["setup_s"]),
        "panel_s": e2e["panel_s"],
        "query_geomean_s": e2e["query_geomean_s"],
        "batch_p50_s": e2e["batch_p50_s"],
        "peak_rss_mb": rss.peak_mb,
    }
    layers = dict(result.get("layers", {}))
    layers.update({k: v for k, v in e2e.items() if k.endswith(".panel_s")})
    layers["session.get_spark_s"] = statistics.median(result["get_spark_s"])
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layers if args.trace else values
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in wanted}

    record = {"stamp": stamp, "end_to_end": values, "per_layer": layers,
              **{k: v for k, v in result.items() if k not in ("tracer", "layers")}}
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}"
    if "tracer" in result:
        record["self_times"] = result["tracer"].self_times()
        result["tracer"].dump(os.path.join(out_dir, tag + ".spans.jsonl"))
    with open(os.path.join(out_dir, tag + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    correct = result["correct"]
    print(json.dumps({"record": f"perfbench/results/{tag}.json", "stamp": stamp,
                      "wrong_results": result["wrong"],
                      "fail_ratio": result["failed"] / result["attempted"]},
                     default=str))
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0


def _run_workload(args, work: str, stamp: dict, rss) -> dict:
    make = _spark_factory(work)
    event_log_dir = os.path.join(work, "eventlog")
    if args.workload == "ingest_daily":
        import ingest

        t0 = time.perf_counter()
        inputs = ingest.generate(os.path.join(work, "raw"), args.seed)
        stamp["generate_s"] = time.perf_counter() - t0
        stamp["ingest"] = ingest.describe(inputs)
        stamp["t_generated"] = time.perf_counter() - T0
        setup_s, get_spark_s = _setup(make)
        stamp["t_set_up"] = time.perf_counter() - T0
        result = ingest.run(make, inputs, work, bool(args.trace), event_log_dir, rss)
    else:
        import datagen
        import panels

        t0 = time.perf_counter()
        sf_dirs = {m.sf: os.path.join(work, f"sf{m.sf}") for m in panels.PANEL}
        stamp["input_bytes"] = {sf: datagen.write_tables(d, sf, args.seed)
                                for sf, d in sf_dirs.items()}
        stamp["generate_s"] = time.perf_counter() - t0
        stamp["members"] = [vars(m) for m in panels.PANEL]
        stamp["t_generated"] = time.perf_counter() - T0
        setup_s, get_spark_s = _setup(make)
        stamp["t_set_up"] = time.perf_counter() - T0
        result = panels.run(make, sf_dirs, args.seconds, bool(args.trace),
                            event_log_dir, rss)
        result["correct"] = result["wrong"] == 0 and result["failed"] == 0
    result["setup_s"] = setup_s
    result["get_spark_s"] = get_spark_s
    return result


if __name__ == "__main__":
    sys.exit(main())
