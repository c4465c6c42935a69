"""Counter-engine benchmark: one workload per invocation.

    python3 perfbench/run.py --workload backlog_drain --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.
The line before it is a detail record with the workload's own named
metrics, the oracle check and the input digest. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

SPEC_PATH = os.path.join(ROOT, "BENCHMARK.json")  # declares the metrics printed


def seconds_since_process_start() -> float:
    """Wall time since the kernel started this process (not since import)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")


def prepare_env(work: str, trace: bool) -> str:
    """Keep Spark's scratch files inside the checkout and quiet its console;
    traced runs also write a Spark event log. Returns the event log dir."""
    event_dir = os.path.join(work, "eventlog")
    tmp = os.path.join(work, "tmp")
    for d in (event_dir, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    if trace:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    args = " ".join(f"--conf {k}={v!r}" if " " in v else f"--conf {k}={v}"
                    for k, v in conf.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return event_dir


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("backlog_drain", "lambda_invokes", "live_tail"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    with open(SPEC_PATH) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    event_dir = prepare_env(work, trace)
    sys.path.insert(0, ROOT)
    from perfbench import stats, trace as tracing
    from perfbench.workloads import WORKLOADS, Session

    tracer = tracing.Tracer(trace)
    sess = Session(work, tracer)
    try:
        sess.setup()
        setup_s = seconds_since_process_start()
        res = WORKLOADS[args.workload](sess, args.seed, args.seconds)
        rss_mb = tracing.peak_rss_mb()
        t_extra = time.perf_counter()
        if trace:
            sess.probe_jq()
    finally:
        if sess.spark is not None:
            sess.close()
    ops, chk = res.ops, res.check
    sample = res.sample or ops.censored_sample(res.run_ms)
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": stats.percentile(sample, 50),
        "latency_p90_ms": stats.percentile(sample, 90),
        "records_per_s": res.records_per_s,
    }
    layers = dict(sess.layers)
    layers.update(res.layers)
    layers.update({
        "check.failed_op_share": ops.failed_share(),
        "check.wrong_result_share": chk.wrong_result_share(),
        "check.hll_max_rel_err": chk.hll_max_rel_err,
        "mem.peak_rss_mb": rss_mb,
    })
    if trace:
        layers.update(sess.spark_totals(event_dir))
        for name in ("sources.latest_offset_ms", "sources.tail_read_ms"):
            layers[name] = layers.get(f"{name}.late", 0.0)
        extra = sum(s.ms for s in tracer.spans if s.name in (
            "sources.scan_only", "sources.latest_offset", "sources.tail_read")) / 1e3
        layers["trace.extra_s"] = extra + (time.perf_counter() - t_extra)
        os.makedirs(WORK_ROOT, exist_ok=True)
        tracer.dump(os.path.join(WORK_ROOT, f"spans-{args.workload}-seed{args.seed}.jsonl"))

    named = workload_named_metrics(args.workload, e2e, layers, res, ops, chk)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": trace,
        "input_sha256": res.input_sha256,
        "samples": len(sample),
        # the percentile rule counts independent completions: every record
        # of one live_tail micro-batch shares that batch's completion time
        "independent_samples": ops.attempted,
        "p90_samples_beyond": stats.samples_beyond(ops.attempted, 90),
        "p90_supported": stats.supports_percentile(ops.attempted, 90),
        "named_metrics": named,
        "layers": layers if trace else {},
        "check": {
            "expected_rows": chk.expected_rows, "matched": chk.matched,
            "wrong": chk.wrong, "missing": chk.missing, "extra": chk.extra,
            "known_defect_rows": chk.known_defect_rows,
            "explained_by_failed_ops": chk.explained_by_failed_ops,
            "unexplained": chk.unexplained, "examples": chk.examples,
        },
        "op_errors": sorted(set(ops.errors))[:5],
        **res.detail,
    }
    print(json.dumps(detail))
    if trace:  # a layer the workload does not exercise reports 0
        metrics = {m["name"]: {"value": float(layers.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in declared}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in declared}
    print(json.dumps({
        "correct": chk.unexplained == 0 and ops.attempted > 0,
        "attempted": ops.attempted,
        "failed": ops.failures,
        "metrics": metrics,
    }))
    shutil.rmtree(work, ignore_errors=True)
    return 0


def workload_named_metrics(workload, e2e, layers, res, ops, chk) -> dict:
    """The workload's end-to-end figures under their own names, with units."""
    def m(v, unit):
        return {"value": v, "unit": unit}

    named = {
        "setup_s": m(e2e["setup_s"], "s"),
        "failed_op_share": m(ops.failed_share(), "ratio"),
        "wrong_result_share": m(chk.wrong_result_share(), "ratio"),
        "hll_max_rel_err": m(chk.hll_max_rel_err, "ratio"),
        "peak_rss_mb": m(layers["mem.peak_rss_mb"], "MB"),
    }
    if workload == "backlog_drain":
        named["drain_records_per_s"] = m(res.detail["drain_records_per_s"], "records/s")
    elif workload == "lambda_invokes":
        named["invoke_p50_ms"] = m(e2e["latency_p50_ms"], "ms")
        named["invoke_p90_ms"] = m(e2e["latency_p90_ms"], "ms")
    else:
        named["lag_p50_ms"] = m(res.detail["lag_newest_p50_ms"], "ms")
        named["lag_p90_ms"] = m(res.detail["lag_newest_p90_ms"], "ms")
        named["record_lag_p50_ms"] = m(e2e["latency_p50_ms"], "ms")
        named["record_lag_p90_ms"] = m(e2e["latency_p90_ms"], "ms")
    return named


if __name__ == "__main__":
    sys.exit(main())
