#!/usr/bin/env python
"""Repo benchmark: one workload per invocation, on local[nproc].

    python3 perfbench/run.py --workload cranker_spec --seed 1 --seconds 3 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` under
``.perfbench_work/`` (deleted at exit). ``--trace 0`` measures the
end-to-end metrics; ``--trace 1`` is the separate traced run that turns
on the Spark event log, job-group counting and the logging CRANKER
stand-ins, and reports the per-layer metrics. The second-to-last line
of output is a detail record (host stamp, input sizes, every figure);
the last line is the result record:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

See perfbench/README.md for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORK_ROOT = os.path.join(REPO, ".perfbench_work")


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _prepare_env(work: str, event_log_dir: str | None) -> None:
    """Keep every temp file of Python, the JVM and Spark inside ``work``;
    a traced run also writes an uncompressed event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    confs = ""
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        confs = (
            " --conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false"
            f" --conf spark.eventLog.dir=file://{event_log_dir}"
            " --conf spark.ui.retainedJobs=100000"
        )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"{confs} pyspark-shell'
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _timed_setup():
    """session.get_spark() until one trivial action completes."""
    from apache_hadoop_framework_for_peptide_identification_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=_nproc())
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def _stop_session(spark) -> None:
    """Stop the session, end its JVM (EOF on the gateway's stdin) and
    wait until the JVM and every Python worker it started have exited."""
    from pyspark import SparkContext

    from collectors import alive, descendants

    children = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while any(alive(p) for p in children) and time.monotonic() < deadline:
        time.sleep(0.1)


# Units of the workload-specific figures printed in the detail record.
UNITS = {
    "op_latency_s": "s", "setup_s": "s", "failed_frac": "ratio", "peak_rss_mb": "MB",
    "python_peak_rss_mb": "MB",
    "cranker_job_s_p50": "s", "headline_s": "s", "relational_s": "s", "dedup_s": "s",
    "corpus_s": "s", "graph_s": "s", "skew_s": "s", "stream_batch_s_p50": "s",
    "stream_docs_per_s": "docs/s", "store_bytes_per_input_byte": "ratio",
}


def _layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s", "_p50", "_max")) or "_s." in name or "_s_" in name:
        return "s"
    return "bytes" if "bytes" in name else "count"


def run_workload(name: str, seed: int, seconds: float, trace: bool, work: str,
                 size: str = "full", fault: str | None = None) -> dict:
    """Set up the session, run one workload and fold in the traced
    run's event log. Returns the full record.
    ``fault`` injects a CRANKER failure: a stand-in stage that exits
    non-zero, or a sink that loses a row."""
    event_log_dir = os.path.join(work, "eventlog") if trace else None
    _prepare_env(work, event_log_dir)
    from collectors import host_stamp, op_layers, read_event_log, tree_peak_rss_mb
    import workloads as W

    workload, event_layers = W.WORKLOADS[name]
    kwargs = {}
    if fault == "stage_exit":
        kwargs["standin_dir"] = W.failing_standin(work)
    elif fault == "sink_row":
        kwargs["sink_fault"] = True
    spark, setup_s = _timed_setup()
    t1 = time.perf_counter()
    run = W.Run(spark=spark, seed=seed, seconds=seconds, trace=trace, work=work, size=size)
    try:
        res = workload(run, **kwargs)
        peak = tree_peak_rss_mb()
    finally:
        t2 = time.perf_counter()
        _stop_session(spark)
    res["spans"] = run.spans.summary()
    res["phases_s"] = {"setup": setup_s, "warmup": run.spans.total("warmup"),
                       "timed": run.spans.total("timed"), "workload": t2 - t1,
                       "stop": time.perf_counter() - t2}
    res["e2e"]["setup_s"] = (setup_s, 1)
    res["e2e"]["peak_rss_mb"] = (peak.pop("total"), 1)
    # the JVM's share is left out: its resident size follows how far the
    # collector has grown the heap, not what the workload needs
    res["e2e"]["python_peak_rss_mb"] = (
        peak.get("driver_python", 0.0) + peak.get("python_workers", 0.0), 1)
    res["peak_rss_mb_by_process"] = peak
    res["e2e"]["failed_frac"] = (res["failed"] / max(res["attempted"], 1), res["attempted"])
    if trace:
        log = read_event_log(event_log_dir)
        groups = res["op_groups"] if res["op_groups"] is not None else list(log)
        res["layer"].update(op_layers(log, groups, res["n_ops"]))
        res["layer"]["session.get_spark_s"] = setup_s
        res["layer"]["trace.op_latency_s"] = res["e2e"]["op_latency_s"][0]
        if event_layers:
            event_layers(res, log)
    res["host"] = {**host_stamp(REPO), "local_cpus": _nproc(),
                   "SPARK_DRIVER_MEM": os.environ.get("SPARK_DRIVER_MEM")}
    res.update(workload=name, seed=seed, seconds=seconds, trace=trace)
    return res


def detail_record(res: dict) -> dict:
    """Everything the run measured, each figure with its unit (and, for
    the end-to-end ones, its sample count)."""
    return {
        "workload": res["workload"], "seed": res["seed"], "seconds": res["seconds"],
        "trace": res["trace"], "host": res["host"], "inputs": res["inputs"],
        "peak_rss_mb_by_process": res["peak_rss_mb_by_process"], "phases_s": res["phases_s"],
        "samples_s": res["samples_s"], "spans": res["spans"],
        "attempted": res["attempted"], "failed": res["failed"],
        "end_to_end": {k: {"value": v, "unit": UNITS[k], "n": n}
                       for k, (v, n) in res["e2e"].items()},
        "per_layer": {k: {"value": v, "unit": _layer_unit(k)}
                      for k, v in sorted(res["layer"].items())},
    }


def result_line(res: dict, bench: dict) -> dict:
    """The result record: every end_to_end metric of BENCHMARK.json
    untraced, every per_layer metric traced."""
    if res["trace"]:
        metrics = {m["name"]: {"value": float(res["layer"][m["name"]]), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(res["e2e"][m["name"]][0]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-check only (perfbench/selfcheck.py): tiny inputs, injected faults
    ap.add_argument("--size", choices=("full", "tiny"), default="full", help=argparse.SUPPRESS)
    ap.add_argument("--fault", choices=("stage_exit", "sink_row"), help=argparse.SUPPRESS)
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    known = [w["name"] for w in bench["workloads"]]
    if args.workload not in known:
        ap.error(f"--workload must be one of {known}")
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    try:
        res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work,
                           size=args.size, fault=args.fault)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no other run uses it
            os.rmdir(WORK_ROOT)
    print(json.dumps(detail_record(res)))
    print(json.dumps(result_line(res, bench)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
