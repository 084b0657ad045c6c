#!/usr/bin/env python
"""Benchmark self-check: a one-repetition smoke of every workload at tiny
size, untraced and traced, plus injected faults.

    python3 perfbench/selfcheck.py        (from the repository root, 5-10 min)

Asserts that

- every run exits 0 and ends with the result record, whose metrics are
  exactly the BENCHMARK.json end_to_end (untraced) or per_layer (traced)
  metrics, each a finite number with its unit, and ``failed`` is 0;
- the detail record prints each workload's own end-to-end figures with
  units, and together the workloads print all of them;
- a CRANKER stand-in stage that exits non-zero, and a sink that lost a
  row, each raise ``failed`` / ``failed_frac`` instead of crashing or
  passing;
- in a directory holding only BENCHMARK.json and perfbench/, the
  benchmark exits non-zero without printing a result.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("cranker_spec", "headline_mix", "stream_ingest")
# the workload-specific end-to-end figures each workload must print
OWN_E2E = {
    "cranker_spec": {"cranker_job_s_p50"},
    "headline_mix": {"headline_s", "relational_s", "dedup_s", "corpus_s", "graph_s", "skew_s"},
    "stream_ingest": {"stream_batch_s_p50", "stream_docs_per_s", "store_bytes_per_input_byte"},
}
COMMON_E2E = {"op_latency_s", "setup_s", "failed_frac", "peak_rss_mb", "python_peak_rss_mb"}


def _run(args: list[str], cwd: str = REPO) -> tuple[int, list[str]]:
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "7",
         "--seconds", "0", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    return proc.returncode, proc.stdout.strip().splitlines()


def _check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selfcheck: FAILED: {what}")
    print(f"ok  {what}", flush=True)


def _result(lines: list[str]) -> tuple[dict, dict]:
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> None:
    with open(os.path.join(REPO, "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    printed_e2e: set[str] = set()
    for workload in WORKLOADS:
        for trace in (0, 1):
            tag = f"{workload} --trace {trace}"
            rc, lines = _run(["--workload", workload, "--trace", str(trace), "--size", "tiny"])
            _check(rc == 0 and len(lines) >= 2, f"{tag}: exit 0 with two records")
            detail, result = _result(lines)
            _check(set(result) == {"correct", "attempted", "failed", "metrics"},
                   f"{tag}: result record keys")
            _check(result["correct"] and result["failed"] == 0 and result["attempted"] >= 1,
                   f"{tag}: correct, {result['attempted']} attempted, none failed")
            want = bench["per_layer" if trace else "end_to_end"]
            got = result["metrics"]
            _check(set(got) == {m["name"] for m in want}, f"{tag}: every BENCHMARK.json metric")
            _check(all(got[m["name"]]["unit"] == m["unit"]
                       and math.isfinite(got[m["name"]]["value"]) for m in want),
                   f"{tag}: units match, values finite")
            e2e = detail["end_to_end"]
            _check(COMMON_E2E | OWN_E2E[workload] <= set(e2e)
                   and all(v["unit"] for v in e2e.values()),
                   f"{tag}: detail record has the workload's end-to-end figures with units")
            printed_e2e |= set(e2e)
    _check(set().union(*OWN_E2E.values()) | COMMON_E2E <= printed_e2e,
           "all end-to-end figures printed across workloads")

    for fault in ("stage_exit", "sink_row"):
        rc, lines = _run(["--workload", "cranker_spec", "--trace", "0", "--size", "tiny",
                          "--fault", fault])
        _check(rc == 0 and len(lines) >= 2, f"fault {fault}: exit 0 with a result")
        detail, result = _result(lines)
        _check(not result["correct"] and result["failed"] == result["attempted"]
               and detail["end_to_end"]["failed_frac"]["value"] == 1.0,
               f"fault {fault}: every job counted failed, failed_frac 1.0")

    bare = os.path.join(REPO, ".perfbench_work", "selfcheck_bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
    try:
        rc, lines = _run(["--workload", "cranker_spec", "--trace", "0"], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        with contextlib.suppress(OSError):  # only when no run uses it
            os.rmdir(os.path.dirname(bare))
    _check(rc != 0 and not any(line.startswith('{"correct"') for line in lines),
           "without the program: non-zero exit, no result")
    print("selfcheck: all checks passed")


if __name__ == "__main__":
    main()
