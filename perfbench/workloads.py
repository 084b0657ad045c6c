"""The workloads. Each is a closed loop with one client: the next
operation starts only after the previous one has finished, and the
loop keeps starting operations (at least one) until ``Run.seconds``
have passed.

A workload takes a :class:`Run` and returns a dict with

- ``attempted`` / ``failed``: operations, and those that raised or
  failed their output check (checks run outside the timed region);
- ``e2e``: name -> (value, sample count) of its end-to-end figures,
  with ``op_latency_s`` the latency of its unit of work;
- ``layer``: its own per-layer figures (traced runs only);
- ``inputs``: sizes of the generated inputs;
- ``op_groups`` / ``n_ops``: the Spark job groups of the timed
  operations and their count, for the event-log figures.
"""

from __future__ import annotations

import copy
import glob
import os
import random
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from collectors import JobGroupCounter, Spans, StreamProgress, median, sql_metric
from inputs import REPO, gen_fixture, gen_peptides, gen_stream_corpus

sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

from apache_hadoop_framework_for_peptide_identification_spark.plans import spec as spec_layer  # noqa: E402
from apache_hadoop_framework_for_peptide_identification_spark.queries import (  # noqa: E402
    BENCH_REGISTRY,
    REGISTRY,
)
from apache_hadoop_framework_for_peptide_identification_spark.streaming import windows  # noqa: E402
from bench import HEADLINE  # noqa: E402
from oracle import duck_connection, value_hash  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
STANDIN_DIR = os.path.join(REPO, "examples", "cranker_standin")
LOGGING_STANDIN_DIR = os.path.join(HERE, "standin")


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    spans: Spans = field(default_factory=Spans)
    size: str = "full"  # "full" | "tiny" (the self-check smoke)


def _fail(what: str) -> None:
    print(f"perfbench: FAILED {what}", file=sys.stderr, flush=True)


def _set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


# --- cranker_spec ----------------------------------------------------------

# (files, rows per file) of generated peptide TSV input: enough rows that
# a job's row work outweighs its fixed cost (forks, staging, commit)
CRANKER_SIZE = {"full": (16, 50000), "tiny": (4, 200)}
# rows per file of the untimed first job, which pays JIT, Python worker
# start and the first forks on an input too small to cost much more
CRANKER_WARMUP_ROWS = 2000


def failing_standin(work: str) -> str:
    """Fault injection for the self-check: a copy of the stand-ins whose
    solve stage exits non-zero."""
    path = os.path.join(work, "failing_standin")
    shutil.copytree(STANDIN_DIR, path)
    with open(os.path.join(path, "run_cranker_solve.sh"), "w", encoding="utf-8") as fh:
        fh.write("#!/bin/sh\necho injected failure >&2\nexit 5\n")
    return path


def _drop_one_sink_row(out_dir: str) -> None:
    """Fault injection for the self-check: a sink that lost a row."""
    part = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))[0]
    pq.write_table(pq.read_table(part).slice(1), part)


def _check_cranker_sink(out_dir: str, expected: pa.Table) -> str | None:
    got = pq.read_table(out_dir)
    if got.num_rows != expected.num_rows:
        return f"sink has {got.num_rows} rows, input has {expected.num_rows}"
    got = got.sort_by("peptide_id")
    for col in expected.column_names:
        if not got.column(col).cast(expected.schema.field(col).type).equals(expected.column(col)):
            return f"sink column {col} differs from the expected rows"
    return None


def _tool_log(path: str) -> list[tuple[str, float, int]]:
    """(stage, seconds, input bytes) per logged stand-in call."""
    if not os.path.exists(path):
        return []
    with open(path, encoding="utf-8") as fh:
        rows = [line.split() for line in fh]
    return [(st, (int(t1) - int(t0)) / 1e9, int(b_in)) for st, t0, t1, _rc, b_in, _b_out in rows]


def cranker_spec(run: Run, standin_dir: str = STANDIN_DIR, sink_fault: bool = False) -> dict:
    """Back-to-back ``plans.spec.run_algorithm(write=True)`` jobs of the
    examples/cranker_spec.json shape over seeded peptide files."""
    n_files, rows = CRANKER_SIZE[run.size]
    tool_log = os.path.join(run.work, "tool_log.txt")
    template = spec_layer.load_spec(os.path.join(REPO, "examples", "cranker_spec.json"))

    def job_input(name: str, seed: int, rows_per_file: int) -> tuple[dict, str, pa.Table, dict]:
        """(spec, sink dir, expected sink rows, input sizes) of a job
        over freshly generated peptide files."""
        in_dir, out_dir = (os.path.join(run.work, f"{name}_{d}") for d in ("in", "out"))
        inp = gen_peptides(in_dir, seed, n_files, rows_per_file)
        expected = pa.Table.from_pandas(inp.pop("expected"), preserve_index=False)
        spec = copy.deepcopy(template)
        algo = spec["algorithms"][0]
        algo.update(in_dir=in_dir, out_dir=out_dir, binary_dir=standin_dir)
        spec["env"] = {**spec.get("env", {}), "MCR_CACHE_ROOT": os.path.join(run.work, "mcr")}
        if run.trace:
            algo["binary_dir"] = LOGGING_STANDIN_DIR
            spec["env"].update(PERFBENCH_STANDIN_DIR=standin_dir, PERFBENCH_TOOL_LOG=tool_log)
        return spec, out_dir, expected, inp

    warm = job_input("warmup", run.seed + 1, min(rows, CRANKER_WARMUP_ROWS))
    timed_job = job_input("peptides", run.seed, rows)
    inp = timed_job[3]
    attempted = failed = 0
    job_s: list[float] = []
    groups: list[str] = []

    def one_job(group: str, job: tuple) -> float | None:
        nonlocal attempted, failed
        spec, out_dir, expected, _ = job
        attempted += 1
        _set_group(run.spark, group)
        try:
            with run.spans.span("spec.run_algorithm") as sp:
                spec_layer.run_algorithm(run.spark, spec, spec["algorithms"][0]["name"], write=True)
        except Exception:  # a failed job is a measured outcome, not a crash
            failed += 1
            _fail(f"cranker {group}:\n{traceback.format_exc(limit=3)}")
            return None
        if sink_fault:
            _drop_one_sink_row(out_dir)
        problem = _check_cranker_sink(out_dir, expected)
        if problem:
            failed += 1
            _fail(f"cranker {group}: {problem}")
            return None
        return sp["end"] - sp["start"]

    with run.spans.span("warmup"):
        one_job("cranker:warmup", warm)
    if os.path.exists(tool_log):
        os.remove(tool_log)
    with run.spans.span("timed"):
        t_end = time.perf_counter() + run.seconds
        while not groups or time.perf_counter() < t_end:
            groups.append(f"cranker:{len(groups)}")
            dt = one_job(groups[-1], timed_job)
            if dt is not None:
                job_s.append(dt)

    res = {"attempted": attempted, "failed": failed,
           "e2e": {"op_latency_s": (median(job_s), len(job_s)),
                   "cranker_job_s_p50": (median(job_s), len(job_s))},
           "layer": {},
           "inputs": {"rows": inp["rows"], "bytes": inp["bytes"], "files": inp["files"]},
           "samples_s": {"job": job_s}, "op_groups": groups, "n_ops": len(groups)}
    if run.trace:
        calls = _tool_log(tool_log)
        n = max(len(groups), 1)
        res["layer"] = {
            "spec.run_algorithm_s": median(job_s),
            "pipe.forks": len(calls) / n,
            "pipe.tool_s": sum(c[1] for c in calls) / n,
            "pipe.staged_bytes": sum(c[2] for c in calls if c[0] == "read") / n,
        }
    return res


def cranker_event_layers(res: dict, log: dict) -> None:
    """Per-job pipe/source/sink figures of a traced cranker run."""
    groups, layer = res["op_groups"], res["layer"]
    n = max(res["n_ops"], 1)
    tasks = [t for g in groups for t in log.get(g, {}).get("task_s", [])]
    # the CSV source's header discovery is a job of its own
    csv_jobs = [s for g in groups for name, s in log.get(g, {}).get("job_s", [])
                if name.startswith("csv at")]
    layer.update({
        "pipe.non_tool_s": sum(tasks) / n - layer["pipe.tool_s"],
        "pipe.task_s_p50": median(tasks),
        "pipe.task_s_max": max(tasks, default=0.0),
        "pipe.python_bytes_in": sql_metric(log, groups, "data sent to Python workers") / n,
        "pipe.python_bytes_out": sql_metric(log, groups, "data returned from Python workers") / n,
        "sources.scan_s": (sum(csv_jobs) + sql_metric(log, groups, "metadata time", "Scan") / 1000.0) / n,
        "sink.write_commit_s": (sql_metric(log, groups, "task commit time")
                                + sql_metric(log, groups, "job commit time")) / 1000.0 / n,
    })


# --- headline_mix ----------------------------------------------------------

# One pass: one bench.HEADLINE query per operator family, ROADMAP hot
# spots where a family has one (README.md says why not all 33), mapped
# to the family whose end-to-end figure it counts in.
HEADLINE_SLICE = {
    "q02_join_revenue_topk": "relational",
    "q121_prefix_jaccard_corpus": "dedup",
    "q102_bm25_topk": "corpus",
    "q133_triangle_count": "graph",
    "q173_hot_key_two_path_join": "skew",
    "q50_pipe_tokens": "pipe",
}
assert all(name in HEADLINE for name in HEADLINE_SLICE)
E2E_FAMILIES = ("relational", "dedup", "corpus", "graph", "skew")
FIXTURE_SCALE = {"full": 1.0, "tiny": 0.1}


def _query_def(name: str):
    return REGISTRY.get(name) or BENCH_REGISTRY[name]


def _engine_warmup(spark, sf_dir: str) -> None:
    """One small job through each engine path the queries share: parquet
    scan, shuffle aggregate, join, window, Arrow and row-wise Python
    UDFs. Without it the pass's first query also pays the session's
    one-off cost of every path it touches, which made the pass time
    depend on the seed's order."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    orders = spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
    by_cust = orders.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("total"))
    rank = F.row_number().over(Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice")))
    (orders.join(by_cust, "o_custkey").withColumn("r", rank).filter("r = 1")
     .orderBy("total").limit(10).collect())
    spark.range(1000).mapInPandas(lambda it: it, "id long").count()
    spark.range(1000).select(F.udf(lambda x: x + 1, "long")("id")).collect()


def headline_mix(run: Run) -> dict:
    """Passes over HEADLINE_SLICE in seeded order, timing each query
    from its builder call to the end of collect(). There is no warm-up
    pass: after one small job per shared engine path, the first pass
    runs each query for the first time in the session, as a caller of
    the query registry does (README.md)."""
    queries = list(HEADLINE_SLICE)
    sf_dir = os.path.join(run.work, "fixture")
    inp = gen_fixture(sf_dir, run.seed, FIXTURE_SCALE[run.size])
    rng = random.Random(run.seed)
    counter = JobGroupCounter(run.spark) if run.trace else None
    runs: list[dict] = []
    failed = 0
    with run.spans.span("warmup"):
        _engine_warmup(run.spark, sf_dir)

    def one_query(name: str, tag: str) -> None:
        nonlocal failed
        group = f"q:{name}:{tag}"
        _set_group(run.spark, group)
        try:
            with run.spans.span(f"query.{name}") as sp:
                df = _query_def(name).fn(run.spark, sf_dir)
                built = time.perf_counter()
                rows = df.collect()
        except Exception:
            failed += 1
            _fail(f"{name} ({tag}):\n{traceback.format_exc(limit=3)}")
            return
        runs.append({
            "name": name, "tag": tag, "group": group,
            "build_s": built - sp["start"], "s": sp["end"] - sp["start"],
            "jobs": counter.count(group) if counter else 0,
            "pdf": pd.DataFrame([tuple(r) for r in rows], columns=df.columns),
        })

    n_pass = 0
    with run.spans.span("timed"):
        t_end = time.perf_counter() + run.seconds
        while not n_pass or time.perf_counter() < t_end:
            n_pass += 1
            for name in rng.sample(queries, len(queries)):
                one_query(name, f"p{n_pass}")

    # -- checks, outside the timed region: oracle hash, or for a query
    # without an oracle, the same hash on every pass
    con = duck_connection(sf_dir)
    try:
        for name in queries:
            mine = [r for r in runs if r["name"] == name]
            for r in mine:
                r["hash"] = value_hash(r.pop("pdf"))
            oracle = _query_def(name).oracle
            want = value_hash(con.execute(oracle).df()) if oracle else mine[0]["hash"] if mine else None
            for r in mine:
                r["ok"] = r["hash"] == want
                if not r["ok"]:
                    failed += 1
                    _fail(f"{name} ({r['tag']}): result hash does not match its check")
    finally:
        con.close()

    timed = [r for r in runs if r["ok"]]
    by_q = {q: [r for r in timed if r["name"] == q] for q in queries}
    q_med = {q: median([r["s"] for r in rs]) for q, rs in by_q.items()}
    n_min = min(len(rs) for rs in by_q.values())
    e2e = {"op_latency_s": (sum(q_med.values()), n_min),
           "headline_s": (sum(q_med.values()), n_min)}
    for fam in E2E_FAMILIES:
        e2e[f"{fam}_s"] = (sum(v for q, v in q_med.items() if HEADLINE_SLICE[q] == fam), n_min)
    res = {"attempted": len(queries) * n_pass, "failed": failed, "e2e": e2e,
           "layer": {}, "inputs": inp,
           "samples_s": {q: [r["s"] for r in rs] for q, rs in by_q.items()},
           "op_groups": [r["group"] for r in timed], "n_ops": n_pass}
    if run.trace:
        layer = res["layer"]
        for q, rs in by_q.items():
            layer[f"query.{q}.s"] = q_med[q]
            layer[f"query.{q}.jobs"] = median([r["jobs"] for r in rs])
        for q, rs in by_q.items():
            layer[f"queries.build_s.{HEADLINE_SLICE[q]}"] = median([r["build_s"] for r in rs])
        res["by_group"] = {r["group"]: (r["name"], r["jobs"]) for r in timed}
    return res


def headline_event_layers(res: dict, log: dict) -> None:
    """Per-family executor totals per pass, and a cross-check of the
    status-store job counts against the event log."""
    layer, n = res["layer"], max(res["n_ops"], 1)
    for group, (name, jobs) in res["by_group"].items():
        logged = log.get(group, {}).get("jobs", 0)
        if logged != jobs:
            raise RuntimeError(f"{group}: status store counted {jobs} jobs, event log {logged}")
    for fam in set(HEADLINE_SLICE.values()):
        gs = [log.get(g, {}) for g, (name, _) in res["by_group"].items()
              if HEADLINE_SLICE[name] == fam]
        layer[f"{fam}.shuffle_write_bytes"] = sum(g.get("shuffle_write_bytes", 0) for g in gs) / n
        layer[f"{fam}.spill_bytes"] = sum(g.get("spill_bytes", 0) for g in gs) / n
        layer[f"{fam}.task_cpu_s"] = sum(g.get("cpu_s", 0.0) for g in gs) / n


# --- stream_ingest ---------------------------------------------------------

# (seed-store docs, micro-batches per drain, docs per micro-batch)
STREAM_SIZE = {"full": (500, 2, 150), "tiny": (200, 2, 50)}
THRESHOLD = 0.5
SHINGLE_N = 3


def _shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    """The operator's shingle set (operators.dedup.exploded_shingles):
    distinct word n-grams; a doc shorter than n is one whole shingle."""
    toks = text.split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _jaccard(a: str, b: str) -> float:
    sa, sb = _shingles(a), _shingles(b)
    return len(sa & sb) / len(sa | sb)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def stream_ingest(run: Run) -> dict:
    """Seed a near-dup store once, then drain one-file micro-batches
    through ``stream_neardup_ingest``; every drain starts from a fresh
    copy of the seeded store and a fresh checkpoint."""
    n_store, n_batches, batch_docs = STREAM_SIZE[run.size]
    corpus = gen_stream_corpus(run.seed, n_store, n_batches, batch_docs)
    texts = dict(zip(corpus["store"]["doc_id"], corpus["store"]["text"]))
    batch_of: dict[int, int] = {}
    for b, pdf in enumerate(corpus["batches"]):
        texts.update(zip(pdf["doc_id"], pdf["text"]))
        batch_of.update({int(i): b for i in pdf["doc_id"]})
    streamed_docs = sum(len(p) for p in corpus["batches"])
    streamed_bytes = int(sum(p["text"].str.len().sum() for p in corpus["batches"]))
    listener = StreamProgress()
    run.spark.streams.addListener(listener)
    jobs = JobGroupCounter(run.spark)
    store_df = run.spark.createDataFrame(corpus["store"])
    seeded = os.path.join(run.work, "seeded_store")
    src = os.path.join(run.work, "stream_src")
    os.makedirs(src)
    for b, pdf in enumerate(corpus["batches"]):
        path = os.path.join(src, f"batch_{b:03d}.parquet")
        pdf.to_parquet(path, index=False)
        os.utime(path, (1_700_000_000 + b, 1_700_000_000 + b))
    attempted = failed = 0
    timed: list[dict] = []

    def one_drain(rep: int) -> dict | None:
        """Drain every batch; returns the drain's figures, or None when
        it raised or failed a check."""
        nonlocal attempted, failed
        store, ckpt = (os.path.join(run.work, f"stream_{rep}", d) for d in ("store", "ckpt"))
        shutil.copytree(seeded, store)
        attempted += n_batches
        seen, jobs0 = listener.count(), jobs.total_jobs()
        try:
            stream = (run.spark.readStream.schema("doc_id long, text string")
                      .option("maxFilesPerTrigger", 1).parquet(src))
            with run.spans.span("streaming.stream_neardup_ingest") as sp:
                windows.stream_neardup_ingest(stream, store, ckpt, "doc_id", "text",
                                              threshold=THRESHOLD, shingle_n=SHINGLE_N)
        except Exception:
            failed += n_batches
            _fail(f"stream drain {rep}:\n{traceback.format_exc(limit=3)}")
            return None
        n_jobs = jobs.total_jobs() - jobs0
        progress = listener.since(seen, n_batches)
        # -- checks, outside the timed region
        pairs = pq.read_table(os.path.join(store, "pairs")).to_pandas()
        found = set(zip(pairs["id_a"].astype(int), pairs["id_b"].astype(int)))
        bad = {batch_of[b] for a, b in corpus["planted"] if (a, b) not in found}
        bad |= {max(batch_of.get(a, -1), batch_of.get(b, -1))
                for a, b in found if _jaccard(texts[a], texts[b]) < THRESHOLD}
        if len(progress) != n_batches:
            _fail(f"stream drain {rep}: {len(progress)} progress events for {n_batches} batches")
            bad |= set(range(n_batches))
        if bad:
            failed += len(bad)
            _fail(f"stream drain {rep}: batches {sorted(bad)} failed their checks")
            return None
        parts = glob.glob(os.path.join(store, "*", "batch_id=*"))
        return {
            "batch_s": [p["batch_s"] for p in progress],
            "add_s": [p["duration_ms"].get("addBatch", 0) / 1000.0 for p in progress],
            "drain_s": sp["end"] - sp["start"],
            "jobs_per_batch": n_jobs / n_batches,
            "pairs": len(found),
            "store_bytes": sum(_dir_bytes(d) for d in parts if not d.endswith("=-1")),
            "read_parts": sum(1 for d in parts
                              if os.path.basename(os.path.dirname(d)) in ("postings", "texts")
                              and not d.endswith(f"={n_batches - 1}")),
        }

    try:
        # the seeding warms the MinHash/LSH code the batches run
        with run.spans.span("warmup"), run.spans.span("streaming.seed_neardup_store") as sp_seed:
            windows.seed_neardup_store(store_df, seeded, "doc_id", "text")
        with run.spans.span("timed"):
            t_end = time.perf_counter() + run.seconds
            rep = 0
            while not rep or time.perf_counter() < t_end:
                rep += 1
                drain = one_drain(rep)
                if drain:
                    timed.append(drain)
    finally:
        run.spark.streams.removeListener(listener)

    batch_s = [s for d in timed for s in d["batch_s"]]
    # the first batch of a drain also pays the query's start, which
    # varied run to run three times as much as a later batch
    later_s = [s for d in timed for s in d["batch_s"][1:]]
    add_s = [s for d in timed for s in d["add_s"]]
    last = timed[-1] if timed else {}
    drain_wall = sum(d["drain_s"] for d in timed)
    e2e = {
        "op_latency_s": (median(later_s), len(later_s)),
        "stream_batch_s_p50": (median(batch_s), len(batch_s)),
        "stream_docs_per_s": (len(timed) * streamed_docs / drain_wall if drain_wall else 0.0,
                              len(timed)),
        "store_bytes_per_input_byte": (last.get("store_bytes", 0) / streamed_bytes, len(timed)),
    }
    res = {"attempted": attempted, "failed": failed, "e2e": e2e, "layer": {},
           "inputs": {"store_docs": n_store, "batches": n_batches, "streamed_docs": streamed_docs,
                      "streamed_text_bytes": streamed_bytes,
                      "planted_pairs": len(corpus["planted"])},
           "samples_s": {"batch": batch_s, "drain": [d["drain_s"] for d in timed]},
           "op_groups": None, "n_ops": attempted}
    if run.trace:
        res["layer"] = {
            "streaming.seed_neardup_store_s": sp_seed["end"] - sp_seed["start"],
            "streaming.add_batch_s_p50": median(add_s),
            "streaming.overhead_s_p50": median([b - a for b, a in zip(batch_s, add_s)]),
            "streaming.jobs_per_batch": median([d["jobs_per_batch"] for d in timed]),
            "streaming.store_partitions_read_last_batch": last.get("read_parts", 0),
            "streaming.store_bytes_per_batch": last.get("store_bytes", 0) / n_batches,
            "streaming.pairs_found": last.get("pairs", 0),
        }
    return res


WORKLOADS = {
    "cranker_spec": (cranker_spec, cranker_event_layers),
    "headline_mix": (headline_mix, headline_event_layers),
    "stream_ingest": (stream_ingest, None),
}
