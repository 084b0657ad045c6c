"""Checkpoint durability policy — the ONE materialization entry point.

The engine truncates lineage at ~60 sites (iterative loops, multi-
consumer fan-outs such as the build-once/probe-many posting indexes,
pandas-UDF single-execution pins, the final-sort guard on query
tails, per-micro-batch pins in the streaming sinks). Every one of
them calls :func:`materialize` — no other module in the package calls
``localCheckpoint`` / ``checkpoint`` / ``persist``, save the one
documented exemption in graph.pagerank_int (pinned by
tests/test_single_materialization.py) — so the durability of the
materialized blocks, which IS the job's fault tolerance at those
points, is chosen once per job instead of per operator.

The regime is the session runtime conf ``spark.graft.materialize``
(:data:`CONF`), read at each call (a conf read is a driver-local
lookup — ~0.24 ms, no Spark job — so it is not cached, and a job may
set it at any point before building its frames)::

    spark.conf.set("spark.graft.materialize", "reliable")
    spark.sparkContext.setCheckpointDir("hdfs:///tmp/ckpt")

Unset means ``"local"``: a plain session that never sets it (an
externally built one included) runs exactly the pre-conf plans. An
unknown value raises at the first materialization. Streaming sinks
read the conf through the query's cloned session, so set it before
``start()``.

The trade ``"local"`` makes: blocks live ONLY in the executors'
caching subsystem with NO lineage left to recompute them, so on a real
cluster **losing one executor after the checkpoint makes those
partitions unrecoverable and fails the job**. Invisible on local[32];
near-certain over an hours-long 100 TB corpus build across thousands
of executors (see SCALE.md "Checkpoint durability" for the full regime
table).

Three regimes, cost vs. what survives:

- ``"local"`` (default — every fixture/bench path): executor-cache
  blocks at the session's default storage level, zero extra I/O.
  Survives NOTHING: any executor loss after materialization is
  job-fatal (Spark cannot recompute a truncated lineage). Right for
  short jobs where a rare retry-from-scratch is cheaper than paying
  durability tax on every run — and for local mode, where "executor
  loss" means the whole JVM died anyway.
- ``"replicated"``: ``localCheckpoint`` at ``MEMORY_AND_DISK_2`` —
  every block lives on TWO executors (Spark 4's storageLevel
  parameter). Survives any SINGLE executor loss between replica
  placements; concurrent/rolling losses can still kill both copies.
  Costs one extra network copy of the materialized bytes, no DFS
  round-trip. The middle regime for multi-hour jobs on clusters with
  uncorrelated failures.
- ``"reliable"``: ``DataFrame.checkpoint()`` — blocks written to the
  ``SparkContext.setCheckpointDir`` DFS path. Survives ANY number of
  executor losses (tasks re-read from DFS). Costs one full write +
  re-read of the materialized bytes through the DFS. The regime for
  the 100 TB corpus build itself: the checkpointed frames there are
  the SMALL mid-pipeline survivors (keeper ids, normalized keeper
  rows, rank tables — orders of magnitude below the input scan), so
  the DFS tax is bounded while the job gains restartability at every
  truncation point.

Parity contract: the regimes change WHERE blocks live, never what any
query returns — pinned by tests/test_reliability.py sweeping the conf
over :data:`MODES` for every class of materialization site against
the default-mode output. The envelope itself is fault-injection-tested
there too (purge the materialized blocks: local dies with Spark's
checkpoint-block-not-found, reliable re-reads from the DFS), and the
wall-clock tax is measured in BASELINE.md (`make checkpoint-tax`,
sf0.1: no measurable tax at the keeper-sized sites, 1.33x reliable
at the one corpus-sized site — proportional to the CHECKPOINTED
bytes, not the corpus).

Compression: the engine session (session.get_spark) sets
``spark.checkpoint.compress=true`` — A/B-measured 0.52x checkpoint
bytes on the corpus-sized ranked frame at flat wall, halving the DFS
round-trip the reliable regime pays. It is a CORE conf read at
context start, so an externally built session must set it in ITS
builder; configure() cannot retrofit it.

Housekeeping under ``"reliable"``: checkpoint files stay on the DFS
until the application exits. A long-lived session running MANY
finalization builds should set
``spark.cleaner.referenceTracking.cleanCheckpoints=true`` so files
whose frames are GC'd are reaped, or point ``setCheckpointDir`` at a
per-job path it removes afterwards — otherwise the checkpoint dir
grows by one materialized frame per build.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: The three durability regimes, in cheapest-first order. Public so
#: tests and measurement scripts iterate THIS tuple instead of
#: hand-copying it — a fourth regime added here is automatically
#: parity-tested and priced.
MODES = ("local", "replicated", "reliable")

#: Session runtime conf naming the regime (one of MODES; unset = "local").
CONF = "spark.graft.materialize"


def materialize(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize ``df`` and truncate its lineage under the session's
    durability regime (module doc). ``"reliable"`` requires a
    checkpoint directory; failing loudly here beats Spark's late
    executor-side error after the upstream work already ran.

    ``"reliable"`` deliberately IGNORES ``eager=False`` and always
    checkpoints eagerly — both lazy variants were
    accumulator-measured as strictly worse:

    - bare ``checkpoint(eager=False)`` leaves the blocks unpersisted,
      so the subtree executes TWICE (the first consumer's job, then
      again for the checkpoint-write job) — forfeiting the
      materialize-once guarantee every call site exists to provide;
    - ``persist()`` before the lazy checkpoint restores 1x compute
      but registers a plan-keyed CacheManager entry that nothing ever
      unpersists — a session-lifetime memory/disk leak per call, and
      the cached plan is silently substituted (InMemoryTableScan)
      into LATER identical plans, serving stale rows if the backing
      files were rewritten.

    Eager reliable is 1x compute for any number of consumers with no
    cache residue (verified). What the override costs: (a) the
    materialization happens at call time instead of first action — a
    scheduling shift; and (b) each consumer re-reads the checkpoint
    FILES from the DFS rather than an executor cache — that re-read
    is the durable regime's defining behavior (it is what survives
    executor loss; SCALE.md's table row) and is included in the
    measured 1.33x corpus-sized tax. A caller fanning a reliable
    frame into MANY consumers who wants cache-speed reads on top of
    durability should ``.persist()`` the RETURNED frame and
    ``.unpersist()`` it when done — caller-owned lifecycle, so
    nothing leaks."""
    mode = df.sparkSession.conf.get(CONF, "local")
    if mode == "local":
        return df.localCheckpoint(eager=eager)
    if mode == "replicated":
        from pyspark import StorageLevel

        return df.localCheckpoint(eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK_2)
    if mode == "reliable":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise ValueError(
                f"{CONF}=reliable needs a reliable checkpoint directory: "
                "call spark.sparkContext.setCheckpointDir(<DFS path>) first "
                "(an executor-local path silently gives NO durability on a "
                "real cluster — use HDFS/S3/shared storage)"
            )
        return df.checkpoint(eager=True)  # docstring: why never lazy
    raise ValueError(f"{CONF} must be one of {MODES}; got {mode!r}")
