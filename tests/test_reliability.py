"""Checkpoint-durability parity (r19 — VERDICT r18 "What's wrong").

Every lineage truncation in the package goes through
``operators/reliability.materialize``, whose regime is the session
runtime conf ``spark.graft.materialize``: "local" (executor-cache
blocks, job-fatal on executor loss), "replicated" (2× replicas,
survives single loss), "reliable" (DFS checkpoint, survives any
loss). The contract these tests pin: the regimes change WHERE blocks
live and what survives executor loss — never what any operator
returns. One sweep runs every class of materialization site under
every regime and requires rows IDENTICAL to "local"; the reliable
mode's loud no-checkpoint-dir guard is pinned too (failing at the
call site beats Spark's late executor-side error after the upstream
work already ran).
"""

from __future__ import annotations

import atexit
import contextlib
import os
import random
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from apache_hadoop_framework_for_peptide_identification_spark.operators import (
    corpus as C,
    dedup as D,
    graph as G,
    pipeline as P,
    similarity as S,
    urls as U,
)
from apache_hadoop_framework_for_peptide_identification_spark.operators.reliability import (
    CONF,
    MODES,
    materialize,
)
from apache_hadoop_framework_for_peptide_identification_spark.queries import (
    materialized_sort,
)


@contextlib.contextmanager
def regime(spark, mode):
    """Run the body under durability regime ``mode``; always restores
    the unset default so no other test inherits it (the session is
    shared module-to-module)."""
    spark.conf.set(CONF, mode)
    try:
        yield
    finally:
        spark.conf.unset(CONF)


@pytest.fixture(scope="module")
def ckpt_dir(spark):
    """Reliable checkpoint dir for the module; restored to unset-like
    state is impossible (SparkContext has no clearCheckpointDir), but
    the session fixture outlives every module anyway — the guard test
    below therefore runs FIRST, before this fixture ever sets it."""
    d = tempfile.mkdtemp(prefix="reliable_ckpt_")
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    spark.sparkContext.setCheckpointDir(d)
    return d


def test_reliable_mode_requires_checkpoint_dir_guard(spark):
    """Must run before ckpt_dir is ever requested in this module:
    reliable mode without setCheckpointDir raises the loud ValueError
    at the call site, not a late executor-side Spark error."""
    if spark.sparkContext.getCheckpointDir() is not None:
        pytest.skip("a checkpoint dir is already set in this session")
    with regime(spark, "reliable"), pytest.raises(ValueError, match="setCheckpointDir"):
        materialize(spark.range(3))


def test_unknown_mode_rejected(spark):
    """An unknown conf value refuses at the first materialization —
    both on the entry point itself and through an operator that
    materializes at build time."""
    for bogus in ("durable", "disk"):
        with regime(spark, bogus), pytest.raises(ValueError, match=CONF):
            materialize(spark.range(1))
    docs = spark.createDataFrame([(1, "a b c d"), (2, "a b c e")], "doc_id long, text string")
    with regime(spark, "persist"), pytest.raises(ValueError, match=CONF):
        D.prefix_jaccard_pairs(docs, "doc_id", "text")


# ------------------------------------------------------------ the sweep
#
# One builder per site class: ``site(spark) -> {label: DataFrame}``.
# Each builder is called INSIDE the regime (materialize reads the conf
# at build time), and every returned frame must collect to the same
# rows under every mode.

_WORDS = [f"w{i}" for i in range(40)]


def _near_dup_docs(spark):
    """20 random docs + 5 lightly-edited twins (ids 1000+i of doc i)."""
    rng = random.Random(79)
    docs = [" ".join(rng.choice(_WORDS) for _ in range(15)) for _ in range(20)]
    rows = [(i, t) for i, t in enumerate(docs)]
    for i in range(5):
        toks = docs[i].split()
        toks[rng.randrange(len(toks))] = rng.choice(_WORDS)
        rows.append((1000 + i, " ".join(toks)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def _ladder_docs(spark):
    """Exact dups (1≡2), a near-dup pair (3~4), and distinct rows
    across two topics — exercises every dedup_mix_pack tier."""
    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, "news", base),
        (2, "news", base.upper()),  # casefold dup of 1
        (3, "blog", base + " extra tail words here"),
        (4, "blog", base + " extra tail words there"),  # near-dup of 3
        (5, "news", "completely different text about spark checkpoints"),
        (6, "blog", "another unrelated document concerning parquet files"),
    ]
    return spark.createDataFrame(rows, "rec_id long, topic string, clean_text string")


def _site_dedup_mix_pack(spark):
    return {"mix_pack": P.dedup_mix_pack(_ladder_docs(spark), target_total=4, budget=32)}


def _pagerank_edges(spark):
    return spark.createDataFrame(
        [(1, 2, 1), (2, 3, 2), (3, 1, 1), (1, 3, 3), (4, 1, 1)],
        "src long, dst long, w long",
    )


def _site_pagerank_int(spark):
    e = _pagerank_edges(spark)
    return {
        f"broadcast={b}": G.pagerank_int(
            e, "src", "dst", "w", iters=7, checkpoint_every=2, broadcast_ranks=b
        ).select("node", "rank_int")
        for b in (False, True)
    }


def _site_connected_components(spark):
    # two components + a self-loop singleton; chain long enough to
    # force several propagation rounds
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "id_a long, id_b long"
    )
    return {
        "hash_min": D.connected_components(edges),
        "star": D.connected_components_star(edges),
    }


def _site_sitemap_frontier(spark):
    fetched = spark.createDataFrame(
        [
            ("https://a.com/index.xml",
             "<sitemapindex>"
             "<sitemap><loc>https://a.com/c1.xml</loc></sitemap>"
             "<sitemap><loc>https://a.com/c2.xml</loc></sitemap>"
             "</sitemapindex>"),
            ("https://a.com/c1.xml",
             "<urlset><url><loc>https://a.com/p1</loc></url></urlset>"),
            ("https://a.com/c2.xml",
             "<sitemapindex>"
             "<sitemap><loc>https://a.com/c3.xml</loc></sitemap>"
             "</sitemapindex>"),
            ("https://a.com/c3.xml",
             "<urlset><url><loc>https://a.com/p2</loc></url>"
             "<url><loc>https://a.com/p3</loc></url></urlset>"),
        ],
        "url string, xml string",
    )
    seeds = spark.createDataFrame(
        [("a.com", "https://a.com/index.xml")], "host string, sitemap_url string"
    )
    return {
        "frontier": U.sitemap_frontier(fetched, seeds).select(
            "loc", "depth", "source_sitemap"
        )
    }


def _site_global_sort_rank(spark):
    """The one CORPUS-sized checkpoint site: the range-partitioned
    frame. Keys deliberately arrive unsorted and skewed across input
    partitions so the range exchange + prefix-offset join do real
    work under every regime."""
    df = spark.range(0, 97, 1, 5).withColumn("key", F.md5(F.col("id").cast("string")))
    return {
        "rank": P.global_sort_rank(df, "key", n_partitions=4),
        "epoch": P.epoch_shuffle(spark.range(20), "id", epoch=3),
    }


def _site_materialized_sort(spark):
    df = spark.range(0, 50, 1, 4).withColumn("k", F.col("id") % 7)
    return {"sorted": materialized_sort(df, F.col("k").desc(), "id")}


def _site_triangle_count(spark):
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    noise = [(2, 1), (5, 5), (4, 5), (6, 7), (7, 8), (8, 6)]
    return {"tri": G.triangle_count(spark.createDataFrame(k4 + noise, "src long, dst long"))}


def _site_bm25_topk(spark):
    docs = _near_dup_docs(spark)
    return {"bm25": C.bm25_topk(docs, "doc_id", "text", ("w1", "w7", "w30"), k=5)}


def _site_minhash(spark):
    docs = _near_dup_docs(spark)
    return {
        "candidates": D.minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=32, bands=16),
        "pairs": D.minhash_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.5, num_hashes=32, bands=16
        ),
    }


def _site_embedding_neardup_lsh(spark):
    rng = random.Random(5)
    vecs = [[rng.gauss(0, 1) for _ in range(8)] for _ in range(30)]
    rows = [(i, v) for i, v in enumerate(vecs)]
    rows += [(100 + i, [x + rng.gauss(0, 0.01) for x in vecs[i]]) for i in range(5)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    return {"lsh": S.embedding_neardup_lsh(emb, threshold=0.95, bits=16, bands=8, dim=8)}


def _site_prefix_filters(spark):
    docs = _near_dup_docs(spark)
    return {
        "jaccard": D.prefix_jaccard_pairs(docs, "doc_id", "text", threshold=0.6),
        "containment": D.containment_prefix_pairs(docs, "doc_id", "text", threshold=0.6),
    }


def _site_substring_dedup(spark):
    passage = " ".join(f"p{i}" for i in range(16))
    docs = spark.createDataFrame(
        [
            (1, passage + " tail one here"),
            (2, "head words two " + passage),
            (3, " ".join(f"u{i}" for i in range(20))),
        ],
        "doc_id long, text string",
    )
    return {
        "aligned": D.exact_substring_dedup(docs, "doc_id", "text", chunk_tokens=4),
        "sliding": D.sliding_substring_dedup(docs, "doc_id", "text", window_tokens=4),
    }


SITES = {
    "dedup_mix_pack": _site_dedup_mix_pack,
    "pagerank_int": _site_pagerank_int,
    "connected_components": _site_connected_components,
    "sitemap_frontier": _site_sitemap_frontier,
    "global_sort_rank": _site_global_sort_rank,
    "materialized_sort": _site_materialized_sort,
    "triangle_count": _site_triangle_count,
    "bm25_topk": _site_bm25_topk,
    "minhash": _site_minhash,
    "embedding_neardup_lsh": _site_embedding_neardup_lsh,
    "prefix_filters": _site_prefix_filters,
    "substring_dedup": _site_substring_dedup,
}


def _check_connected_components(out):
    for labels in (dict(rows) for rows in out.values()):
        assert labels[4] == 1 and labels[11] == 10 and labels[20] == 20


def _check_sitemap_frontier(out):
    # pages surface at BOTH depths (1 via c1, 2 via the nested c2→c3
    # index), so every per-level truncation actually executed
    assert sorted(d for _, d, _ in out["frontier"]) == [1, 2, 2]


def _check_global_sort_rank(out):
    ranked = sorted((r[1], r[2]) for r in out["rank"])  # (key, pos)
    assert [p for _, p in ranked] == list(range(1, 98))  # dense, key-ordered


def _check_materialized_sort(out):
    assert out["sorted"] == sorted(out["sorted"], key=lambda r: (-r[1], r[0]))


def _check_triangle_count(out):
    assert out["tri"] == [(8, 10, 5)]  # K4's 4 + the 6-7-8 cycle


def _check_prefix_filters(out):
    assert len(out["jaccard"]) >= 5  # the planted twins


CHECKS = {
    "connected_components": _check_connected_components,
    "sitemap_frontier": _check_sitemap_frontier,
    "global_sort_rank": _check_global_sort_rank,
    "materialized_sort": _check_materialized_sort,
    "triangle_count": _check_triangle_count,
    "prefix_filters": _check_prefix_filters,
}


def _rows(df, ordered=False):
    rows = [tuple(r) for r in df.collect()]
    return rows if ordered else sorted(rows, key=repr)


def _n_files(d):
    return sum(len(fs) for _, _, fs in os.walk(d))


@pytest.mark.parametrize("site", list(SITES))
def test_parity_across_modes(spark, ckpt_dir, site):
    out = {}
    for mode in MODES:
        before = _n_files(ckpt_dir)
        with regime(spark, mode):
            frames = SITES[site](spark)
            out[mode] = {
                label: _rows(df, ordered=site == "materialized_sort")
                for label, df in frames.items()
            }
        # the site really read the conf: reliable wrote DFS files
        assert (_n_files(ckpt_dir) > before) == (mode == "reliable"), (site, mode)
    for mode in MODES:
        assert out[mode] == out["local"], f"{site}: {mode} differs from local"
    assert any(out["local"].values()), f"{site}: every output is empty"
    CHECKS.get(site, lambda _: None)(out["local"])
    spark.catalog.clearCache()  # pagerank's session-lifetime fe cache


def test_reliable_mode_actually_writes_to_checkpoint_dir(spark, ckpt_dir):
    """The reliable regime must be a REAL DFS checkpoint (files under
    the checkpoint dir), not a silent localCheckpoint fallback — the
    durability claim rests on the blocks living off-executor."""
    before = _n_files(ckpt_dir)
    with regime(spark, "reliable"):
        df = materialize(spark.range(100).withColumn("x", F.col("id") * 2))
    assert df.count() == 100
    after = _n_files(ckpt_dir)
    assert after > before, "reliable mode wrote nothing under the checkpoint dir"
    # and those writes are lz4'd: the engine session sets the core
    # conf (0.52x bytes A/B, BASELINE.md r19) — pin it so a builder
    # refactor can't silently drop it
    assert (
        spark.sparkContext.getConf().get("spark.checkpoint.compress") == "true"
    ), "engine session lost spark.checkpoint.compress"


def test_materialize_once_across_modes_and_eagerness(spark, ckpt_dir):
    """The guarantee every call site exists for: the subtree executes
    EXACTLY ONCE no matter the regime or eagerness, and NOTHING is
    left in the Dataset CacheManager. Both pins guard measured
    regressions: a bare checkpoint(eager=False) executes the subtree
    twice (consumer job + checkpoint-write job), and persist-before-
    lazy-checkpoint restores 1x but leaks a plan-keyed cache entry
    that substitutes stale data into later identical plans — which is
    why reliable mode always checkpoints eagerly."""
    from pyspark.sql.types import LongType

    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    # start from a known-empty cache so the per-mode isEmpty asserts
    # blame materialize() and not some earlier test's leftover cache
    # (the session is shared module-to-module)
    spark.catalog.clearCache()
    for mode in MODES:
        for eager in (True, False):
            acc = spark.sparkContext.accumulator(0)

            @F.udf(LongType())
            def tick(x, _acc=acc):
                _acc.add(1)
                return x

            with regime(spark, mode):
                df = materialize(
                    spark.range(0, 200, 1, 4).select(tick("id").alias("v")), eager=eager
                )
            df.count()
            df.agg(F.sum("v")).collect()  # second consumer
            assert acc.value == 200, (
                f"mode={mode} eager={eager}: subtree executed "
                f"{acc.value / 200:.1f}x, want exactly 1x"
            )
            assert cache_mgr.isEmpty(), (
                f"mode={mode} eager={eager}: left a CacheManager entry — "
                "later identical plans would silently read it"
            )


def _purge_new_rdd_blocks(spark, fn):
    """Fault injection: run ``fn`` (which materializes a frame), then
    remove every executor-cache block of the RDDs it pinned — the
    closest local[*] analogue of losing the executors that held a
    truncated frame's blocks. Uses the JVM BlockManagerMaster through
    the private gateway (test-only; there is no public purge API)."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = fn()
    new = set(jsc.getPersistentRDDs().keySet().toArray()) - before
    bmm = spark.sparkContext._jvm.org.apache.spark.SparkEnv.get().blockManager().master()
    for rid in new:
        bmm.removeRdd(int(rid), True)
    return out, new


def test_executor_block_loss_is_fatal_local_but_survivable_reliable(spark, ckpt_dir):
    """The durability claim itself, not just row parity (r19): after
    the materialized blocks vanish (simulated executor loss), a
    ``local`` frame is UNRECOVERABLE — Spark raises its
    checkpoint-block-not-found error because the lineage is gone —
    while a ``reliable`` frame re-reads from the checkpoint dir and
    still answers. This is the exact failure SCALE.md prices for an
    hours-long 100 TB build; the test makes it observable at
    fixture scale."""
    from py4j.protocol import Py4JJavaError

    def build(mode):
        with regime(spark, mode):
            return materialize(spark.range(0, 500, 1, 4).withColumn("x", F.col("id") * 7))

    lost, new_local = _purge_new_rdd_blocks(spark, lambda: build("local"))
    assert new_local, "local mode pinned no executor blocks to lose"
    with pytest.raises(Py4JJavaError, match="[Cc]heckpoint block"):
        lost.count()

    saved, new_rel = _purge_new_rdd_blocks(spark, lambda: build("reliable"))
    # reliable mode holds NOTHING in executor caches — its blocks are
    # DFS files, so there is nothing to lose and the count survives
    assert new_rel == set()
    assert saved.count() == 500

    # replicated survives SINGLE-executor loss via the second replica;
    # local[*] has one block manager, so losing "all executors" kills
    # both copies — the documented limit of the middle regime
    repl, new_repl = _purge_new_rdd_blocks(spark, lambda: build("replicated"))
    assert new_repl, "replicated mode pinned no executor blocks"
    with pytest.raises(Py4JJavaError, match="[Cc]heckpoint block"):
        repl.count()
