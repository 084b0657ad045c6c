"""Seeded inputs for the three workloads.

Every input the program sees is generated here from ``--seed``: the
CRANKER peptide TSV files, the driver-fixture-shaped parquet tables the
headline queries read, and the streaming near-dup corpus with its
planted pairs. The same seed gives byte-identical files.
"""

from __future__ import annotations

import datetime as dt
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from gen_scale_fixtures import VOCAB, gen_documents, gen_embeddings  # noqa: E402

AMINO = "ACDEFGHIKLMNPQRSTVWY"


def file_stats(paths: list[str]) -> dict:
    return {"files": len(paths), "bytes": sum(os.path.getsize(p) for p in paths)}


# --- cranker_spec ----------------------------------------------------------


def gen_peptides(out_dir: str, seed: int, n_files: int, rows_per_file: int) -> dict:
    """``n_files`` headered (peptide_id, sequence) TSV files of 6-40
    residue sequences. Returns the expected sink rows, sorted by
    peptide_id, plus input row/byte/file counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    amino = np.frombuffer(AMINO.encode(), dtype=np.uint8)
    ids, lens, paths = [], [], []
    for f in range(n_files):
        n = rows_per_file
        seq_len = rng.integers(6, 41, n)
        residues = amino[rng.integers(0, len(amino), int(seq_len.sum()))].tobytes().decode()
        ends = np.cumsum(seq_len).tolist()
        pids = [f"PEP{f:03d}_{r:06d}" for r in range(n)]
        lines = [f"{pid}\t{residues[e - k:e]}" for pid, e, k in zip(pids, ends, seq_len.tolist())]
        path = os.path.join(out_dir, f"peptides_{f:03d}.tsv")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("peptide_id\tsequence\n" + "\n".join(lines) + "\n")
        ids += pids
        lens.append(seq_len)
        paths.append(path)
    seq_len = np.concatenate(lens)
    # the stand-in chain's contract: seq_len = length(sequence),
    # verdict = match iff seq_len % 7 == 0
    expected = pd.DataFrame({
        "peptide_id": ids, "seq_len": seq_len,
        "verdict": np.where(seq_len % 7 == 0, "match", "nomatch"),
    })
    return {"expected": expected, "rows": len(expected), **file_stats(paths)}


# --- headline_mix ----------------------------------------------------------

# Row counts of the driver fixture at sf0.01 (dimension tables are fixed
# size there too); ``scale`` multiplies the fact/stream tables.
_BASE = {"customer": 1500, "orders": 15000, "lineitem": 60000, "events": 10000,
         "documents": 500, "embeddings": 500}
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["red", "blue", "green", "small", "large"]
_NOUNS = ["widget", "bolt", "ring", "anvil", "gear", "nut", "pipe", "valve",
          "spring", "lever", "clamp", "hinge", "gasket"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    start = int(base.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(start + (seconds * 1_000_000).astype(np.int64), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_fixture(out_dir: str, seed: int, scale: float = 1.0) -> dict:
    """The ten driver-fixture tables (same names, column names and
    physical types as the sf0.01 fixture), one parquet file each."""
    rng = np.random.default_rng(seed)
    n = {k: max(10, int(v * scale)) for k, v in _BASE.items()}
    os.makedirs(out_dir, exist_ok=True)
    epoch = dt.datetime(1995, 1, 1)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(range(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    })
    ns = 100
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(range(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns),
    })
    npart = 2000
    tables["part"] = pa.table({
        "p_partkey": pa.array(range(npart), pa.int64()),
        "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in
                   zip(rng.integers(0, len(_COLORS), npart), rng.integers(0, len(_NOUNS), npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, len(_PTYPES), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
    })
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _ts(epoch, rng.integers(0, 2405, no) * 86400),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    })
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _ts(epoch, rng.integers(1, 2500, nl) * 86400),
    })
    ne = n["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    tables["events"] = pa.table({
        "event_id": pa.array(range(ne), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": _money(rng, 0.01, 500.0, ne),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    })
    tables["documents"] = gen_documents(n["documents"], rng, VOCAB)
    tables["embeddings"] = gen_embeddings(n["embeddings"], rng)
    paths = []
    for name, table in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return {"rows": {k: t.num_rows for k, t in tables.items()}, **file_stats(paths)}


# --- stream_ingest ---------------------------------------------------------


def _drop_last_word(text: str) -> str:
    return text.rsplit(" ", 1)[0]


def gen_stream_corpus(seed: int, n_store: int, n_batches: int, batch_docs: int,
                      dup_every: int = 10) -> dict:
    """A fixture-shaped corpus split into the seed store and
    ``n_batches`` micro-batches. Every ``dup_every``-th streamed doc
    gets a planted near-duplicate (its text minus the last word, a new
    id) in the same batch, so every batch does real near-dup work.
    Returns pandas frames and the planted (id_a, id_b) pairs."""
    rng = np.random.default_rng(seed)
    docs = gen_documents(n_store + n_batches * batch_docs, rng, VOCAB).to_pandas()
    docs = docs[["doc_id", "text"]]
    store = docs.iloc[:n_store].reset_index(drop=True)
    dup_base = 10 ** (len(str(len(docs))) + 1)
    batches, planted = [], []
    for b in range(n_batches):
        part = docs.iloc[n_store + b * batch_docs: n_store + (b + 1) * batch_docs].copy()
        dups = part.iloc[::dup_every].copy()
        planted += [(int(i), int(i) + dup_base) for i in dups["doc_id"]]
        dups["doc_id"] = dups["doc_id"] + dup_base
        dups["text"] = dups["text"].map(_drop_last_word)
        batches.append(pd.concat([part, dups]).reset_index(drop=True))
    return {"store": store, "batches": batches, "planted": planted}
