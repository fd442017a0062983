"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same seed
gives byte-identical parquet.  The program under test only ever sees the
written parquet; the truth clusters stay with the benchmark.

  mixed_corpus        sources.synth's default family mix plus edit chains
                      (each conversation lightly rewords the previous one,
                      so a chain is one truth cluster that needs several
                      connected-components rounds to close)
  sf_tables           the ten query tables (documents, lineitem, ...) at a
                      given scale factor, shaped like the shipped sf tables
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from sketch_spark.sources import synth

# Bumped whenever a generator's output changes, so stale caches are ignored.
GEN_VERSION = 3

SIZES = {
    # synth config, edit chains, chain length
    "dedup_mixed": {
        "full": ({}, 20, 24),
        "tiny": ({"n_single": 10, "n_exact": 3, "n_near": 3, "n_tail": 2,
                  "n_substring": 2, "n_boiler": 5, "n_edge": 4}, 2, 6),
    },
    # scale factor of the query tables
    "sketch_queries": {"full": 0.01, "tiny": 0.002},
}

_CHAIN_VOCAB = np.array([f"c{i:03d}" for i in range(600)])


def _chain_turns(rng: np.random.Generator, n_turns: int) -> list[str]:
    ks = rng.integers(5, 26, size=n_turns)
    toks = _CHAIN_VOCAB[rng.integers(0, len(_CHAIN_VOCAB), size=int(ks.sum()))]
    out, pos = [], 0
    for k in ks:
        out.append(" ".join(toks[pos : pos + k]))
        pos += k
    return out


def _reword_two(rng: np.random.Generator, turns: list[str]) -> list[str]:
    """Replace one token in each of two turns.  Each edit breaks up to three
    3-turn shingles, so a conversation keeps Jaccard >= 0.5 with its chain
    neighbours but mostly not with the conversation two steps away: a chain
    is a long path, which takes connected components several rounds."""
    out = list(turns)
    for p in rng.choice(len(out), size=2, replace=False):
        toks = out[p].split()
        toks[int(rng.integers(0, len(toks)))] = f"e{int(rng.integers(0, 10**6)):06d}"
        out[p] = " ".join(toks)
    return out


def _shingles(turns: list[str]) -> set[str]:
    return {synth.SEP.join(turns[i : i + 3]) for i in range(len(turns) - 2)}


def _rows(convs: dict[str, list[str]], rng: np.random.Generator) -> pd.DataFrame:
    rows = []
    t0 = np.datetime64("2026-01-01T00:00:00", "us")
    for conv_id in sorted(convs):
        base = t0 + np.timedelta64(int(rng.integers(0, 10_000_000)), "s")
        for ti, text in enumerate(convs[conv_id]):
            role = synth.ROLES[ti % len(synth.ROLES)]
            tool = synth.TOOLS[ti % len(synth.TOOLS)] if role == "tool" else None
            rows.append((conv_id, ti, role, text, tool, base + np.timedelta64(ti * 7, "s")))
    df = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    df["turn_idx"] = df["turn_idx"].astype("int32")
    df["ts"] = df["ts"].astype("datetime64[us]")
    return df


def mixed_corpus(seed: int, size: str) -> tuple[pd.DataFrame, pd.DataFrame]:
    synth_cfg, n_chains, chain_len = SIZES["dedup_mixed"][size]
    base = synth.generate(synth.SynthConfig(seed=seed, **synth_cfg))
    rng = np.random.default_rng([seed, 1])
    convs: dict[str, list[str]] = {}
    truth = []
    for c in range(n_chains):
        turns = _chain_turns(rng, int(rng.integers(24, 33)))
        for j in range(chain_len):
            if j:
                prev = turns
                turns = _reword_two(rng, prev)
                a, b = _shingles(prev), _shingles(turns)
                if len(a & b) / len(a | b) < 0.5:
                    raise RuntimeError("edit chain step fell below the truth threshold")
            cid = f"chain_{c:04d}_{j:03d}"
            convs[cid] = turns
            truth.append((cid, f"chain_{c:04d}_000"))
    t = pd.concat([base.transcripts, _rows(convs, rng)], ignore_index=True)
    t["ts"] = t["ts"].astype("datetime64[us]")
    tc = pd.concat(
        [base.truth_clusters, pd.DataFrame(truth, columns=["conv_id", "cluster_id"])],
        ignore_index=True,
    )
    return t, tc


def _write_df(df: pd.DataFrame, path: str) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), path,
        coerce_timestamps="us", allow_truncated_timestamps=True,
    )


def corpus_dir(cache_root: str, seed: int, size: str) -> str:
    """Transcripts + truth of the mixed corpus for (seed, size), generated
    once and cached; returns the directory holding transcripts.parquet and
    truth_clusters.parquet."""
    d = os.path.join(cache_root, f"dedup_mixed_{size}_s{seed}_v{GEN_VERSION}")
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return d
    t, tc = mixed_corpus(seed, size)
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    _write_df(t, os.path.join(tmp, "transcripts.parquet"))
    _write_df(tc, os.path.join(tmp, "truth_clusters.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d


# ---- query tables ---------------------------------------------------------

_VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
]
TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def _sf_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Schemas, row counts, key ranges and value shapes of the shipped
    sf0.001 / sf0.01 / sf0.1 tables (documents: 30-word vocabulary, 10..99
    words, 5% near-dup docs, exact dups from sf0.1 on; embeddings: unit-norm
    dim-64 vectors in 10 weak clusters; at least 500 of each)."""
    rng = np.random.default_rng([seed, 2])

    def n(at_sf01: int, floor: int = 1) -> int:
        return max(round(at_sf01 * sf / 0.1), floor)

    n_cust, n_supp, n_part, n_ord = n(15000), n(1000), n(20000), n(150000)
    n_ev, n_doc, n_emb, n_user = n(100000), n(5000, 500), n(2000, 500), n(1500)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": [f"region{i}" for i in range(5)],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"nation{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        )[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 6)])[rng.integers(0, 5, n_part)],
        "p_type": np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"])[
            rng.integers(0, 5, n_part)
        ],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_part), 2),
    })
    day_us = 86_400_000_000
    d0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    span_d = (np.datetime64("2001-08-02", "us").astype(np.int64) - d0) // day_us
    odate = d0 + rng.integers(0, span_d, n_ord) * day_us
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(900, 400000, n_ord), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n_ord)],
    })
    n_li = 4 * n_ord
    lok = rng.integers(0, n_ord, n_li)
    sdate = odate[lok] + rng.integers(1, 122, n_li) * day_us
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(sdate, pa.timestamp("us")),
    })
    e0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ets = np.sort(e0 + rng.integers(0, 30 * day_us, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_ev)
        ],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    })
    n_words = rng.integers(10, 100, n_doc)
    texts = [
        " ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), n_words[i]))
        for i in range(n_doc)
    ]
    for t in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[t] = texts[rng.integers(0, n_doc)] + " dup"
    for t in rng.choice(n_doc, n_doc // 625, replace=False):
        texts[t] = texts[rng.integers(0, n_doc)]
    langs = ["en", "zh", "es", "fr", "de"]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(langs)[rng.choice(5, n_doc, p=[0.41, 0.15, 0.15, 0.145, 0.145])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.08, (10, 64))
    emb = rng.normal(0, 1.0, (n_emb, 64)) + centers[labels] * 8
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def sf_dir(cache_root: str, seed: int, size: str) -> str:
    """The query tables for (seed, size), one single-row-group parquet file
    per table (the layout of the shipped tables), generated once."""
    sf = SIZES["sketch_queries"][size]
    d = os.path.join(cache_root, f"sf{sf}_s{seed}_v{GEN_VERSION}")
    if os.path.exists(os.path.join(d, "_SUCCESS")):
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in _sf_tables(seed, sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_SUCCESS"), "w").close()
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
