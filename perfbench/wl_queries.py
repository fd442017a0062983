"""sketch_queries: one run is one pass of twelve entry queries, each over a
fresh snapshot path of the same tables (hard links), so the per-path plan
memo and scan-split census start cold as they would for a new table.

Each query's DuckDB oracle from ``__spark_entry__.oracle_sql()`` runs once
per invocation, outside the timed passes.  Every pass, the untimed warm-up
pass included, collects each query's rows and compares them with the
oracle rows as multisets; a query that raises or differs is a failure."""

from __future__ import annotations

import os
import shutil
import time

import gen
from common import Run, log
from spans import Tracer

# the ten headline queries of the repository's bench.py, plus two sketches
QUERY_IDS = (
    "q01_fingerprint_groups",
    "q03_bottomk",
    "q05_oneperm_registers",
    "q06_band_buckets",
    "q07_simhash",
    "q14_order_part_overlap",
    "q15_ngram_jaccard",
    "q16_ann_topk",
    "q17_user_sessions",
    "q18_lineitem_agg",
    "q23_hll_registers",
    "q27_cm_estimates",
)
# per-layer metrics of these layers read 0: this workload does not run them
UNUSED_LAYERS = ("transcripts", "minhash", "lsh", "verify", "suffix", "cc",
                 "checkpoints", "dedup")


def _canon(pdf):
    """Columns by name, arrays as tuples (hashable)."""
    import numpy as np

    df = pdf[sorted(pdf.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda x: tuple(np.asarray(x).tolist()) if isinstance(x, (list, np.ndarray)) else x
            )
    return df


def oracle_check(spark_pdf, duck_pdf) -> tuple[int, int, int, bool]:
    """(matched rows, oracle rows, spark rows, ok): rows compared exactly
    as multisets, columns by name (the entry queries emit engine-portable
    integer arithmetic, so outputs agree bit for bit)."""
    import pandas as pd

    n_duck, n_spark = len(duck_pdf), len(spark_pdf)
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return 0, n_duck, n_spark, False
    if not n_duck or not n_spark:
        return 0, n_duck, n_spark, n_duck == n_spark
    a = _canon(spark_pdf).value_counts(dropna=False)
    b = _canon(duck_pdf).value_counts(dropna=False)
    both = pd.concat([a, b], axis=1, join="inner")
    matched = int(both.min(axis=1).sum())
    return matched, n_duck, n_spark, matched == n_duck == n_spark


def inputs(cache: str, seed: int, size: str) -> str:
    return gen.sf_dir(cache, seed, size)


class Workload:
    items = len(QUERY_IDS)

    def __init__(self, spark, src: str, run_dir: str, ncpu: int):
        """src: the directory inputs() returned."""
        import __spark_entry__ as entry

        self.spark, self.run_dir, self.src = spark, run_dir, src
        self.queries = entry.queries()
        self.n = 0
        self.oracle = self._oracle(entry.oracle_sql())

    def _oracle(self, sql: dict) -> dict:
        """Each query's DuckDB oracle rows, over the generated tables."""
        import duckdb

        t0 = time.perf_counter()
        con = duckdb.connect(config={"temp_directory": os.path.join(self.run_dir, "duckdb_tmp")})
        for t in gen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.src}/{t}.parquet')")
        out = {q: con.execute(sql[q]).df() for q in QUERY_IDS}
        con.close()
        log(f"DuckDB oracle {time.perf_counter() - t0:.2f}s (not part of setup_s)")
        return out

    def setup(self) -> float:
        """Nothing to load: every pass reads its own fresh table path."""
        return 0.0

    def _snapshot(self) -> str:
        """A fresh path onto the same table files."""
        self.n += 1
        d = os.path.join(self.run_dir, f"snap_{self.n}")
        os.makedirs(d)
        for t in gen.TABLES:
            os.link(os.path.join(self.src, f"{t}.parquet"), os.path.join(d, f"{t}.parquet"))
        return d

    def run(self, tracer: Tracer | None) -> Run:
        """One pass: each query built over a fresh snapshot and collected;
        the wall is the sum of the queries' walls."""
        snap = self._snapshot()
        res = {}
        for q in QUERY_IDS:
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    got = self.queries[q](self.spark, snap).toPandas()
                else:
                    with tracer.span(f"queries.{q}"):
                        got = self.queries[q](self.spark, snap).toPandas()
            except Exception as e:  # noqa: BLE001 - a failing query is counted
                log(f"{q} raised {type(e).__name__}: {e}")
                got = None
            res[q] = (time.perf_counter() - t0, got)
        self.spark.catalog.clearCache()
        shutil.rmtree(snap)

        matched = n_oracle = n_spark = bad = 0
        for q, (_, got) in res.items():
            m, no, ns, ok = (oracle_check(got, self.oracle[q]) if got is not None
                             else (0, len(self.oracle[q]), 0, False))
            matched, n_oracle, n_spark, bad = matched + m, n_oracle + no, n_spark + ns, bad + (not ok)
        return Run(
            sum(sec for sec, _ in res.values()), len(res), bad,
            matched / max(n_oracle, 1), matched / max(n_spark, 1),
            f"failed={bad} rows matched {matched}/{n_oracle} oracle, {n_spark} spark; "
            + " ".join(f"{q[:3]}={sec:.2f}" for q, (sec, _) in res.items()),
        )

    def layer_metrics(self, tr: Tracer, run_s: float) -> dict:
        lay = tr.layer("queries")
        out = {
            "queries.cpu_s": (lay["cpu_s"], "s"),
            "queries.shuffle_mb": (lay["shuffle_mb"], "MB"),
            "queries.failed_tasks": (int(lay["failed_tasks"]), "count"),
        }
        for q in QUERY_IDS:
            out[f"queries.{q}_s"] = (tr.self_s(tr.by_name(f"queries.{q}")), "s")
        return out
