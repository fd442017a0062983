"""dedup_mixed: one run is one DedupPipeline.run through materialized
clusters, checked against the planted truth clusters."""

from __future__ import annotations

import os
import shutil
import time

import pandas as pd
import pyarrow.parquet as pq

import gen
from common import Run, dir_mb
from spans import Tracer

# a run fails its output check below these
MIN_RECALL = 0.99
MAX_EXTRA_PAIR_FRAC = 0.01
# per-layer metrics of these layers read 0: this workload does not run them
UNUSED_LAYERS = ("queries",)


def pair_check(clusters: pd.DataFrame, truth: pd.DataFrame) -> dict:
    """Same-cluster pair recall and extra pairs from the truth x pipeline
    contingency table (sum of C(n,2) per cell), never listing pairs."""
    both = clusters.rename(columns={"cluster_id": "pc"}).merge(
        truth.rename(columns={"cluster_id": "tc"}), on="conv_id", how="outer"
    )
    complete = (
        len(clusters) == len(truth)
        and clusters["conv_id"].is_unique
        and not both[["pc", "tc"]].isna().any().any()
    )

    def pairs(cols: list[str]) -> int:
        n = both.groupby(cols).size()
        return int((n * (n - 1) // 2).sum())

    truth_pairs, pipe_pairs, cell = pairs(["tc"]), pairs(["pc"]), pairs(["tc", "pc"])
    recall = cell / truth_pairs if truth_pairs else 1.0
    extra = (pipe_pairs - cell) / pipe_pairs if pipe_pairs else 0.0
    return {
        "recall": recall,
        "extra_pair_frac": extra,
        "ok": complete and recall >= MIN_RECALL and extra <= MAX_EXTRA_PAIR_FRAC,
    }


def inputs(cache: str, seed: int, size: str) -> str:
    return gen.corpus_dir(cache, seed, size)


class Workload:
    def __init__(self, spark, d: str, run_dir: str, ncpu: int):
        """d: the directory inputs() returned."""
        from sketch_spark.operators.dedup import DedupConfig, DedupPipeline

        self.spark, self.run_dir, self.ncpu = spark, run_dir, ncpu
        self.path = os.path.join(d, "transcripts.parquet")
        self.truth = pd.read_parquet(os.path.join(d, "truth_clusters.parquet"))
        self.items = pq.ParquetFile(self.path).metadata.num_rows
        self.cfg = DedupConfig()
        self.Pipeline = DedupPipeline
        self.t = None

    def setup(self) -> float:
        """Read, partition by conversation and persist the transcripts;
        returns the seconds it took."""
        t0 = time.perf_counter()
        t = self.spark.read.parquet(self.path).repartition(2 * self.ncpu, "conv_id")
        self.t = t.persist()
        self.t.count()
        return time.perf_counter() - t0

    def _check(self, wall: float, clusters: pd.DataFrame, note: str) -> Run:
        chk = pair_check(clusters, self.truth)
        return Run(wall, 1, int(not chk["ok"]), chk["recall"], 1.0 - chk["extra_pair_frac"],
                   f"recall={chk['recall']:.4f} extra_pair_frac={chk['extra_pair_frac']:.4f} "
                   f"ok={chk['ok']}{note}")

    def _pipeline_run(self, ckpt: str | None):
        """One untraced DedupPipeline.run; the clock stops once run()
        returns (it materializes the clusters)."""
        t0 = time.perf_counter()
        pipe = self.Pipeline(self.spark, self.cfg, checkpoint_dir=ckpt)
        out = pipe.run(self.t)
        wall = time.perf_counter() - t0
        clusters = out["clusters"].select("conv_id", "cluster_id").toPandas()
        pipe.unpersist_all()
        return wall, clusters, pipe.counters

    def run(self, tracer: Tracer | None) -> Run:
        if tracer is None:
            wall, clusters, counters = self._pipeline_run(None)
            return self._check(wall, clusters, f" counters={counters}")
        wall, clusters, self.rows, self.iters = self._traced(tracer)
        return self._check(wall, clusters, "")

    def _traced(self, tracer: Tracer):
        """The stage methods and connected_components in sequence from this
        thread, each under its own job group."""
        from pyspark.sql import functions as F

        from sketch_spark.operators import cc as cc_mod

        pipe = self.Pipeline(self.spark, self.cfg)
        with tracer.span("dedup.run", grouped=False) as root:
            with tracer.span("transcripts.conv"):
                conv = pipe.conv_stage(self.t)
            with tracer.span("minhash.sig"):
                sig = pipe.sig_stage(conv)
            with tracer.span("transcripts.exact"):
                exact = pipe.exact_stage(conv)
            with tracer.span("lsh.cands"):
                cands = pipe.cands_stage(sig)
            with tracer.span("verify.verify"):
                verified = pipe.verify_stage(cands, sig, conv)
            with tracer.span("suffix.substr"):
                substr = pipe.substr_stage(conv)
            with tracer.span("cc.cc"):
                edges = (
                    exact.select("a", "b")
                    .union(verified.select("a", "b"))
                    .union(substr.select("a", "b"))
                )
                labels, iters = cc_mod.connected_components(
                    edges, scratch_dir=pipe.ckpt.scratch("cc_edges")
                )
                clusters = (
                    conv.select("conv_id", "cid")
                    .join(labels.withColumnRenamed("node", "cid"), "cid", "left")
                    .select("conv_id", F.coalesce("cluster_id", F.col("cid")).alias("cluster_id"))
                    .toPandas()
                )
        rows = {s: pipe.ckpt.rows_of(s) or 0 for s in ("conv", "sig", "exact", "cands", "verify", "substr")}
        pipe.unpersist_all()
        return root["end"] - root["start"], clusters, rows, int(iters)

    def layer_metrics(self, tr: Tracer, run_s: float) -> dict:
        """(value, unit) of every dedup layer metric, from the traced run,
        plus the checkpoint layer: a checkpointed run, then a rerun that
        resumes every stage from the completed directory."""
        ckpt = os.path.join(self.run_dir, "ckpt")
        self._pipeline_run(ckpt)
        written_mb = dir_mb(ckpt)
        resume_s = self._pipeline_run(ckpt)[0]
        shutil.rmtree(ckpt, ignore_errors=True)

        rows, s = self.rows, lambda name: tr.self_s(tr.by_name(name))  # noqa: E731
        L = {p: tr.layer(p) for p in ("transcripts", "minhash", "lsh", "verify", "suffix", "cc")}
        stage_spans = [x for x in tr.spans if x["parent"] is not None]
        serial = sum(x["end"] - x["start"] for x in stage_spans)
        busy = sum(x.get("run_s", 0.0) for x in stage_spans)
        out = {
            "transcripts.conv_s": (s("transcripts.conv"), "s"),
            "transcripts.exact_s": (s("transcripts.exact"), "s"),
            "transcripts.cpu_s": (L["transcripts"]["cpu_s"], "s"),
            "transcripts.shuffle_mb": (L["transcripts"]["shuffle_mb"], "MB"),
            "transcripts.convs": (rows["conv"], "count"),
            "minhash.sig_s": (s("minhash.sig"), "s"),
            "minhash.cpu_s": (L["minhash"]["cpu_s"], "s"),
            "minhash.sigs": (rows["sig"], "count"),
            "lsh.cands_s": (s("lsh.cands"), "s"),
            "lsh.cpu_s": (L["lsh"]["cpu_s"], "s"),
            "lsh.shuffle_mb": (L["lsh"]["shuffle_mb"], "MB"),
            "lsh.spill_mb": (L["lsh"]["spill_mb"], "MB"),
            "lsh.candidate_pairs": (rows["cands"], "count"),
            "verify.verify_s": (s("verify.verify"), "s"),
            "verify.shuffle_mb": (L["verify"]["shuffle_mb"], "MB"),
            "verify.verified_pairs": (rows["verify"], "count"),
            "verify.yield": (rows["verify"] / rows["cands"] if rows["cands"] else 0.0, "ratio"),
            "suffix.substr_s": (s("suffix.substr"), "s"),
            "suffix.cpu_s": (L["suffix"]["cpu_s"], "s"),
            "suffix.shuffle_mb": (L["suffix"]["shuffle_mb"], "MB"),
            "suffix.substring_pairs": (rows["substr"], "count"),
            "cc.cc_s": (s("cc.cc"), "s"),
            "cc.iterations": (self.iters, "count"),
            "cc.jobs": (int(L["cc"]["jobs"]), "count"),
            "cc.edges_in": (rows["exact"] + rows["verify"] + rows["substr"], "count"),
            "cc.shuffle_mb": (L["cc"]["shuffle_mb"], "MB"),
            "checkpoints.written_mb": (written_mb, "MB"),
            "checkpoints.resume_s": (resume_s, "s"),
            "dedup.serial_s": (serial, "s"),
            "dedup.overlap_ratio": (serial / run_s, "ratio"),
            "dedup.jobs": (sum(x.get("jobs", 0) for x in stage_spans), "count"),
            "dedup.slot_util": (busy / (run_s * self.ncpu), "ratio"),
        }
        for p in L:
            out[f"{p}.failed_tasks"] = (int(L[p]["failed_tasks"]), "count")
        return out
