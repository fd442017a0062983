#!/usr/bin/env python3
"""Two-cluster-size scaling evidence (north rule: N -> 4N executors,
efficiency >= 0.8).  No real cluster exists in this sandbox; per driver
instruction the same job runs on the same input at two local[N]
parallelism levels and we report throughput at both + efficiency
= T_N / (4 * T_4N).  The launcher (run_scaling.sh) grants 2 GiB of JVM
heap per core — the executor model: 4N executors bring 4N x the memory,
and pinning the heap while quadrupling threads measures per-task
execution-memory starvation (spill), not scaling.

Usage:  python3 BENCH/scaling.py <cpus> [scale]
Prints one JSON line with timings + the per-stage counters that prove both
runs did identical work.  BENCH/run_scaling.sh drives both and writes
BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sketch_spark import get_spark  # noqa: E402
from sketch_spark.operators.dedup import DedupConfig, DedupPipeline  # noqa: E402
from sketch_spark.sources import synth  # noqa: E402


def corpus_path(scale: int) -> str:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    return os.path.join(root, ".bench_cache", f"transcripts_scale{scale}.parquet")


# Scales above CHUNK are built as seed-shifted unions of CHUNK-sized
# corpora with disjoint conv_id spaces ("s{i}-" prefix).  Statistically
# this IS the weak-scaling regime: each unit of data carries the same
# duplicate-family mix and the same per-family hot-bucket skew (one
# 36k-member boilerplate bucket per chunk), while a single scale-4N
# generate() would (a) spend ~4x single-threaded driver time and tens of
# GB of Python-object heap and (b) plant one 144k-member bucket — a
# *different*, artificially harder skew profile than 4x the base load.
CHUNK = 1200


def ensure_corpus(spark, scale: int) -> str:
    path = corpus_path(scale)
    truth = path.replace("transcripts_", "truth_clusters_")
    # Completeness, not mere existence: a killed build leaves a readable
    # partial dir that the old check accepted — a truncated corpus would
    # then be measured and recorded under the full scale.  Single-chunk
    # builds are complete iff Spark's job-commit _SUCCESS exists in both
    # dirs; multi-chunk (append-mode) builds get an explicit marker
    # written only after the last chunk.
    marker = path + ".complete"
    if scale <= CHUNK:
        if os.path.exists(os.path.join(path, "_SUCCESS")) and os.path.exists(
            os.path.join(truth, "_SUCCESS")
        ):
            return path
    elif os.path.exists(marker):
        return path
    from pyspark.sql import functions as F

    os.makedirs(os.path.dirname(path), exist_ok=True)
    if scale <= CHUNK:
        corpus = synth.generate(synth.SynthConfig(scale=scale))
        t, _, tc = synth.to_spark(spark, corpus)
        t.write.mode("overwrite").parquet(path)
        tc.write.mode("overwrite").parquet(truth)
        return path
    assert scale % CHUNK == 0, f"big scales must be multiples of {CHUNK}"
    if os.path.exists(marker):
        os.remove(marker)
    for i in range(scale // CHUNK):
        corpus = synth.generate(synth.SynthConfig(seed=42 + i, scale=CHUNK))
        t, _, tc = synth.to_spark(spark, corpus)
        pre = F.lit(f"s{i}-")
        mode = "overwrite" if i == 0 else "append"
        t.withColumn("conv_id", F.concat(pre, "conv_id")).write.mode(
            mode
        ).parquet(path)
        tc.select(
            F.concat(pre, "conv_id").alias("conv_id"),
            F.concat(pre, "cluster_id").alias("cluster_id"),
        ).write.mode(mode).parquet(truth)
    with open(marker, "w") as f:
        json.dump({"scale": scale, "chunks": scale // CHUNK}, f)
    return path


def measure_recall(spark, clusters, scale: int) -> dict:
    """Same-cluster dup-pair recall + extra pairs vs cached truth — computed
    from the truth x pipeline contingency table (sum of C(n,2) per cell),
    never materializing pairs (the boilerplate cluster alone would be
    ~10^8 pairs at bench scale)."""
    from pyspark.sql import functions as F

    truth_path = corpus_path(scale).replace("transcripts_", "truth_clusters_")
    truth = spark.read.parquet(truth_path).withColumnRenamed("cluster_id", "tc")
    both = clusters.select("conv_id", F.col("cluster_id").alias("pc")).join(
        truth, "conv_id"
    )

    def pair_sum(df, cols):
        return (
            df.groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .agg(F.sum(F.expr("n * (n - 1) / 2")).alias("p"))
            .collect()[0]
            .p
            or 0
        )

    truth_pairs = int(pair_sum(both, ["tc"]))
    pipe_pairs = int(pair_sum(both, ["pc"]))
    cell_pairs = int(pair_sum(both, ["tc", "pc"]))  # pairs agreeing in both
    return {
        "truth_pairs": truth_pairs,
        "recalled": cell_pairs,
        "recall": round(cell_pairs / max(truth_pairs, 1), 6),
        "extra_pairs": pipe_pairs - cell_pairs,
    }


def main() -> None:
    cpus = int(sys.argv[1])
    scale = int(sys.argv[2]) if len(sys.argv) > 2 else 120
    spark = get_spark(
        f"scaling-{cpus}", master=f"local[{cpus}]", shuffle_partitions=2 * cpus
    )
    path = ensure_corpus(spark, scale)
    t = spark.read.parquet(path).repartition(2 * cpus, "conv_id").persist()
    n_turns = t.count()

    # warm the Python UDF workers before the clock (one-time pandas/numpy
    # import per worker; a cluster amortizes it to zero, and leaving it in
    # biases the high-core-count runs — more workers, more startup —
    # against exactly the efficiency being measured)
    spark.range(4 * cpus).repartition(2 * cpus).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    # pre-touch the per-worker kernel arenas (see suffix.pretouch_arena and
    # bench.py): populates the pages the winnowing kernels will reuse, so
    # the COLD first pass stops paying the host's ~45 MB/s page-population
    # tax inside its wall.  The REPORTED number is unaffected — it is the
    # warm second run, whose arenas the first pass populated either way;
    # this only shrinks the campaign's untimed+cold wall-clock.
    from sketch_spark.operators import suffix as _suffix

    # shared sizing policy with bench.py — one implementation
    _suffix.pretouch_for(spark, t, 2 * cpus)

    # SCALING_REPEAT=1: run the identical pipeline twice in the same JVM
    # and report both walls.  This host lazily populates fresh pages at
    # ~200 MB/s (vs ~5 GB/s warm reuse), so a cold JVM/Python-worker pair
    # pays an erratic, parallelism-independent memory-population tax that
    # a long-running cluster executor never sees; the warmed second run is
    # the number that models one.  Counters are asserted identical.
    repeats = 2 if os.environ.get("SCALING_REPEAT", "0") == "1" else 1
    walls, stage_logs = [], []
    pipe = None
    for r in range(repeats):
        if r:
            t.unpersist(blocking=True)
            spark.catalog.clearCache()
            t = spark.read.parquet(path).repartition(2 * cpus, "conv_id").persist()
            t.count()
        t0 = time.time()
        prev_counters = pipe.counters if pipe else None
        pipe = DedupPipeline(spark, DedupConfig())
        out = pipe.run(t)
        out["clusters"].count()
        walls.append(round(time.time() - t0, 2))
        stage_logs.append({e["stage"]: e.get("seconds") for e in pipe.ckpt.log})
        if prev_counters is not None:
            assert pipe.counters == prev_counters, (pipe.counters, prev_counters)
    wall = walls[-1]
    rec = (
        measure_recall(spark, out["clusters"], scale)
        if os.environ.get("SCALING_RECALL", "0") == "1"
        else {}
    )
    # self-describing record (round-4): wall_sec is the WARM median-of-one
    # under SCALING_REPEAT (cold_walls holds the cold pass); heap + code
    # rev disambiguate entries measured under different kernels/heap
    # models in the same append-only file.
    import subprocess

    try:
        proc = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=os.path.dirname(__file__),
        )
        # empty rev would classify the line into the legacy no-rev 'r3'
        # series in report.py and confound cross-kernel efficiencies;
        # 'unknown' stays its own series
        rev = proc.stdout.strip() if proc.returncode == 0 else ""
        rev = rev or "unknown"
    except OSError:
        rev = "unknown"
    print(
        json.dumps(
            {
                "cpus": cpus,
                "scale": scale,
                "turns": n_turns,
                "wall_sec": wall,
                "protocol": "repeat-warm" if repeats > 1 else "single-run-cold",
                "heap": os.environ.get("SPARK_DRIVER_MEM", ""),
                "rev": rev,
                "turns_per_sec": round(n_turns / wall, 1),
                "stages": stage_logs[-1],
                "cold_walls": walls[:-1],
                "cold_stages": stage_logs[:-1],
                "counters": pipe.counters,
                **rec,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
