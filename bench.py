"""Headline benchmark. Prints ONE JSON line:

    {"metric": "dedup_throughput_rows_per_sec", "value": N, "unit": "sec",
     "queries": {...per-query seconds...}, "sf": 0.1, ...}

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default 32).

The headline metric is the BASELINE.json target: rows(turns)/sec through
the full near-dup detection + clustering pipeline. Per-query timings cover
each operator family so regressions are attributable.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

_REPO = os.path.dirname(os.path.abspath(__file__))


def _force(df) -> int:
    """Execute fully; cheap driver-side result."""
    return df.count()


def _tmpfs_local_dir() -> str | None:
    """Shuffle/spill dir on tmpfs, when the box has one with headroom.

    The sandbox's virtio disk writes ~20 MB/s; with shuffle on it the bench
    measures the disk, not the engine (a real executor has local NVMe).
    Round-4 VERDICT #3: this knob lived only in tools/run_*.sh, so the
    in-repo 9.76 s artifact did not reproduce from a bare `python bench.py`
    (driver measured 12.585 s on an equally quiet box). Now bench.py sets
    it up itself and stamps `local_dir` into the artifact so any residual
    gap is attributable.
    """
    base = "/dev/shm"
    try:
        if not os.path.isdir(base):
            return None
        st = os.statvfs(base)
        if st.f_bavail * st.f_frsize < 8 << 30:  # want >= 8 GiB headroom
            return None
        d = tempfile.mkdtemp(prefix="spark_bench_", dir=base)
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        return d
    except OSError:
        return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        sf = -1.0

    # Box-state fingerprint: 1-core STREAM-triad GB/s (tools/bw_probe.py).
    # This sandbox is multi-tenant; co-tenant DRAM traffic depresses every
    # timing below WITHOUT showing up as CPU steal (quiet-day baseline
    # 13.6 GB/s; measured 11.2 on a degraded day with ~2x slower legs —
    # BASELINE.md round-3 session-5). Recording it makes bench runs
    # comparable across days.
    def _probe_triad() -> float | None:
        try:
            import subprocess

            out = subprocess.run(
                [sys.executable,
                 os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "tools", "bw_probe.py"), "--quick"],
                capture_output=True, text=True, timeout=120,
            )
            return float(out.stdout.strip())
        except Exception:
            return None

    # Interference gate (round-3 VERDICT #3: BENCH_r03 was recorded at
    # triad 8.78 vs the 13.6 quiet baseline and every per-query comparison
    # that round was confounded). Wait — bounded — for a quiet window
    # before starting; if none appears, run anyway and let the stamped
    # triad_gbs flag the artifact. SPARK_GRAFT_BW_GATE=0 disables.
    gate = float(os.environ.get("SPARK_GRAFT_BW_GATE", "12.8"))
    gate_wait = float(os.environ.get("SPARK_GRAFT_BW_GATE_WAIT_SEC", "900"))
    triad_gbs = _probe_triad()
    if gate > 0 and triad_gbs is not None:
        deadline = time.monotonic() + gate_wait
        while triad_gbs < gate and time.monotonic() < deadline:
            print(
                f"bench: triad {triad_gbs} < gate {gate} GB/s, waiting for a "
                "quiet window", file=sys.stderr,
            )
            time.sleep(60)
            triad_gbs = _probe_triad() or triad_gbs

    from rust_gd_spark.session import get_spark

    local_dir = _tmpfs_local_dir()
    spark = get_spark(
        app_name="rust_gd_spark_bench",
        cores=cpus,
        extra_conf={"spark.local.dir": local_dir} if local_dir else None,
    )

    import __spark_entry__ as entrymod

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = docs.count()  # also warms the JVM/scan path

    # Warm-up (same rationale as scaling_bench --warmup-frac, BASELINE.md
    # "Steady-state measurement"): run the full pipeline once on a 10%
    # sample BEFORE any timed query. Cold-start — Python UDF worker pool
    # fork+imports, JVM codegen per plan shape, first-touch host paging on
    # this Firecracker VM — otherwise lands entirely on whichever query
    # happens to run a given plan shape first (measured: the first
    # full-pipeline query paid ~4x its steady-state wall), making
    # per-query timings order-dependent instead of attributable.
    def _warmup():
        from rust_gd_spark.pipeline import DedupConfig, near_dup_pipeline, with_turn_uid

        tr = with_turn_uid(entrymod._transcripts_from_docs(spark, sf_dir))
        res = near_dup_pipeline(
            tr.sample(0.1, seed=7), "uid", "text",
            DedupConfig(jaccard_threshold=0.5, min_substring_len=120),
        )
        res.clusters.count()

    _warmup()

    timings: dict[str, float] = {}
    timings_first: dict[str, float] = {}

    def timed(name: str, fn) -> None:
        """Each query runs twice; `queries` records the min (warm
        steady-state cost), `queries_first_run` the first pass. Rationale
        (BASELINE.md round-4 session-6): the box's co-tenant ambient
        oscillates on a 2-3 min period — shorter than a bench run — so a
        single pass stamps whichever queries hit a trough with 2-6x
        right-tail noise (measured: the same query read 15.9 s in two
        both-ends-gated runs and 4.5-4.8 s warm standalone); the first
        pass also pays per-plan-shape codegen that is not the operator's
        cost. min-of-2 recovers the quiet steady-state number."""
        t0 = time.monotonic()
        fn()
        first = time.monotonic() - t0
        t0 = time.monotonic()
        fn()
        second = time.monotonic() - t0
        timings_first[name] = round(first, 3)
        timings[name] = round(min(first, second), 3)

    q = entrymod.queries()
    timed("exact_dedup", lambda: _force(q["exact_dedup"](spark, sf_dir)))
    timed("minhash_lsh_pairs", lambda: _force(q["minhash_lsh_pairs"](spark, sf_dir)))
    timed("minhash_lsh_pairs_oph",
          lambda: _force(q["minhash_lsh_pairs_oph"](spark, sf_dir)))
    timed("bloom_dedup_newbatch",
          lambda: _force(q["bloom_dedup_newbatch"](spark, sf_dir)))
    timed("decontam_ngrams", lambda: _force(q["decontam_ngrams"](spark, sf_dir)))
    timed("decontam_fuzzy", lambda: _force(q["decontam_fuzzy"](spark, sf_dir)))
    timed("quality_classifier",
          lambda: _force(q["quality_classifier"](spark, sf_dir)))
    timed("ngram_topk", lambda: _force(q["ngram_topk"](spark, sf_dir)))
    timed("soft_dedup_weights",
          lambda: _force(q["soft_dedup_weights"](spark, sf_dir)))
    # mid-run probe after the heaviest early block: the ambient on this box
    # oscillates on a 2-3 min period, shorter than a full bench run, so
    # start/end probes alone cannot certify the middle (measured 08-19: a
    # both-ends-quiet run carried a 3x trough across exactly this block).
    triad_gbs_mid = _probe_triad()
    timed("simhash_pairs", lambda: _force(q["simhash_pairs"](spark, sf_dir)))
    timed("simhash_rotation_pairs",
          lambda: _force(q["simhash_rotation_pairs"](spark, sf_dir)))
    timed("substring_pairs", lambda: _force(q["substring_pairs"](spark, sf_dir)))
    timed("doc_text_stats", lambda: _force(q["doc_text_stats"](spark, sf_dir)))
    timed("doc_quality_lang", lambda: _force(q["doc_quality_lang"](spark, sf_dir)))
    timed("embedding_topk_cosine", lambda: _force(q["embedding_topk_cosine"](spark, sf_dir)))
    timed("embedding_topk_blocked", lambda: _force(q["embedding_topk_blocked"](spark, sf_dir)))
    timed("embedding_cosine_pairs", lambda: _force(q["embedding_cosine_pairs"](spark, sf_dir)))
    timed("embedding_topk_ivf", lambda: _force(q["embedding_topk_ivf"](spark, sf_dir)))
    timed("embedding_topk_ivf_pruned",
          lambda: _force(q["embedding_topk_ivf_pruned"](spark, sf_dir)))
    timed("embedding_topk_ivf_pruned_recall",
          lambda: _force(q["embedding_topk_ivf_pruned_recall"](spark, sf_dir)))
    timed("embedding_ann_lsh", lambda: _force(q["embedding_ann_lsh"](spark, sf_dir)))
    timed("embedding_decontam",
          lambda: _force(q["embedding_decontam"](spark, sf_dir)))
    timed("window_reassembly", lambda: _force(q["window_reassembly"](spark, sf_dir)))
    timed("window_rank", lambda: _force(q["window_rank"](spark, sf_dir)))
    timed("join_agg_segment", lambda: _force(q["join_agg_segment"](spark, sf_dir)))
    timed("lineitem_pricing",
          lambda: _force(q["lineitem_pricing"](spark, sf_dir)))
    timed("event_window_stats",
          lambda: _force(q["event_window_stats"](spark, sf_dir)))
    timed("session_windows", lambda: _force(q["session_windows"](spark, sf_dir)))
    timed("asof_join_events",
          lambda: _force(q["asof_join_events"](spark, sf_dir)))
    timed("event_quantiles", lambda: _force(q["event_quantiles"](spark, sf_dir)))
    timed("event_type_pivot", lambda: _force(q["event_type_pivot"](spark, sf_dir)))
    timed("event_rollup", lambda: _force(q["event_rollup"](spark, sf_dir)))
    timed("range_join_events",
          lambda: _force(q["range_join_events"](spark, sf_dir)))
    timed("conv_repetition", lambda: _force(q["conv_repetition"](spark, sf_dir)))
    timed("conversation_dups",
          lambda: _force(q["conversation_dups"](spark, sf_dir)))
    timed("conversation_dup_clusters",
          lambda: _force(q["conversation_dup_clusters"](spark, sf_dir)))
    timed("cluster_representatives",
          lambda: _force(q["cluster_representatives"](spark, sf_dir)))
    timed("training_data_prep",
          lambda: _force(q["training_data_prep"](spark, sf_dir)))
    timed("embedding_dedup_clusters",
          lambda: _force(q["embedding_dedup_clusters"](spark, sf_dir)))
    timed("pii_redaction", lambda: _force(q["pii_redaction"](spark, sf_dir)))
    timed("stratified_sample",
          lambda: _force(q["stratified_sample"](spark, sf_dir)))
    timed("mixture_plan", lambda: _force(q["mixture_plan"](spark, sf_dir)))
    timed("doc_repetition", lambda: _force(q["doc_repetition"](spark, sf_dir)))
    timed("boilerplate_lines",
          lambda: _force(q["boilerplate_lines"](spark, sf_dir)))
    timed("c4_clean", lambda: _force(q["c4_clean"](spark, sf_dir)))
    timed("sequence_packing",
          lambda: _force(q["sequence_packing"](spark, sf_dir)))
    timed("doc_chunks", lambda: _force(q["doc_chunks"](spark, sf_dir)))
    timed("snapshot_diff", lambda: _force(q["snapshot_diff"](spark, sf_dir)))
    timed("tfidf_topk", lambda: _force(q["tfidf_topk"](spark, sf_dir)))
    timed("exact_k_sample",
          lambda: _force(q["exact_k_sample"](spark, sf_dir)))
    timed("unigram_xent", lambda: _force(q["unigram_xent"](spark, sf_dir)))
    timed("dsir_weights", lambda: _force(q["dsir_weights"](spark, sf_dir)))
    timed("cdc_chunks", lambda: _force(q["cdc_chunks"](spark, sf_dir)))
    timed("cdc_chunk_store",
          lambda: _force(q["cdc_chunk_store"](spark, sf_dir)))
    timed("cdc_delta", lambda: _force(q["cdc_delta"](spark, sf_dir)))
    timed("xent_mixture_sample",
          lambda: _force(q["xent_mixture_sample"](spark, sf_dir)))
    timed("corpus_profile",
          lambda: _force(q["corpus_profile"](spark, sf_dir)))
    timed("training_shuffle",
          lambda: _force(q["training_shuffle"](spark, sf_dir)))
    timed("leakage_safe_split",
          lambda: _force(q["leakage_safe_split"](spark, sf_dir)))
    timed("url_dedup", lambda: _force(q["url_dedup"](spark, sf_dir)))
    timed("domain_filter", lambda: _force(q["domain_filter"](spark, sf_dir)))
    timed("cdc_dedup_rewrite",
          lambda: _force(q["cdc_dedup_rewrite"](spark, sf_dir)))
    timed("turn_retry_collapse",
          lambda: _force(q["turn_retry_collapse"](spark, sf_dir)))
    timed("turn_loop_stats",
          lambda: _force(q["turn_loop_stats"](spark, sf_dir)))
    timed("prefix_dup_conversations",
          lambda: _force(q["prefix_dup_conversations"](spark, sf_dir)))
    timed("gd_roundtrip", lambda: _force(q["gd_roundtrip"](spark, sf_dir)))
    timed("gd_roundtrip_aligned",
          lambda: _force(q["gd_roundtrip_aligned"](spark, sf_dir)))
    timed("gd_chunk_stats", lambda: _force(q["gd_chunk_stats"](spark, sf_dir)))
    timed("gd_decompose_metrics", lambda: _force(q["gd_decompose_metrics"](spark, sf_dir)))
    timed("dedup_ratio_metric",
          lambda: _force(q["dedup_ratio_metric"](spark, sf_dir)))
    timed("multimodal_features", lambda: _force(q["multimodal_features"](spark, sf_dir)))

    # remaining oracled surface: the session-2/3 round-5 families —
    # every queries() entry the driver hard-checks is also timed here so
    # the final artifact covers the full surface, not a prefix of it.
    timed("incremental_clusters",
          lambda: _force(q["incremental_clusters"](spark, sf_dir)))
    timed("tool_masked_dups",
          lambda: _force(q["tool_masked_dups"](spark, sf_dir)))
    timed("cluster_deltas", lambda: _force(q["cluster_deltas"](spark, sf_dir)))
    timed("dedup_funnel", lambda: _force(q["dedup_funnel"](spark, sf_dir)))
    timed("key_skew_profile",
          lambda: _force(q["key_skew_profile"](spark, sf_dir)))
    timed("ngram_jaccard_pairs",
          lambda: _force(q["ngram_jaccard_pairs"](spark, sf_dir)))
    timed("minhash_bbit_pairs",
          lambda: _force(q["minhash_bbit_pairs"](spark, sf_dir)))
    timed("bbit_estimate_audit",
          lambda: _force(q["bbit_estimate_audit"](spark, sf_dir)))
    timed("snm_candidates", lambda: _force(q["snm_candidates"](spark, sf_dir)))
    timed("snm_pairs", lambda: _force(q["snm_pairs"](spark, sf_dir)))
    timed("lsh_param_plan", lambda: _force(q["lsh_param_plan"](spark, sf_dir)))
    timed("compaction_plan", lambda: _force(q["compaction_plan"](spark, sf_dir)))
    timed("source_overlap", lambda: _force(q["source_overlap"](spark, sf_dir)))
    timed("source_overlap_near_dup",
          lambda: _force(q["source_overlap_near_dup"](spark, sf_dir)))
    timed("incremental_near_dups",
          lambda: _force(q["incremental_near_dups"](spark, sf_dir)))
    timed("containment_pairs",
          lambda: _force(q["containment_pairs"](spark, sf_dir)))
    timed("soft_dedup_sample",
          lambda: _force(q["soft_dedup_sample"](spark, sf_dir)))
    timed("turn_template_spans",
          lambda: _force(q["turn_template_spans"](spark, sf_dir)))
    timed("canned_response_dups",
          lambda: _force(q["canned_response_dups"](spark, sf_dir)))
    timed("cluster_quality_audit",
          lambda: _force(q["cluster_quality_audit"](spark, sf_dir)))
    timed("bag_jaccard_pairs",
          lambda: _force(q["bag_jaccard_pairs"](spark, sf_dir)))
    timed("decontam_attribution",
          lambda: _force(q["decontam_attribution"](spark, sf_dir)))
    timed("recrawl_groups",
          lambda: _force(q["recrawl_groups"](spark, sf_dir)))
    timed("ngram_novelty",
          lambda: _force(q["ngram_novelty"](spark, sf_dir)))
    timed("conversation_sessions",
          lambda: _force(q["conversation_sessions"](spark, sf_dir)))
    timed("template_span_removal",
          lambda: _force(q["template_span_removal"](spark, sf_dir)))
    timed("dedup_rate_by_source",
          lambda: _force(q["dedup_rate_by_source"](spark, sf_dir)))
    timed("jaccard_topk_neighbors",
          lambda: _force(q["jaccard_topk_neighbors"](spark, sf_dir)))
    timed("quality_threshold_plan",
          lambda: _force(q["quality_threshold_plan"](spark, sf_dir)))
    timed("dup_threshold_sensitivity",
          lambda: _force(q["dup_threshold_sensitivity"](spark, sf_dir)))
    timed("dup_burst_windows",
          lambda: _force(q["dup_burst_windows"](spark, sf_dir)))
    timed("source_length_outliers",
          lambda: _force(q["source_length_outliers"](spark, sf_dir)))
    timed("lang_agreement",
          lambda: _force(q["lang_agreement"](spark, sf_dir)))
    timed("snm_recall_audit",
          lambda: _force(q["snm_recall_audit"](spark, sf_dir)))
    timed("role_alternation_audit",
          lambda: _force(q["role_alternation_audit"](spark, sf_dir)))
    timed("length_histogram",
          lambda: _force(q["length_histogram"](spark, sf_dir)))
    timed("pii_incidence",
          lambda: _force(q["pii_incidence"](spark, sf_dir)))
    timed("ingest_hygiene",
          lambda: _force(q["ingest_hygiene"](spark, sf_dir)))
    timed("packing_stats",
          lambda: _force(q["packing_stats"](spark, sf_dir)))
    timed("embedding_hygiene",
          lambda: _force(q["embedding_hygiene"](spark, sf_dir)))
    timed("conv_turns_histogram",
          lambda: _force(q["conv_turns_histogram"](spark, sf_dir)))

    # high-similarity ANN — the true LSH regime (τ=0.9, nbits=256), now a
    # queries() entry with planted near-dups and a DuckDB oracle. Stage
    # the planted corpus to parquet FIRST (outside the timer) so the row
    # times the operator, not fixture construction (round-4 VERDICT #7).
    from rust_gd_spark.fixtures import ensure_highsim_fixture

    ensure_highsim_fixture(sf_dir)
    timed("embedding_ann_highsim",
          lambda: _force(q["embedding_ann_highsim"](spark, sf_dir)))

    # headline: FULL 4-path pipeline (incl. simhash, band-graph windows) —
    # the production config; transcript_clusters above is the
    # oracle-shaped variant (no simhash, exact in-bucket pairs).
    def _headline():
        from rust_gd_spark.pipeline import DedupConfig, near_dup_pipeline, with_turn_uid

        tr = with_turn_uid(entrymod._transcripts_from_docs(spark, sf_dir))
        res = near_dup_pipeline(
            tr, "uid", "text",
            DedupConfig(jaccard_threshold=0.5, min_substring_len=120),
        )
        return _force(res.clusters)

    t0 = time.monotonic()
    _headline()
    first = time.monotonic() - t0
    t0 = time.monotonic()
    _headline()
    pipeline_sec = min(first, time.monotonic() - t0)
    timings_first["near_dup_pipeline"] = round(first, 3)
    timings["near_dup_pipeline"] = round(pipeline_sec, 3)

    timed("transcript_clusters", lambda: _force(q["transcript_clusters"](spark, sf_dir)))

    throughput = n_docs / pipeline_sec if pipeline_sec > 0 else 0.0
    total = round(sum(timings.values()), 3)

    artifact = {
        "metric": "near_dup_pipeline_sec",
        "value": round(pipeline_sec, 3),
        "unit": "sec",
        "queries": timings,
        "queries_first_run": timings_first,
        "sf": sf,
        "rows": n_docs,
        "throughput_rows_per_sec": round(throughput, 1),
        "total_sec": total,
        "cpus": cpus,
        "triad_gbs": triad_gbs,
        "triad_gbs_mid": triad_gbs_mid,
        # post-run re-probe: interference STARTING mid-run would pass the
        # entry gate but show here
        "triad_gbs_end": _probe_triad(),
        # environment stamps (round-4 VERDICT #3: every knob the headline
        # depends on must be self-contained and visible in the artifact)
        "local_dir": "tmpfs" if local_dir else "disk",
        "malloc_mmap_threshold": os.environ.get("MALLOC_MMAP_THRESHOLD_"),
        "warmup": "0.1-sample full pipeline + per-query min-of-2",
    }

    # Full detail: a file plus the first JSON line. The driver captures
    # only the LAST 2000 chars of stdout; the full line (two 60+-entry
    # dicts) doesn't fit, which is why BENCH_r04.json has "parsed": null.
    # So the final stdout line is a compact summary trimmed to fit the
    # capture window — slowest queries kept first, count of omitted ones
    # stamped, full per-query detail always in bench_full.json.
    try:
        with open(os.path.join(_REPO, "bench_full.json"), "w") as f:
            json.dump(artifact, f, indent=1)
    except OSError:
        pass
    print(json.dumps(artifact))

    summary = {k: v for k, v in artifact.items()
               if k not in ("queries", "queries_first_run")}
    summary["detail"] = "bench_full.json"
    by_cost = sorted(timings.items(), key=lambda kv: -kv[1])
    keep = len(by_cost)
    while keep > 0:
        summary["queries"] = dict(by_cost[:keep])
        summary["queries_omitted"] = len(by_cost) - keep
        line = json.dumps(summary)
        if len(line) <= 1700:
            break
        keep -= 4
    sys.stdout.flush()
    print(line)


if __name__ == "__main__":
    main()
