"""Per-layer metrics of the traced run, named ``<module>.<metric>``.

``install`` wraps the layer functions each workload reaches in spans (see
``spans.Tracer.patch``); ``metrics`` turns the spans of one traced job,
the Spark jobs of an untraced job and the materialized span outputs into
the ``per_layer`` metrics of BENCHMARK.json. A layer the workload never
calls reports 0.
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

from rust_gd_spark import pipeline, streaming
from rust_gd_spark.gd import spark as gd_spark
from rust_gd_spark.operators import exactdup, minhash, simhash, substring

import spans as sp
import workloads

# (module, function, span name, positional DataFrame input to keep)
PATCHES = [
    (exactdup, "exact_dup_groups", "exactdup.groups", None),
    (minhash, "shingle_df", "minhash.shingle", None),
    (minhash, "minhash_band_hashes", "minhash.signature", None),
    (minhash, "lsh_candidate_pairs", "minhash.candidates", None),
    (minhash, "verify_jaccard", "minhash.verify", 0),
    (simhash, "simhash_fingerprints_from_text", "simhash.fingerprint", None),
    (simhash, "simhash_candidate_pairs", "simhash.candidates", None),
    (simhash, "verify_hamming", "simhash.verify", 0),
    (substring, "winnow_fingerprints", "substring.winnow", None),
    (substring, "substring_candidate_pairs", "substring.candidates", None),
    (substring, "verify_common_substring", "substring.verify", 0),
    (pipeline, "assign_clusters", "components.assign", 1),
    (streaming, "assign_clusters", "components.assign", 1),
    (streaming, "process_batch", "streaming.batch", None),
    (streaming, "compact_clusters", "streaming.compact", None),
    (gd_spark, "gd_decompose", "gd.decompose", None),
    (pipeline, "write_gd_outputs", "gd.store", None),
    (pipeline, "read_gd_outputs", "gd.store", None),
    (gd_spark, "gd_reconstruct", "gd.reconstruct", None),
]

# layer -> the spans whose self time is that layer's work, for the
# one-core reference leg's parallel efficiency
EFF_LAYERS = {
    "exactdup": ["exactdup.groups"],
    "minhash": ["minhash.shingle", "minhash.signature", "minhash.candidates", "minhash.verify"],
    "simhash": ["simhash.fingerprint", "simhash.candidates", "simhash.verify"],
    "substring": ["substring.winnow", "substring.candidates", "substring.verify"],
    "components": ["components.assign"],
}

STATE_STORES = ("content_keys", "bands", "shingles")


def install(tracer: sp.Tracer) -> None:
    for module, attr, name, keep in PATCHES:
        tracer.patch(module, attr, name, keep_input=keep)


def _rows(recs: list[dict], key: str) -> int:
    return sum(r[key].count() for r in recs if key in r)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def self_times(spans: list[dict]) -> dict[str, float]:
    """Summed self time per span name."""
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + sp.self_time(s, spans)
    return out


def metrics(
    spark,
    names: list[str],
    spans: list[dict],
    jobs: list[dict],
    window: dict,
    cores: int,
    wl,
    out_dir: str,
) -> dict[str, float]:
    """Per-layer metrics of one traced job's ``spans``. The ``pipeline.*``
    counters come from ``jobs``, the Spark jobs of an untraced job that ran
    from ``window["start"]`` to ``window["end"]``: the traced job's own
    include the barriers its spans add."""
    m = {n: 0.0 for n in names}
    st = self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    wall = window["end"] - window["start"]
    m["pipeline.jobs"] = len(jobs)
    m["pipeline.busy_share"] = _ratio(sum(j["task_ms"] for j in jobs) / 1000.0, wall * cores)
    m["pipeline.shuffle_bytes"] = sum(j["shuffle_bytes"] for j in jobs)
    m["pipeline.spill_bytes"] = sum(j["spill_bytes"] for j in jobs)

    for name in ("exactdup.groups", "minhash.shingle", "minhash.signature",
                 "minhash.candidates", "minhash.verify", "simhash.fingerprint",
                 "simhash.candidates", "substring.winnow", "substring.candidates",
                 "substring.verify", "components.assign", "gd.decompose",
                 "gd.store", "gd.reconstruct"):
        m[f"{name}_s"] = st.get(name, 0.0)

    groups = by.get("exactdup.groups", [])
    m["exactdup.rep_ratio"] = _ratio(
        sum(r["out"].filter(F.col("id") == F.col("canonical_id")).count() for r in groups),
        _rows(groups, "out"),
    )
    for layer in ("minhash", "simhash", "substring"):
        cands, ver = by.get(f"{layer}.candidates", []), by.get(f"{layer}.verify", [])
        m[f"{layer}.cand_pairs"] = _rows(cands, "out")
        m[f"{layer}.verify_yield"] = _ratio(_rows(ver, "out"), _rows(ver, "in"))

    res = wl.last_result
    if res is not None and res.audits:
        audits = list(res.audits.values())
        allaud = audits[0].select("bucket_size", "action")
        for a in audits[1:]:
            allaud = allaud.unionByName(a.select("bucket_size", "action"))
        row = allaud.agg(
            F.max("bucket_size").alias("mx"),
            F.sum(F.when(F.col("action") == "salted", 1).otherwise(0)).alias("salted"),
        ).first()
        m["buckets.max_size"] = row["mx"] or 0
        m["buckets.salted"] = row["salted"] or 0

    assigns = by.get("components.assign", [])
    m["components.edges"] = _rows(assigns, "in")
    m["components.largest"] = max(
        (r["out"].groupBy("cluster_id").count().agg(F.max("count")).first()[0] or 0
         for r in assigns if "out" in r),
        default=0,
    )

    batches = by.get("streaming.batch", [])
    if batches:
        ids = {b["id"] for b in batches}
        m["streaming.batch_s"] = statistics.median(b["end"] - b["start"] for b in batches)
        in_batch = [s for s in spans if s["parent"] in ids]
        m["streaming.history_cands"] = _rows(
            [s for s in in_batch if s["name"] == "minhash.verify"], "in"
        ) - _rows([s for s in in_batch if s["name"] == "minhash.candidates"], "out")
        state = wl.state_dir(out_dir)
        m["streaming.state_bytes"] = sum(
            workloads.data_bytes(os.path.join(state, s)) for s in STATE_STORES
        )

    if by.get("gd.decompose"):
        def rows(table):
            return sum(spark.read.parquet(os.path.join(out_dir, r, table)).count()
                       for r in wl.run_ids)

        m["gd.distinct_base_ratio"] = _ratio(rows("bases"), rows("deviations"))
    return m


def parallel_eff(
    many: list[dict], many_root: dict, one: list[dict], one_root: dict, cores: int
) -> dict[str, float]:
    """``<layer>.parallel_eff`` = one-core self time ÷ (cores × N-core self
    time), per layer and for the whole job (``pipeline``)."""
    st_n, st_1 = self_times(many), self_times(one)
    out = {
        "pipeline.parallel_eff": _ratio(
            one_root["end"] - one_root["start"],
            cores * (many_root["end"] - many_root["start"]),
        )
    }
    for layer, names in EFF_LAYERS.items():
        out[f"{layer}.parallel_eff"] = _ratio(
            sum(st_1.get(n, 0.0) for n in names),
            cores * sum(st_n.get(n, 0.0) for n in names),
        )
    return out
