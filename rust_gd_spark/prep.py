"""Training-data preparation composite: quality filter → test-set
decontamination → near-dup dedup → survivorship.

The end-to-end "make a training corpus" pass a web-scale LLM pipeline runs
over raw documents, built entirely from this engine's oracle-checked
operator families:

    1. quality gate    — keep documents with ``quality_score`` ≥ a floor
                         (`functions.textstats`, heuristic C4/Gopher-style
                         rules);
    2. decontamination — drop documents whose word-n-gram containment vs a
                         held-out benchmark slice reaches a ceiling
                         (`operators.decontam`, GPT-3 appendix-C style);
    3. dedup           — exact + MinHash-Jaccard + shared-substring near-dup
                         clustering of the survivors (`pipeline.
                         near_dup_pipeline` → connected components);
    4. survivorship    — one representative kept per cluster (longest text,
                         ties → smallest id) with byte accounting
                         (`pipeline.cluster_representatives`).

Relation to the reference engine: this is the corpus-level analogue of the
reference's dedup entry point (`src/lib.rs:90-94` — `Deduped` keeps one
base per dictionary entry and records what the rest would have cost); the
quality/decontam gates play the role of its input preconditioning, and the
kept-representative table is its base dictionary.

Scale design (10^12-document corpus):

* Each gate is one narrow filter over the scan — quality is pure JVM
  column arithmetic (whole-stage codegen, no shuffle), decontam adds one
  broadcast semi-join + one partial-aggregated groupBy (see
  `decontam.ngram_containment`).
* The dedup DAG only ever sees the SURVIVORS — at realistic web ratios
  (~20% quality drop, ~5% contamination) the most expensive stage runs on
  a strictly smaller corpus, and the gates commute with the scan's
  predicate pushdown.
* The final rep-quality join keys on ``rep_id`` (one row per cluster on
  the left) — AQE picks a broadcast as soon as the cluster count fits,
  and the right side is the already-filtered quality projection, not a
  rescan.

Everything is SQL-expressible, so the whole composite is DuckDB-oracled
end-to-end in ``__spark_entry__`` (recursive-CTE transitive closure over
the filtered survivor set).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .functions import textstats as ts
from .operators import decontam
from .pipeline import (
    DedupConfig,
    canonical_clusters,
    cluster_representatives,
    near_dup_pipeline,
)


def training_data_prep(
    docs: DataFrame,
    ref_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    quality_min: float = 0.7,
    ngram_n: int = 5,
    contamination_max: float = 0.5,
    cfg: DedupConfig | None = None,
) -> DataFrame:
    """One row per KEPT training document (= one per dedup cluster among
    the quality-passing, uncontaminated survivors):

    ``(cluster_id, rep_id, cluster_size, total_bytes, kept_bytes,
    rep_quality)``

    * ``cluster_id``   — min member id of the near-dup cluster;
    * ``rep_id``       — the member kept for training (longest text,
      ties → smallest id);
    * ``total_bytes`` / ``kept_bytes`` — UTF-8 byte accounting (what the
      cluster would have cost vs what the kept rep costs);
    * ``rep_quality``  — the kept member's quality score (rounded to 6,
      the engine-wide oracle precision).

    Filters compare ROUNDED scores (quality and contamination fraction at
    6 decimals) so the gate decisions are bit-reproducible by the SQL
    oracle — the unrounded floats differ between engines in the last ULP.
    """
    t = F.col(text_col)
    scored = docs.select(
        F.col(id_col).alias("id"),
        t.alias("text"),
        F.round(ts.quality_score(t), 6).alias("quality"),
    )
    passed = scored.filter(F.col("quality") >= quality_min)

    cont = decontam.ngram_containment(
        passed, ref_docs, "id", "text",
        ref_text_col=text_col, n=ngram_n, threshold=contamination_max,
    )
    clean = passed.join(
        cont.filter(F.col("contamination_frac") < contamination_max).select("id"),
        "id",
    )

    res = near_dup_pipeline(clean, "id", "text", cfg or DedupConfig())
    # res.source is the pipeline's pinned copy of `clean` — joining texts
    # against it skips re-running the quality/decontam gates a second time
    reps = cluster_representatives(
        canonical_clusters(res.clusters), res.source, "id", "text"
    )
    # rep_quality from the pinned source too: the score is a pure function
    # of the text (identical rounded value), and joining `passed` here
    # would re-scan the raw corpus through the quality gate per run
    return reps.join(
        res.source.select(
            F.col("id").alias("rep_id"),
            F.round(ts.quality_score(F.col("text")), 6).alias("rep_quality"),
        ),
        "rep_id",
    ).select(
        "cluster_id", "rep_id", "cluster_size",
        "total_bytes", "kept_bytes", "rep_quality",
    )
