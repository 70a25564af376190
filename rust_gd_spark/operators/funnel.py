"""Tiered dedup funnel — cheap tiers first, each feeding the next.

A web-scale dedup pass is a FUNNEL, not one operator: URL-level
canonical dedup (pure codegen, removes crawl dups for free) → exact
content dedup (one hash agg) → near-dup clustering (signatures + LSH +
connected components, the expensive tier runs only on what survived the
cheap ones). This operator chains the engine's existing tiers over a
corpus and emits the per-tier accounting table — the artifact a
pipeline operator actually reports ("X% removed by tier k at cost c_k")
and the shape the round's north rule calls tier dedup.

Reference analogue: the reference also dedups in tiers — the dictionary
probe short-circuits chunks whose BASE is already known before any
deviation work happens (`src/dict.rs:38-46` hit path vs the full
`put_base` + inline-base record on miss, `src/gd_byte_unit.rs:78-92`).

Scale notes: tier boundaries are ``localCheckpoint`` materializations of
the SURVIVOR ID SET only (narrow id column — the `_buckets.py`
convention), so each tier's count branch does not re-run the previous
tiers' plans; URL and exact tiers are single partial+final hash
aggregations on their keys (mega-groups combine map-side, AQE splits
the survivor join); the near-dup tier is `near_dup_pipeline` itself,
already audited bucket-capped/salted. The output is a handful of rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .urldedup import canonicalize_url


def _survivors_by_key(df: DataFrame, id_col: str, key) -> DataFrame:
    """min(id) per key group — the exact-dedup survivor rule (agg + join
    back is unnecessary here: the min is the survivor id itself)."""
    return (
        df.select(F.col(id_col).alias("_fid"), key.alias("_fkey"))
        .groupBy("_fkey")
        .agg(F.min("_fid").alias("_fid"))
        .select("_fid")
    )


def dedup_funnel(
    df: DataFrame,
    id_col: str,
    text_col: str,
    url_col: str | None = None,
    config=None,
) -> DataFrame:
    """Run the dedup tiers in sequence and account for each.

    Tiers (each over the previous tier's survivors):
      1. ``url``   — one survivor per canonical URL (skipped if
         ``url_col`` is None);
      2. ``exact`` — one survivor per ``md5`` of the NULL→''-coalesced
         text;
      3. ``near_dup`` — ``near_dup_pipeline(config)`` clusters; one
         survivor per connected component (skipped if ``config`` is
         None).

    Returns ``(tier_idx, tier, docs_in, docs_removed, docs_out)`` with
    exact bigint counts; ``docs_in`` of tier k equals ``docs_out`` of
    tier k-1 by construction.
    """
    rows: list[DataFrame] = []
    cur = df.select(F.col(id_col).alias("_fid"),
                    F.col(text_col).alias("_ftext"),
                    *([F.col(url_col).alias("_furl")] if url_col else []))
    tier_idx = 0

    def _tier_row(name: str, docs_in: DataFrame, docs_out_cnt) -> DataFrame:
        return (
            docs_in.agg(F.count("*").cast("long").alias("docs_in"))
            .crossJoin(docs_out_cnt)
            .select(
                F.lit(tier_idx).cast("long").alias("tier_idx"),
                F.lit(name).alias("tier"),
                "docs_in",
                (F.col("docs_in") - F.col("docs_out")).alias("docs_removed"),
                "docs_out",
            )
        )

    if url_col is not None:
        tier_idx += 1
        surv = _survivors_by_key(
            cur, "_fid", canonicalize_url(F.col("_furl"))
        ).localCheckpoint(eager=False)
        rows.append(_tier_row(
            "url", cur,
            surv.agg(F.count("*").cast("long").alias("docs_out")),
        ))
        cur = cur.join(surv, "_fid")

    tier_idx += 1
    surv = _survivors_by_key(
        cur, "_fid", F.md5(F.coalesce(F.col("_ftext"), F.lit("")))
    ).localCheckpoint(eager=False)
    rows.append(_tier_row(
        "exact", cur,
        surv.agg(F.count("*").cast("long").alias("docs_out")),
    ))
    cur = cur.join(surv, "_fid")

    if config is not None:
        from ..pipeline import near_dup_pipeline

        tier_idx += 1
        res = near_dup_pipeline(
            cur.select(F.col("_fid").alias("id"),
                       F.col("_ftext").alias("text")),
            "id", "text", config,
        )
        rows.append(_tier_row(
            "near_dup", cur,
            res.clusters.agg(
                F.countDistinct("cluster_id").cast("long").alias("docs_out")
            ),
        ))

    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
