"""One-shuffle candidate-pair generation from bucket keys.

All candidate paths (LSH bands, SimHash bands, winnow postings, embedding
LSH bands) reduce to: hash rows into buckets, emit every within-bucket
pair, cap and audit oversized buckets. The naive formulation — window-count
the bucket sizes, then self-equi-join on the bucket key — costs THREE
shuffles of the full posting table (window sort, join left, join right)
plus a shuffle of the raw pair blow-up for dedup. This helper does it with
ONE shuffle:

    materialize postings → prune singleton buckets (count-agg + join) →
    groupBy(bucket key) → collect capped, sorted member list →
    JVM-side pair explosion (two Generate operators, codegen)

The member array is bounded by ``max_bucket_size`` BEFORE explosion, so a
hot bucket costs at most cap²/2 generated rows streamed out of a single
task. Oversized buckets take one of two policies, both audited:

* ``salt_oversized=False`` — excluded from pair generation entirely
  (audit ``action='dropped'``). Pairs inside a mega-bucket are then only
  found via other bands / the exact path.
* ``salt_oversized=True`` — SALT-AND-KEEP (SURVEY.md §4.2): members are
  hashed into ``ceil(size/cap)`` sub-buckets (pairs within each), and the
  per-sub-bucket min members are chained within the original key — so
  every member of a hot bucket stays CONNECTED to the bucket's component
  with O(size) extra edges and no task ever sees more than ~cap members.
  This preserves clustering recall exactly (connectivity), not the
  all-pairs set: use it with chain-tolerant callers (connected
  components), not where the literal pair list is the answer.

At 10^12 rows the posting table is the big thing; its shuffle count is the
job cost.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, functions as F


def _explode_pairs(
    grouped: DataFrame, payload_cols: list[str], neighbor_window: int | None
) -> DataFrame:
    """Pair explosion over a ``ms`` (sorted member-struct array) column as
    TWO Generate operators (posexplode the left member, explode a slice for
    its right neighbors) — codegen-friendly. The flatten(transform(…))
    formulation builds the same pairs via interpreted higher-order lambdas:
    3× slower on a 6M-row band table. ``neighbor_window=K`` bounds each
    member to its next K sorted neighbors (band graph), else all C(m,2)."""
    span = (
        F.greatest(F.size("ms") - F.col("i") - 1, F.lit(0))
        if neighbor_window is None
        else F.least(
            F.greatest(F.size("ms") - F.col("i") - 1, F.lit(0)),
            F.lit(neighbor_window),
        )
    )
    left = grouped.select("ms", F.posexplode("ms").alias("i", "l"))
    return left.select(
        F.col("l"), F.explode(F.slice("ms", F.col("i") + 2, span)).alias("r")
    ).select(
        F.col("l.id").alias("id_l"),
        F.col("r.id").alias("id_r"),
        *[F.col(f"l.{c}").alias(f"{c}_l") for c in payload_cols],
        *[F.col(f"r.{c}").alias(f"{c}_r") for c in payload_cols],
    )


def bucket_pairs(
    df: DataFrame,
    key_cols: list[str],
    payload_cols: list[str] | None = None,
    max_bucket_size: int = 2000,
    id_col: str = "id",
    neighbor_window: int | None = None,
    materialize: bool = True,
    salt_oversized: bool = False,
    order_col: str | None = None,
    oversized: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(pairs, audit)`` — pairs has ``id_l, id_r`` (+ ``<payload>_l/_r``);
    audit has ``(*key_cols, bucket_size, action)`` for every bucket over
    ``max_bucket_size`` (``action`` = 'salted' or 'dropped').

    Pairs are NOT globally deduplicated (the same pair may arise from
    several buckets); callers dedup after their cheap verify filter so the
    dedup shuffle sees survivors, not the raw candidate blow-up.
    ``id_l < id_r`` is guaranteed via a sorted member array — unless
    ``order_col`` is set, which puts that column FIRST in the member struct
    so in-bucket ordering (and the ``neighbor_window`` band graph) follows
    it instead of the id (Manku-style sorted-neighborhood: members near in
    the ordered value are paired). With ``order_col`` the caller must
    canonicalize ``id_l``/``id_r`` before any (id_l, id_r) dedup.

    ``oversized``: an unnamed ``Observation`` that receives ``n``, the
    number of buckets over the cap, from the salting checkpoint — so a
    caller learns whether ``audit`` has rows without a probe job (only
    with ``salt_oversized``; otherwise nothing is observed).

    ``neighbor_window=K`` bounds pair generation to each member's next K
    neighbors in the sorted bucket (a K-wide band graph) instead of all
    C(m,2) pairs. For CLUSTERING this is the load-bearing scale guard:
    a bucket of verbatim boilerplate emits a connected chain (linear) and
    connected components restores the full cluster, whereas all-pairs is
    quadratic in bucket size — measured 10^7+ raw pairs from one corpus'
    boilerplate at 2M turns. Chain edges that fail downstream verification
    can split a would-be cluster only if NO other bucket re-links the two
    sides; band redundancy (32 MinHash bands, 4 SimHash bands, many winnow
    fingerprints per doc) makes that vanishingly rare, and the recall
    oracle test pins it ≥ 0.99. ``None`` = exact all-pairs semantics.
    """
    payload_cols = payload_cols or []
    # The posting table is scanned below for bucket-size counts, the prune
    # join, and (when salting) the oversized join. materialize=True
    # computes it once (right when the upstream UDF is the expensive part —
    # SimHash fingerprints, winnow); pass False when the posting table is
    # huge but derives cheaply from an already-materialized parent (band
    # explodes over a checkpointed signature/fp table: checkpointing the
    # bands×-exploded table measured slower than recomputing it).
    if materialize:
        df = df.localCheckpoint(eager=True)
    lead = [F.col(order_col).alias(order_col)] if order_col else []
    member = F.struct(
        *lead,
        F.col(id_col).alias("id"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    # Prune singleton buckets BEFORE collecting member arrays. With
    # high-entropy keys (64-bit LSH band hashes) almost every bucket has one
    # member; collect_list over those allocates hundreds of millions of tiny
    # arrays and spills. The count agg shuffles compact (key, n) rows, the
    # surviving multi-member key set is small (O(duplicate pairs)) so AQE
    # picks a broadcast join, and only the pruned rows pay the list agg.
    # Singletons (the overwhelming majority under high-entropy keys) are
    # useless to every consumer below — prune them INSIDE the agg output,
    # so the surviving counts table is O(duplicate content), not O(corpus).
    counts = (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("bucket_size"))
        .filter(F.col("bucket_size") >= 2)
    )
    if salt_oversized:
        # The pruned counts table is tiny; checkpointing it lets the salted
        # branch below (and the caller's audit stage) reuse one computation
        # instead of re-deriving the posting agg per scan. The checkpoint
        # also counts the oversized buckets on the way through, so deciding
        # whether to salt costs no probe job.
        n_over = oversized or Observation()
        counts = counts.observe(
            n_over, F.count_if(F.col("bucket_size") > max_bucket_size).alias("n")
        ).localCheckpoint(eager=True)
    over = counts.filter(F.col("bucket_size") > max_bucket_size)
    audit = over.select(
        *key_cols,
        "bucket_size",
        F.lit("salted" if salt_oversized else "dropped").alias("action"),
    )
    multi = counts.filter(F.col("bucket_size") <= max_bucket_size).select(*key_cols)
    ok = (
        df.join(multi, key_cols)
        .groupBy(*key_cols)
        .agg(F.collect_list(member).alias("ms"))
        # sorted by the struct's first field: id (⇒ id_l < id_r), or
        # order_col when set (⇒ sorted-neighborhood pairing)
        .select(F.array_sort("ms").alias("ms"))
    )
    pairs = _explode_pairs(ok, payload_cols, neighbor_window)

    # The salted branch adds two more scans of the posting table (the
    # oversized join + the representative agg). Hot buckets are the
    # exception, not the rule — build the branch only when the counts
    # checkpoint saw an oversized bucket.
    if salt_oversized and n_over.get["n"]:
        # Salt-and-keep: split each hot bucket into ceil(size/cap) hash
        # sub-buckets (AQE-splittable agg on the wider key; each task sees
        # ~cap members whp), pair within sub-buckets, then CHAIN the
        # per-sub-bucket min members within the original key. Connectivity
        # of the hot bucket is fully preserved; edge count is O(size).
        n_sub = F.ceil(F.col("bucket_size") / F.lit(max_bucket_size))
        salted = df.join(over, key_cols).withColumn(
            "__salt", F.pmod(F.xxhash64(id_col), n_sub)
        )
        sub = (
            salted.groupBy(*key_cols, "__salt")
            .agg(F.collect_list(member).alias("ms"))
            .select(F.array_sort("ms").alias("ms"))
        )
        reps = (
            salted.groupBy(*key_cols, "__salt")
            .agg(F.min(member).alias("m"))  # struct min = min id (id first)
            .groupBy(*key_cols)
            .agg(F.collect_list("m").alias("ms"))
            .select(F.array_sort("ms").alias("ms"))
        )
        pairs = pairs.unionByName(
            _explode_pairs(sub, payload_cols, neighbor_window)
        ).unionByName(
            # pure chain over the (possibly many) representatives: linear
            # output regardless of sub-bucket count
            _explode_pairs(reps, payload_cols, neighbor_window=1)
        )

    return pairs, audit
