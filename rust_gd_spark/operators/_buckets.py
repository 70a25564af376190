"""One-shuffle candidate-pair generation from bucket keys.

All candidate paths (LSH bands, SimHash bands, winnow postings, embedding
LSH bands) reduce to: hash rows into buckets, emit every within-bucket
pair, cap and audit oversized buckets. Its main caller is
``pipeline.bucket_candidates``, which posts the MinHash, SimHash and
winnowing keys of both dedup paths (the batch pipeline and the stream)
into ONE table ``(path, band, key, id)`` and calls this once; the
standalone ``*_candidate_pairs`` wrappers call it per path. The naive
formulation — window-count the bucket sizes, then self-equi-join on the
bucket key — costs THREE shuffles of the full posting table (window sort,
join left, join right) plus a shuffle of the raw pair blow-up for dedup.
This helper does it with ONE shuffle:

    materialize postings → prune singleton buckets (count-agg + one
    broadcast join that carries the sizes) → groupBy(bucket key, salt) →
    collect capped, sorted member list → JVM-side pair explosion (two
    Generate operators, codegen)

The member array is bounded by ``max_bucket_size`` BEFORE explosion, so a
hot bucket costs at most cap²/2 generated rows streamed out of a single
task. Oversized buckets take one of two policies, both audited:

* ``salt_oversized=False`` — excluded from pair generation entirely
  (audit ``action='dropped'``). Pairs inside a mega-bucket are then only
  found via other bands / the exact path.
* ``salt_oversized=True`` — SALT-AND-KEEP (SURVEY.md §4.2): members are
  hashed into ``ceil(size/cap)`` sub-buckets (pairs within each; the
  same groupBy that collects every other bucket, whose salt is 0), and the
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
    grouped: DataFrame, payload_cols: list[str], neighbor_window: int | None,
    n_open: str | None = None,
) -> DataFrame:
    """Pair explosion over a ``ms`` (sorted member-struct array) column as
    TWO Generate operators (posexplode the left member, explode a slice for
    its right neighbors) — codegen-friendly. The flatten(transform(…))
    formulation builds the same pairs via interpreted higher-order lambdas:
    3× slower on a 6M-row band table. ``neighbor_window=K`` bounds each
    member to its next K sorted neighbors (band graph), else all C(m,2).
    Only the first ``n_open`` (a column) members open a pair, if given."""
    span = (
        F.greatest(F.size("ms") - F.col("i") - 1, F.lit(0))
        if neighbor_window is None
        else F.least(
            F.greatest(F.size("ms") - F.col("i") - 1, F.lit(0)),
            F.lit(neighbor_window),
        )
    )
    opens = "ms" if n_open is None else F.slice("ms", 1, F.col(n_open))
    left = grouped.select("ms", F.posexplode(opens).alias("i", "l"))
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
    history: DataFrame | None = None,
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
    number of audit rows, from the salting checkpoint — so a caller learns
    whether ``audit`` has rows without a probe job (only with
    ``salt_oversized``; otherwise nothing is observed).

    ``history``: stored postings (the stream's ``bands`` store). Only keys
    ``df`` posts are read (a semi-join); the union with ``df`` reads a
    store, so it is pinned whatever ``materialize`` says. History counts
    toward ``bucket_size``; batch members sort first and alone open pairs:
    new × (new + history) rows, never history × history, with
    ``id_l < id_r`` and no self pairs. A key whose total is over the cap
    drops its history, audited ``dropped`` with the total; its batch
    members are then paired, or salted (or dropped) with the batch-only
    size. History is dropped, not salted, because it grows every batch:
    salting would re-read a hot key's whole stored list in every later
    batch that posts it, while those members are already connected, and
    reachable via other keys and exact dups.

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
    cap = max_bucket_size
    lead = [F.col(order_col).alias(order_col)] if order_col else []
    if history is not None:
        # a payload column may also be a key column (the pipeline's ``path``)
        cols = list(dict.fromkeys([*key_cols, id_col, *payload_cols, *filter(None, [order_col])]))
        hist = history.select(*cols).join(df.select(*key_cols), key_cols, "left_semi")
        df = df.select(*cols, F.lit(False).alias("__old")).unionByName(
            hist.withColumn("__old", F.lit(True))
        )
        lead.insert(0, F.col("__old").alias("__old"))  # batch members first
    # The posting table is scanned twice below: for the bucket-size counts
    # and by the prune join. materialize=True
    # computes it once (right when the upstream UDF is the expensive part —
    # SimHash fingerprints, winnow); pass False when the posting table is
    # huge but derives cheaply from an already-materialized parent (band
    # explodes over a checkpointed signature/fp table: checkpointing the
    # bands×-exploded table measured slower than recomputing it).
    if materialize or history is not None:
        df = df.localCheckpoint(eager=True)
    member = F.struct(
        *lead,
        F.col(id_col).alias("id"),
        *[F.col(c).alias(c) for c in payload_cols],
    )
    # Prune singleton buckets INSIDE the count agg, BEFORE collecting
    # member arrays. With high-entropy keys (64-bit LSH band hashes) almost
    # every bucket has one member; collect_list over those allocates
    # hundreds of millions of tiny arrays and spills. The surviving counts
    # table is O(duplicate content), not O(corpus), so AQE can broadcast it
    # into the prune join and only the pruned rows pay the list agg.
    n_new = [] if history is None else [F.count_if(~F.col("__old")).alias("n_new")]
    counts = (
        df.groupBy(*key_cols)
        .agg(F.count("*").alias("bucket_size"), *n_new)
        .filter(F.col("bucket_size") >= 2)
    )
    # total and batch-only sizes; hot = over the cap with history
    total = F.col("bucket_size")
    new = total if history is None else F.col("n_new")
    hot = (total > cap) & (total > new)
    if salt_oversized:
        # The pruned counts table is tiny; checkpointing it lets the salted
        # branch below (and the caller's audit stage) reuse one computation
        # instead of re-deriving the posting agg per scan. The checkpoint
        # also counts the oversized buckets on the way through, so deciding
        # whether to salt costs no probe job.
        n_over = oversized or Observation()
        n_salted = F.count_if(new > cap)
        counts = counts.observe(
            n_over, n_salted.alias("salted"), (n_salted + F.count_if(hot)).alias("n")
        ).localCheckpoint(eager=True)
    over = counts.filter(new > cap)
    audit = over.select(
        *key_cols,
        new.alias("bucket_size"),
        F.lit("salted" if salt_oversized else "dropped").alias("action"),
    )
    if history is not None:
        audit = counts.filter(hot).select(
            *key_cols, "bucket_size", F.lit("dropped").alias("action")
        ).unionByName(audit)
    # ONE join of the postings to the counts carries the sizes (one
    # broadcast of the counts), and ONE filter keeps what gets paired: every
    # posting of a bucket within the cap; over it, the batch's own (history
    # is dropped) if 2 or more, and only up to the cap unless salting.
    keep = new >= 2 if salt_oversized else (new >= 2) & (new <= cap)
    if history is not None:
        keep = keep & ~F.col("__old")
    members = df.join(counts, key_cols).filter((total <= cap) | keep)
    # Salt-and-keep (SURVEY.md §4.2): a bucket over the cap is split into
    # ceil(size/cap) hash sub-buckets (AQE-splittable agg on the wider key;
    # each task sees ~cap members whp) paired within, and the sub-buckets'
    # min members are CHAINED within the original key below. Connectivity
    # of the hot bucket is fully preserved; edge count is O(size). Within
    # the cap there is one sub-bucket (salt 0): the whole bucket.
    n_open = [] if history is None else ["n_new"]  # batch members open pairs
    salt = F.pmod(F.xxhash64(id_col), F.ceil(new / F.lit(cap)))
    groups = (
        members.groupBy(*key_cols, salt.alias("__salt"), *n_open)
        # sorted by the struct's first field: id (⇒ id_l < id_r), or
        # order_col when set (⇒ sorted-neighborhood pairing)
        .agg(F.array_sort(F.collect_list(member)).alias("ms"))
    )
    pairs = _explode_pairs(groups, payload_cols, neighbor_window, *n_open)
    # The chain costs one more shuffle (of one row per group: the groups'
    # own shuffle is shared). Hot buckets are the exception, not the rule —
    # build it only when the counts checkpoint saw one. It reads every
    # group, not just the salted ones: a filter would be pushed below the
    # groups' agg and split that shared shuffle, and a bucket within the
    # cap has one group, hence no chain pair.
    if salt_oversized and n_over.get["salted"]:
        reps = groups.groupBy(*key_cols).agg(
            F.array_sort(F.collect_list(F.col("ms")[0])).alias("ms"))
        # pure chain over the (possibly many) sub-bucket minima: linear
        # output regardless of sub-bucket count
        pairs = pairs.unionByName(_explode_pairs(reps, payload_cols, neighbor_window=1))

    if history is not None:
        # batch-first order breaks id order: swap both sides where needed,
        # and drop the self pair of an id in both batch and history
        swap = F.col("id_l") > F.col("id_r")
        pairs = pairs.filter(F.col("id_l") != F.col("id_r")).select(*[
            F.when(swap, F.col(f"{c}_{o}")).otherwise(F.col(f"{c}_{s}")).alias(f"{c}_{s}")
            for s, o in (("l", "r"), ("r", "l")) for c in ["id", *payload_cols]
        ])

    return pairs, audit
