"""Incremental near-duplicate detection over a transcript stream.

SURVEY.md §2 declared streaming out of scope for the reference (it has
none) — but a production transcript corpus is APPEND-ONLY, and the
reference's own CLI is incremental at heart: the dictionary persists across
512 KiB blocks so later blocks dedup against everything seen before
(`examples/main.rs:36-61`, SURVEY.md A31). This module is the Spark
analogue: Structured Streaming ``foreachBatch`` where the cross-block
dictionary state is a set of persisted parquet stores.

Design (scale-first):

* **State = three epoch-stamped parquet stores** under ``state_dir``:
  ``content_keys(content_key, canonical_id, epoch)`` — the exact-dup
  dictionary; ``bands(band_idx, band_hash, id, epoch)`` — the LSH postings
  of every rep seen; ``shingles(id, shingles, epoch)`` — verify-side
  shingle sets of every rep. Appending parquet per micro-batch is the
  sandbox stand-in for Iceberg appends (same layout the batch pipeline
  uses for checkpoints). ``epoch`` is the micro-batch counter — the
  insertion-order clock that makes an age/LRU bound possible, mirroring
  the reference's bounded LRU dictionary (`src/dict.rs:50-63`).
* **Per micro-batch**: exact-dedup the batch against the content-key store
  (new key → the batch's min uid becomes canonical); for new reps, compute
  shingles + fused band hashes with the batch pipeline's own sketch pass —
  literally the same function, ``pipeline.sketches``, run with only the
  MinHash outputs (identical config ⇒ identical candidate semantics);
  candidate pairs = in-batch bucket pairs ∪ batch-vs-history band joins;
  exact-Jaccard verify against the shingle store; emit
  ``(id_l, id_r, path, score)`` edges to ``edges/``.
* **Skew guard on the history join**: the batch-vs-history candidate join
  emits |new postings| × |history postings| rows per band key, and the
  history side grows every batch — the exact mega-bucket blow-up
  ``_buckets.bucket_pairs`` caps in the batch paths. Band keys whose
  TOTAL posting count (history + batch) exceeds ``max_bucket_size`` are
  excluded from the join and audited to the ``band_audits`` store
  (``action='dropped'``) — same exclude-and-audit contract; pairs inside
  a hot band are still reachable through the other ``bands − 1`` keys of
  each signature and the exact path.
* **Assignments are eventually-exact**: per-batch output assigns each row
  its exact-dup canonical; cluster structure over near-dup edges is
  recovered by ``compact_clusters`` — a batch connected-components job
  over the accumulated edge log (the same large-star/small-star operator
  the batch pipeline uses). Incremental CC with in-stream merges would
  force a mutable cluster map (a global synchronization point at 10^12
  scale); an append-only edge log + periodic compaction keeps every
  micro-batch embarrassingly parallel and gives bit-identical clusters to
  the batch pipeline on the same input (pinned by test).
* **State maintenance**: ``compact_state`` rewrites the stores deduped,
  coalesced, and partitioned (bands by ``band_idx``) — run it periodically
  so a year of micro-batch appends doesn't degrade every history join
  into a million-small-file scan. Its optional ``max_epoch_age`` drops
  state older than the bound — the streaming analogue of the reference
  dict's LRU eviction (an evicted text that reappears becomes a new
  canonical, exactly as a re-inserted LRU entry gets a fresh id).

NULL doctrine: NULL text keys as '' (``md5(coalesce(text, ''))``) —
consistent with the batch pipeline's ``exact_dup_groups`` /
``normalize_text``. A raw ``md5(text)`` would produce a NULL content key,
silently fall out of every null-unsafe equi-join, and append one duplicate
store row per batch.

Restart/resume: all state is on disk; the streaming checkpoint dir
(Spark's own) plus these stores make the job resumable after loss — the
same contract as the batch pipeline's stage checkpoints (§4.3).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, Observation, functions as F

from pyspark.errors import AnalysisException

from .operators import minhash
from .operators.components import assign_clusters
from .pipeline import DedupConfig, sketches, with_turn_uid

_STORE_SCHEMAS = {
    "content_keys": "content_key string, canonical_id string, epoch long",
    "bands": "band_idx int, band_hash long, id string, epoch long",
    "shingles": "id string, shingles array<long>, epoch long",
}


def _store_path(state_dir: str, name: str) -> str:
    return os.path.join(state_dir, name)


def _empty_1part(spark, schema: str):
    """Zero-row frame on ONE partition slice (parallelize([], 1))."""
    from pyspark.sql import types as T

    struct = T._parse_datatype_string(schema)
    return spark.createDataFrame(
        spark.sparkContext.parallelize([], 1), struct
    )


def _read_store(spark, state_dir: str, name: str, schema: str) -> DataFrame:
    """Read a state store; an ABSENT store is empty, a BROKEN store raises.

    A bare ``except Exception`` here would silently treat a
    mis-permissioned or corrupt store as empty history and produce wrong
    (missed-duplicate) output; only the path-not-found case may mean
    "no state yet".
    """
    # empty stores COALESCE to one partition: createDataFrame([], schema)
    # spreads zero rows over defaultParallelism empty slices, and every
    # union/join against the store then pays a cores-wide stage of no-op
    # task launches (measured: five ~64-task, ~0.4 s pure-overhead jobs in
    # the first micro-batch of a fresh state dir).
    path = _store_path(state_dir, name)
    if not os.path.exists(path):
        return _empty_1part(spark, schema)
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        # partitionBy-rewritten stores read fine; an empty dir left by a
        # crashed first write is the one benign AnalysisException
        if "PATH_NOT_FOUND" in str(e) or "UNABLE_TO_INFER_SCHEMA" in str(e):
            return _empty_1part(spark, schema)
        raise


def _read_store_opt(spark, state_dir: str, name: str, schema: str) -> DataFrame | None:
    """``_read_store`` that reports an ABSENT store as ``None`` so callers
    can skip the union/join against it outright (identical semantics —
    joining or unioning an empty frame is a no-op — but the skipped plan
    nodes cost real AQE stage jobs per micro-batch, the dominant cost of
    a small batch). A present-but-empty store still returns a frame."""
    if not os.path.exists(_store_path(state_dir, name)):
        return None
    return _read_store(spark, state_dir, name, schema)


def _next_epoch(state_dir: str) -> int:
    """Micro-batch counter, persisted as a tiny json file. foreachBatch
    invocations are driver-serialized, so a plain file is race-free."""
    path = os.path.join(state_dir, "_epoch.json")
    epoch = 0
    if os.path.exists(path):
        with open(path) as fh:
            epoch = json.load(fh)["epoch"] + 1
    with open(path, "w") as fh:
        json.dump({"epoch": epoch}, fh)
    return epoch


def process_batch(
    batch_df: DataFrame,
    state_dir: str,
    w: int = 5,
    num_perm: int = 128,
    bands: int = 32,
    rows: int = 4,
    threshold: float = 0.7,
    max_bucket_size: int = 2000,
    seed: int = 1,
    collect_stats: bool = False,
) -> dict:
    """One micro-batch of incremental dedup. ``batch_df`` must carry
    ``(uid, text)``. Returns counters (for tests/monitoring); appends to
    the state stores and the ``edges``/``assignments`` logs.

    The ``rows``/``new_keys``/``edges`` counters are observed on frames the
    batch materializes anyway (the batch pin, the new-key pin, the edges
    append), so they are exact on every call at no extra job.
    ``collect_stats`` is accepted and ignored (``perfbench`` still passes it).
    """
    spark = batch_df.sparkSession
    os.makedirs(state_dir, exist_ok=True)
    epoch = _next_epoch(state_dir)
    from .session import job_description

    with job_description(spark.sparkContext, f"stream:epoch{epoch}"):
        return _process_batch_inner(
            spark, batch_df, state_dir, epoch, w, num_perm, bands, rows,
            threshold, max_bucket_size, seed,
        )


def _pin_counted(df: DataFrame) -> tuple[DataFrame, int]:
    """``df`` pinned (eager local checkpoint) and its row count, observed
    on the checkpoint job itself — no count job of its own."""
    obs = Observation()
    pinned = df.observe(obs, F.count(F.lit(1)).alias("rows")).localCheckpoint(
        eager=True
    )
    return pinned, obs.get["rows"]


def _process_batch_inner(
    spark, batch_df, state_dir, epoch, w, num_perm, bands, rows,
    threshold, max_bucket_size, seed,
) -> dict:
    batch, n_rows = _pin_counted(batch_df.select("uid", "text"))

    # --- exact path vs history ------------------------------------------
    keyed = batch.select(
        "uid", F.md5(F.coalesce("text", F.lit(""))).alias("content_key")
    )
    store_keys = _read_store_opt(
        spark, state_dir, "content_keys", _STORE_SCHEMAS["content_keys"]
    )
    batch_min = keyed.groupBy("content_key").agg(F.min("uid").alias("batch_min"))
    if store_keys is None:
        # first batch of a fresh state dir: no history ⇒ every batch-min
        # key is new and canonical (the merge join below would left-join
        # an empty frame and coalesce to batch_min anyway)
        new_keys, n_new_keys = _pin_counted(batch_min.select(
            "content_key", F.col("batch_min").alias("canonical_id")
        ))
        canon = new_keys
    else:
        merged = batch_min.join(
            store_keys.select("content_key", "canonical_id"), "content_key", "left"
        )
        new_keys, n_new_keys = _pin_counted(
            merged.filter(F.col("canonical_id").isNull()).select(
                "content_key", F.col("batch_min").alias("canonical_id")
            )
        )
        canon = merged.select(
            "content_key",
            F.coalesce("canonical_id", "batch_min").alias("canonical_id"),
        )
    assignments = keyed.join(canon, "content_key").select(
        "uid", "canonical_id", F.lit("exact").alias("path")
    )

    # --- near-dup path: new reps only -----------------------------------
    # one rep per NEW content key (history reps are already in the stores)
    reps = (
        keyed.join(new_keys.select("content_key", "canonical_id"), "content_key")
        .filter(F.col("uid") == F.col("canonical_id"))
        .join(batch, "uid")
        .select("uid", "text")
    )
    # the batch pipeline's sketch pass with only the MinHash outputs: one
    # pin holds shingles (store + verify side) and fused band hashes; the
    # band explode below re-derives from it in codegen for every consumer
    cfg = DedupConfig(
        w=w, num_perm=num_perm, bands=bands, rows=rows, seed=seed,
        enable_simhash=False, enable_substring=False,
    )
    sk = sketches(reps, cfg, "uid", "text").localCheckpoint(eager=True)
    sh = sk.select("id", "shingles")
    banded = minhash.explode_band_hashes(sk.select("id", "bands"))

    # in-batch candidates: one-shuffle bucket pairs (capped + audited)
    new_pairs, batch_audit = minhash.lsh_candidate_pairs(
        banded, max_bucket_size=max_bucket_size
    )

    # batch-vs-history candidates: equi-join new postings against the store,
    # EXCLUDING band keys whose total posting count (history + batch)
    # exceeds the cap — the join would otherwise emit |new|x|hist| rows per
    # hot key, growing with every micro-batch. Excluded keys are audited.
    band_store = _read_store_opt(spark, state_dir, "bands", _STORE_SCHEMAS["bands"])
    key_counts = (
        banded.select("band_idx", "band_hash")
        if band_store is None
        else band_store.select("band_idx", "band_hash").unionByName(
            banded.select("band_idx", "band_hash")
        )
    ).groupBy("band_idx", "band_hash").agg(F.count("*").alias("bucket_size"))
    hot_keys, n_hot = _pin_counted(
        key_counts.filter(F.col("bucket_size") > max_bucket_size)
    )
    hist_audit = hot_keys.select(
        "band_idx", "band_hash", "bucket_size",
        F.lit("dropped").alias("action"), F.lit(epoch).alias("epoch"),
    )
    if band_store is None:
        cand = new_pairs.select("id_l", "id_r")
    else:
        hist_pairs = (
            banded.join(hot_keys.select("band_idx", "band_hash"),
                        ["band_idx", "band_hash"], "left_anti")
            .join(
                band_store.select("band_idx", "band_hash", F.col("id").alias("hist_id")),
                ["band_idx", "band_hash"],
            )
            .select(
                F.least("id", "hist_id").alias("id_l"),
                F.greatest("id", "hist_id").alias("id_r"),
            )
            .filter(F.col("id_l") != F.col("id_r"))
            .dropDuplicates(["id_l", "id_r"])
        )
        cand = new_pairs.select("id_l", "id_r").unionByName(hist_pairs)

    # verify against batch + historical shingles
    shingle_store = _read_store_opt(
        spark, state_dir, "shingles", _STORE_SCHEMAS["shingles"]
    )
    all_sh = sh.select(F.col("id"), "shingles")
    if shingle_store is not None:
        all_sh = all_sh.unionByName(shingle_store.select("id", "shingles"))
    verified = minhash.verify_jaccard(cand, all_sh, threshold=threshold)
    # the append is the edges' only evaluation: it records their count
    n_edges = Observation()
    edges = verified.select(
        "id_l", "id_r", F.lit("minhash").alias("path"),
        F.col("jaccard").alias("score"),
    ).observe(n_edges, F.count(F.lit(1)).alias("rows"))

    # --- persist ---------------------------------------------------------
    ep = F.lit(epoch).cast("long")
    writes = [
        ("content_keys", new_keys.withColumn("epoch", ep)),
        ("bands", banded.select("band_idx", "band_hash", "id").withColumn("epoch", ep)),
        ("shingles", sh.withColumn("epoch", ep)),
        ("edges", edges),
        ("assignments", assignments),
    ]
    # Audit rows exist only when some band key is over the cap. Every
    # in-batch bucket is a subset of the same key's total (history+batch)
    # bucket, so batch_audit nonempty ⇒ hot_keys nonempty — the row count
    # observed on the hot_keys checkpoint decides, with no probe job.
    if n_hot:
        audits = batch_audit.select(
            "band_idx",
            "band_hash",
            "bucket_size",
            F.concat(F.lit("in_batch_"), "action").alias("action"),
            F.lit(epoch).alias("epoch"),
        ).unionByName(hist_audit)
        writes.append(("band_audits", audits))

    # The store writes are independent within a batch (distinct append
    # paths, no read-after-write); submitting them from a small driver
    # pool (guide §2.6) lets the tiny dictionary/assignment writes
    # back-fill cores while the verify-bearing edges write runs, instead
    # of paying one driver barrier each in sequence. EXCEPT content_keys:
    # it commits FIRST and alone, preserving the crash invariant the old
    # sequential order gave — a mid-batch crash may leave band/shingle
    # rows for ids whose content key never landed, and the next epoch
    # would then mint a SECOND canonical id for the same content while
    # the orphaned postings still join as history. Writing the dictionary
    # before its references makes that state unreachable (the converse —
    # keys without postings — only costs recall on the crashed batch).
    from .session import job_description

    def _write(item):
        name, df_ = item
        with job_description(
            spark.sparkContext, f"stream:epoch{epoch}:write:{name}"
        ):
            df_.write.mode("append").parquet(_store_path(state_dir, name))

    from concurrent.futures import ThreadPoolExecutor

    _write(writes[0])  # content_keys — the commit-order anchor
    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(_write, writes[1:]))
    return {
        "epoch": epoch,
        "rows": n_rows,
        "new_keys": n_new_keys,
        "edges": n_edges.get["rows"],
    }


def compact_state(
    spark,
    state_dir: str,
    max_epoch_age: int | None = None,
    partitions: int | None = None,
) -> dict:
    """Rewrite the state stores deduped, coalesced, and partitioned.

    * ``content_keys``/``shingles``: dropDuplicates on the logical key
      (first-write wins is moot — a key/id is only ever appended once by
      construction, so dedup guards against replayed micro-batches after a
      crash-restart) and coalesce the per-batch small files.
    * ``bands``: same, rewritten ``partitionBy('band_idx')`` so history
      joins scan band-local files (the Iceberg-table partition spec the
      real deployment would declare).
    * ``max_epoch_age=k`` additionally DROPS rows older than
      ``current_epoch − k`` from all three stores — the reference dict's
      LRU eviction (`src/dict.rs:50-63`) in stream form: bounded state, at
      the documented cost that a text last seen before the horizon
      re-enters as a new canonical. The ``edges``/``assignments`` output
      logs are never aged (they are results, not state).

    The rewrite is atomic per store (write to ``<name>.compact``, then
    rename); a crash mid-compaction leaves the original store intact.
    Returns per-store row counts after compaction.
    """
    import shutil

    epoch_path = os.path.join(state_dir, "_epoch.json")
    current = 0
    if os.path.exists(epoch_path):
        with open(epoch_path) as fh:
            current = json.load(fh)["epoch"]
    horizon = None if max_epoch_age is None else current - max_epoch_age
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism

    dedup_keys = {
        "content_keys": ["content_key"],
        "bands": ["band_idx", "band_hash", "id"],
        "shingles": ["id"],
    }
    out: dict = {"epoch": current}
    for name, keys in dedup_keys.items():
        path = _store_path(state_dir, name)
        if not os.path.exists(path):
            continue
        df = _read_store(spark, state_dir, name, _STORE_SCHEMAS[name])
        if horizon is not None:
            df = df.filter(F.col("epoch") >= horizon)
        df = df.dropDuplicates(keys)
        tmp = path + ".compact"
        writer = df.repartition(partitions).write.mode("overwrite")
        if name == "bands":
            writer = df.repartition(partitions, "band_idx").write.mode(
                "overwrite"
            ).partitionBy("band_idx")
        writer.parquet(tmp)
        # count AFTER the write (from the written files — no recompute)
        out[name] = spark.read.parquet(tmp).count()
        shutil.rmtree(path)
        os.rename(tmp, path)
    return out


def incremental_dedup_stream(
    transcripts_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
    **kwargs,
):
    """Wire ``process_batch`` into a Structured Streaming query.

    ``transcripts_stream`` is a streaming DataFrame with the input_hint
    schema; rows get the stable per-turn uid and flow through
    ``process_batch`` per micro-batch. Returns the started query.
    """
    def _each(batch_df, epoch_id):  # pragma: no cover - thin driver glue
        process_batch(with_turn_uid(batch_df), state_dir, **kwargs)

    writer = (
        transcripts_stream.writeStream.foreachBatch(_each)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_clusters(
    spark, state_dir: str, small_graph_rows: int | None = None
) -> DataFrame:
    """Batch compaction: exact clusters over everything streamed so far.

    Exact-dup stars (from ``assignments``) ∪ near-dup edges (from
    ``edges``) → the SAME large-star/small-star CC the batch pipeline
    uses → ``(id, cluster_id)`` for every streamed row. Run periodically
    (or on demand); equivalent to re-running the batch pipeline on the
    union of all micro-batches at identical config.
    """
    assigns = spark.read.parquet(_store_path(state_dir, "assignments"))
    exact_edges = assigns.filter(F.col("uid") != F.col("canonical_id")).select(
        F.col("canonical_id").alias("id_l"), F.col("uid").alias("id_r")
    )
    near = _read_store(
        spark, state_dir, "edges",
        "id_l string, id_r string, path string, score double",
    ).select("id_l", "id_r")
    edges = exact_edges.unionByName(near).dropDuplicates(["id_l", "id_r"])
    ids = assigns.select(F.col("uid").alias("id")).dropDuplicates(["id"])
    return assign_clusters(ids, edges, "id", small_graph_rows=small_graph_rows)
