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
* **Per micro-batch**: one ``pipeline.dedup_stages`` call on a
  ``_StageRunner`` (run id ``epoch<N>``) with the stores as its
  ``history``, the batch pipeline's own core: the batch is grouped
  against the ``content_keys`` store (a stored key keeps its canonical
  id; a new key's canonical is the batch's min uid), the new reps are
  sketched (MinHash outputs only), their band postings are paired with
  each other and with the stored ones in one
  ``minhash.lsh_candidate_pairs`` call, and candidates are verified by
  exact Jaccard against the batch's and the stored shingles. Identical
  config ⇒ identical candidate semantics. The commit appends
  ``shingles`` → ``bands`` → ``content_keys`` in that order (postings
  before the keys that mark their texts as seen), beside the ``edges``
  ``(id_l, id_r, path, score)`` and ``assignments`` logs.
* **Skew guard**: ``_buckets.bucket_pairs`` owns it, for history and
  batch alike. A band key the batch posts whose TOTAL posting count
  (history + batch) exceeds ``max_bucket_size`` drops its history and is
  audited to ``band_audits`` as ``dropped``; batch members over the cap
  on their own are salted, as in the batch pipeline, and audited as
  ``salted``. Why history is dropped rather than salted: the
  ``bucket_pairs`` docstring.
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
  coalesced, and partitioned (bands by ``band_idx``), and swaps each in by
  renames that a later read rolls back or completes — run it periodically
  so a year of micro-batch appends doesn't degrade every history join
  into a million-small-file scan. Its optional ``max_epoch_age`` drops
  state older than the bound — the streaming analogue of the reference
  dict's LRU eviction (an evicted text that reappears becomes a new
  canonical, exactly as a re-inserted LRU entry gets a fresh id).

NULL doctrine: NULL text keys as '' (``exactdup.exact_dup_groups``, as
in the batch pipeline): a NULL content key would silently fall out of
every null-unsafe equi-join and append one duplicate store row per batch.

Restart/resume: all state is on disk; the streaming checkpoint dir
(Spark's own) plus these stores make the job resumable after loss — the
same contract as the batch pipeline's stage checkpoints (§4.3).
"""

from __future__ import annotations

import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, functions as F

from .operators import minhash
from .operators.components import assign_clusters
from .pipeline import DedupConfig, _StageRunner, dedup_stages, with_turn_uid
from .session import job_description

_STORE_SCHEMAS = {
    "content_keys": "content_key string, canonical_id string, epoch long",
    "bands": "band_idx int, band_hash long, id string, epoch long",
    "shingles": "id string, shingles array<long>, epoch long",
}


def _store_path(state_dir: str, name: str) -> str:
    return os.path.join(state_dir, name)


def _finish_swap(path: str) -> None:
    """Settle a ``compact_state`` swap that a crash interrupted, so the
    store at ``path`` is whole again. The swap moves the old store to
    ``<path>.old``, the compacted one in, then deletes ``<path>.old``: an
    ``.old`` dir beside a store is a finished swap's leftover (delete it);
    one WITHOUT a store is the original, moved aside before the new one
    landed (move it back). Either way no store is ever read as missing."""
    old = path + ".old"
    if not os.path.exists(old):
        return
    if os.path.exists(path):
        shutil.rmtree(old)
    else:
        os.rename(old, path)


def _read_store(spark, state_dir: str, name: str, schema: str) -> DataFrame | None:
    """Read a state store. An ABSENT store is ``None``, so callers skip the
    union/join against it outright (joining or unioning an empty frame is
    a no-op, but the skipped plan nodes cost real AQE stage jobs per
    micro-batch, the dominant cost of a small batch). A BROKEN store
    raises: treating a mis-permissioned or corrupt store as empty history
    would produce wrong, missed-duplicate output. A store whose compaction
    swap was interrupted is settled first (``_finish_swap``).

    The schema is known, so the read skips the inference job a plain
    parquet read runs (one per store per micro-batch), and an empty dir
    left by a crashed first write reads as empty. Partitioned rewrites
    (``compact_state``'s bands) read the same way.
    """
    path = _store_path(state_dir, name)
    _finish_swap(path)
    if not os.path.exists(path):
        return None
    return spark.read.schema(schema).parquet(path)


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

    The counters cost no job: ``rows`` and ``new_keys`` are the ``base``
    and ``sketches`` stage rows (one sketch per new content key), ``edges``
    is observed on the edges append.
    ``collect_stats`` is accepted and ignored (``perfbench`` still passes it).
    """
    spark = batch_df.sparkSession
    sc = spark.sparkContext
    os.makedirs(state_dir, exist_ok=True)
    epoch = _next_epoch(state_dir)
    cfg = DedupConfig(
        w=w, num_perm=num_perm, bands=bands, rows=rows,
        jaccard_threshold=threshold, max_bucket_size=max_bucket_size,
        neighbor_window=None, enable_simhash=False, enable_substring=False,
        seed=seed,
    )
    runner = _StageRunner(spark, None, f"epoch{epoch}")
    # every job of the batch, store reads included, carries the epoch label
    # (the stages relabel their own jobs stage:<name>)
    with job_description(sc, f"stream:epoch{epoch}"):
        hist = {
            name: _read_store(spark, state_dir, name, schema)
            for name, schema in _STORE_SCHEMAS.items()
        }
        base = runner.run("base", lambda: batch_df.select(
            F.col("uid").alias("id"), "text"), local_only=True)
        groups, sk, (pairs,), audits, n_audit = dedup_stages(
            runner, base, cfg, history=hist)

    # the append is the edges' only evaluation: it records their count
    n_edges = Observation()
    ep = F.lit(epoch).cast("long").alias("epoch")
    # Each inner list commits in order on one pool thread; the lists run
    # side by side (distinct append paths, no read-after-write), so the
    # tiny dictionary/assignment writes back-fill cores while the
    # verify-bearing edges write runs, instead of paying one driver
    # barrier each in sequence. Postings go before the keys that
    # mark their texts as seen: a crash before ``content_keys`` lands
    # leaves the texts unseen, so a replay of the batch re-sketches them
    # and writes their postings again (duplicates ``compact_state``
    # drops), where keys without postings would make the replay treat
    # the texts as history and never write them: recall lost for good.
    # Shingles go before bands so every stored band posting has the
    # shingles the verify's inner join needs; a posting without them
    # would yield candidates the verify silently drops in later epochs.
    writes = [
        [("shingles", sk.select("id", "shingles", ep)),
         ("bands", minhash.explode_band_hashes(sk.select("id", "bands")).select(
             "band_idx", "band_hash", "id", ep)),
         ("content_keys", groups.filter(
             F.col("new") & (F.col("id") == F.col("canonical_id"))
         ).select("content_key", "canonical_id", ep))],
        [("edges", pairs.observe(n_edges, F.count(F.lit(1)).alias("rows")))],
        [("assignments", groups.select(
            F.col("id").alias("uid"), "canonical_id", F.lit("exact").alias("path")
        ))],
    ]
    # audit rows exist only when a bucket was salted or a history join
    # skipped: counted on the candidate stage's own pins, no probe job
    if n_audit:
        writes.append([("band_audits", audits["lsh_skew"].withColumn("epoch", F.lit(epoch)))])

    def _commit(chain):
        for name, df_ in chain:
            with job_description(sc, f"stream:epoch{epoch}:write:{name}"):
                df_.write.mode("append").parquet(_store_path(state_dir, name))

    with ThreadPoolExecutor(max_workers=3) as pool:
        list(pool.map(_commit, writes))
    stage_rows = {m[1]: m[2] for m in runner.metrics}
    return {
        "epoch": epoch,
        "rows": stage_rows["base"],
        "new_keys": stage_rows["sketches"],
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

    Each store is swapped in by renames: the compacted copy is written to
    ``<name>.compact``, the old store is renamed to ``<name>.old``, the
    copy to ``<name>``, and only then is ``<name>.old`` deleted. A crash at
    any point leaves the old store or the new one: every read (and the
    next compaction) first rolls an interrupted swap back or completes it
    (``_finish_swap``), so a store is never read as empty history.
    Returns per-store row counts after compaction.
    """
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
        df = _read_store(spark, state_dir, name, _STORE_SCHEMAS[name])
        if df is None:
            continue
        path = _store_path(state_dir, name)
        if horizon is not None:
            df = df.filter(F.col("epoch") >= horizon)
        # the write is the rewrite's only evaluation: it records the count
        rows = Observation()
        df = df.dropDuplicates(keys).observe(rows, F.count(F.lit(1)).alias("n"))
        tmp = path + ".compact"
        writer = df.repartition(partitions).write.mode("overwrite")
        if name == "bands":
            writer = df.repartition(partitions, "band_idx").write.mode(
                "overwrite"
            ).partitionBy("band_idx")
        writer.parquet(tmp)
        out[name] = rows.get["n"]
        os.rename(path, path + ".old")
        os.rename(tmp, path)
        shutil.rmtree(path + ".old")
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
    union of all micro-batches at identical config. Every job it submits
    (the CC edge pin, the union-find probe) is labeled ``stream:compact``
    or a ``cc:`` label nested in it.
    """
    with job_description(spark.sparkContext, "stream:compact"):
        assigns = spark.read.schema(
            "uid string, canonical_id string, path string"
        ).parquet(_store_path(state_dir, "assignments"))
        edges = assigns.filter(F.col("uid") != F.col("canonical_id")).select(
            F.col("canonical_id").alias("id_l"), F.col("uid").alias("id_r")
        )
        near = _read_store(spark, state_dir, "edges",
                           "id_l string, id_r string, path string, score double")
        if near is not None:
            edges = edges.unionByName(near.select("id_l", "id_r"))
        edges = edges.dropDuplicates(["id_l", "id_r"])
        ids = assigns.select(F.col("uid").alias("id")).dropDuplicates(["id"])
        return assign_clusters(ids, edges, "id", small_graph_rows=small_graph_rows)
