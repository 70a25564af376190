"""Incremental near-duplicate detection over a transcript stream.

SURVEY.md §2 declared streaming out of scope for the reference (it has
none) — but a production transcript corpus is APPEND-ONLY, and the
reference's own CLI is incremental at heart: the dictionary persists across
512 KiB blocks so later blocks dedup against everything seen before
(`examples/main.rs:36-61`, SURVEY.md A31). This module is the Spark
analogue: Structured Streaming ``foreachBatch`` where the cross-block
dictionary state is a set of persisted parquet stores.

Design (scale-first):

* **State = epoch-committed parquet stores** under ``state_dir``:
  ``content_keys(content_key, canonical_id, epoch)`` — the exact-dup
  dictionary; ``bands(band_idx, band_hash, id, epoch)`` — the LSH postings
  of every rep seen; ``shingles(id, shingles, epoch)`` — verify-side
  shingle sets of every rep; beside them the ``edges``
  ``(id_l, id_r, path, score)``, ``assignments`` and ``band_audits`` logs.
  ``epoch`` is the micro-batch counter — the insertion-order clock that
  makes an age/LRU bound possible, mirroring the reference's bounded LRU
  dictionary (`src/dict.rs:50-63`).
* **One epoch is one commit** (the stand-in for an Iceberg snapshot
  commit): micro-batch ``E`` writes each store to ``<store>/commit=<E>/``
  and publishes ``_published.json`` (``{"epoch": E}``) last. Readers see
  ``commit <= published`` only, so a crashed batch leaves nothing visible
  and the writes need no order; the next batch, a replay or not, reuses
  ``E`` and first deletes every store's ``commit=<E>`` leftover. The dirs
  must be ``k=v``: with a schema, Spark reads plain subdirs as zero rows.
* **Per micro-batch**: one ``pipeline.dedup_stages`` call on a
  ``_StageRunner`` (run id ``epoch<N>``) with the stores as its
  ``history``, the batch pipeline's own core: the batch is grouped
  against the ``content_keys`` store (a stored key keeps its canonical
  id; a new key's canonical is the batch's min uid), the new reps are
  sketched (MinHash outputs only), their band postings are paired with
  each other and with the stored ones in the one bucket pass of
  ``pipeline.bucket_candidates`` (the stored postings as path 0, the
  MinHash path, of its posting table), and candidates are verified by
  exact Jaccard against the batch's and the stored shingles. Identical
  config ⇒ identical candidate semantics.
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
* **State maintenance**: ``compact_state`` rewrites the stores deduped
  and coalesced into one commit, and swaps each in by renames that a
  later read rolls back or completes — run it periodically so a year of
  micro-batch commits doesn't degrade every history join into a
  million-small-file scan. Its optional ``max_epoch_age`` drops
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
from .pipeline import (DedupConfig, _StageRunner, _publish_manifest, dedup_stages,
                       with_turn_uid)
from .session import job_description

_STORE_SCHEMAS = {
    "content_keys": "content_key string, canonical_id string, epoch long",
    "bands": "band_idx int, band_hash long, id string, epoch long",
    "shingles": "id string, shingles array<long>, epoch long",
    "edges": "id_l string, id_r string, path string, score double",
    "assignments": "uid string, canonical_id string, path string",
}
# every store a micro-batch writes; band_audits is written, never read
_STORES = (*_STORE_SCHEMAS, "band_audits")
# the stores read as history, by the logical key compact_state dedups on
_HISTORY_KEYS = {
    "content_keys": ["content_key"],
    "bands": ["band_idx", "band_hash", "id"],
    "shingles": ["id"],
}


def _commit_path(state_dir: str, name: str, epoch: int) -> str:
    return os.path.join(state_dir, name, f"commit={epoch}")


def _published(state_dir: str) -> int:
    """The last published epoch, -1 before the first. A ``state_dir`` of
    the older flat-append layout (``_epoch.json``) raises: its unstamped
    appends would read as partial history, never as an error."""
    if os.path.exists(os.path.join(state_dir, "_epoch.json")):
        raise ValueError(f"{state_dir!r} holds flat appends of an older store "
                         "layout (_epoch.json): stream into a new state_dir")
    try:
        with open(os.path.join(state_dir, "_published.json")) as fh:
            return json.load(fh)["epoch"]
    except FileNotFoundError:
        return -1


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


def _read_store(spark, state_dir: str, name: str, published: int) -> DataFrame | None:
    """Read a state store's published commits (``commit <= published``:
    partition pruning skips a crashed batch's leftover). An ABSENT store
    is ``None``, so callers skip the union/join against it outright
    (joining or unioning an empty frame is a no-op, but the skipped plan
    nodes cost real AQE stage jobs per micro-batch, the dominant cost of a
    small batch). A BROKEN store raises: treating a mis-permissioned or
    corrupt store as empty history would produce wrong, missed-duplicate
    output. A store whose compaction swap was interrupted is settled first
    (``_finish_swap``).

    The schema is known, so the read skips the inference job a plain
    parquet read runs (one per store per micro-batch); naming ``commit``
    in it lets a dir with no data file yet (a crashed first write) read
    as empty instead of failing on the missing column.
    """
    path = os.path.join(state_dir, name)
    _finish_swap(path)
    if not os.path.exists(path):
        return None
    return (spark.read.schema(_STORE_SCHEMAS[name] + ", commit long").parquet(path)
            .filter(F.col("commit") <= published).drop("commit"))


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
    ``(uid, text)``. Returns counters (for tests/monitoring); commits the
    state stores and the ``edges``/``assignments`` logs as one epoch.

    The counters cost no job: ``rows`` and ``new_keys`` are the ``base``
    and ``sketches`` stage rows (one sketch per new content key), ``edges``
    is observed on the edges write.
    ``collect_stats`` is accepted and ignored (``perfbench`` still passes it).
    """
    spark = batch_df.sparkSession
    sc = spark.sparkContext
    os.makedirs(state_dir, exist_ok=True)
    epoch = _published(state_dir) + 1
    # a crashed attempt at this epoch may have written any store, one this
    # batch will not write included: none of it may get published
    for name in _STORES:
        if os.path.exists(_commit_path(state_dir, name, epoch)):
            shutil.rmtree(_commit_path(state_dir, name, epoch))
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
        hist = {n: _read_store(spark, state_dir, n, epoch - 1) for n in _HISTORY_KEYS}
        base = runner.run("base", lambda: batch_df.select(
            F.col("uid").alias("id"), "text"), local_only=True)
        groups, sk, (pairs,), audits, n_audit = dedup_stages(
            runner, base, cfg, history=hist)

    # the write is the edges' only evaluation: it records their count
    n_edges = Observation()
    ep = F.lit(epoch).cast("long").alias("epoch")
    writes = {
        "shingles": sk.select("id", "shingles", ep),
        "bands": minhash.explode_band_hashes(sk.select("id", "bands")).select(
            "band_idx", "band_hash", "id", ep),
        "content_keys": groups.filter(
            F.col("new") & (F.col("id") == F.col("canonical_id"))
        ).select("content_key", "canonical_id", ep),
        "edges": pairs.observe(n_edges, F.count(F.lit(1)).alias("rows")),
        "assignments": groups.select(
            F.col("id").alias("uid"), "canonical_id", F.lit("exact").alias("path")),
    }
    # audit rows exist only when a bucket was salted or a history join
    # skipped: counted on the candidate stage's own pins, no probe job
    if n_audit:
        writes["band_audits"] = audits["lsh_skew"].withColumn("epoch", F.lit(epoch))

    def _write(name):
        with job_description(sc, f"stream:epoch{epoch}:write:{name}"):
            writes[name].write.parquet(_commit_path(state_dir, name, epoch))

    # side by side (distinct paths, no read-after-write), so the tiny
    # dictionary/assignment writes back-fill cores while the verify-bearing
    # edges write runs, instead of paying one driver barrier each in
    # sequence; nothing is visible until the publish, so the order is free
    with ThreadPoolExecutor(max_workers=len(writes)) as pool:
        list(pool.map(_write, writes))
    _publish_manifest(os.path.join(state_dir, "_published.json"), {"epoch": epoch})
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
    """Rewrite the state stores deduped and coalesced into one commit.

    * ``content_keys``/``bands``/``shingles``: dropDuplicates on the
      logical key (first-write wins is moot — a key/id is only ever
      committed once by construction: a crashed epoch never publishes,
      a replay of a published one finds its keys) and coalesce the
      per-batch small files into ``partitions`` files under
      ``commit=<published epoch>``. ``bands`` is not partitioned by
      ``band_idx``: every new rep posts a key in every band, so the
      history semi-join reads every band and pruning would never apply.
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
    current = _published(state_dir)
    horizon = None if max_epoch_age is None else current - max_epoch_age
    if partitions is None:
        partitions = spark.sparkContext.defaultParallelism
    out: dict = {"epoch": current}
    for name, keys in _HISTORY_KEYS.items():
        df = _read_store(spark, state_dir, name, current)
        if df is None:
            continue
        path = os.path.join(state_dir, name)
        if horizon is not None:
            df = df.filter(F.col("epoch") >= horizon)
        # the write is the rewrite's only evaluation: it records the count
        rows = Observation()
        df = df.dropDuplicates(keys).observe(rows, F.count(F.lit(1)).alias("n"))
        tmp = path + ".compact"
        if os.path.exists(tmp):  # a crashed compaction's copy
            shutil.rmtree(tmp)
        df.repartition(partitions).write.parquet(
            _commit_path(state_dir, name + ".compact", current))
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

    foreachBatch's ``batch_id`` is not needed: a replay of a batch that
    never published reuses its epoch, and a replay after the publish finds
    every key stored and writes only duplicate ``assignments`` rows, which
    ``compact_clusters`` drops.
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
    published = _published(state_dir)
    with job_description(spark.sparkContext, "stream:compact"):
        assigns = _read_store(spark, state_dir, "assignments", published)
        if assigns is None:
            raise FileNotFoundError(f"{state_dir!r} holds no streamed batch")
        edges = assigns.filter(F.col("uid") != F.col("canonical_id")).select(
            F.col("canonical_id").alias("id_l"), F.col("uid").alias("id_r")
        )
        near = _read_store(spark, state_dir, "edges", published)
        if near is not None:
            edges = edges.unionByName(near.select("id_l", "id_r"))
        edges = edges.dropDuplicates(["id_l", "id_r"])
        ids = assigns.select(F.col("uid").alias("id")).dropDuplicates(["id"])
        return assign_clusters(ids, edges, "id", small_graph_rows=small_graph_rows)
