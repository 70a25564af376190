"""End-to-end near-duplicate detection + clustering pipeline.

north_rule shape: transcripts → (turn or conversation granularity) →
exact hash dedup → one fused sketch pass over the representatives → one
posting table of the three candidate paths (MinHash/LSH bands, SimHash
bands, winnowing fingerprints) and one bucket pass over it → one verify
per path → union of verified pair edges → large-star/small-star
connected components → cluster table, with per-stage materialization
(resume from checkpoint), per-stage row counts, and dedup-ratio metrics.

Resumability (SURVEY.md §4.3): when ``checkpoint_dir`` is set, every stage
writes parquet under ``{checkpoint_dir}/{run_id}/{stage}``; a stage whose
``_SUCCESS`` marker exists is read back instead of recomputed, so a killed
job resumes at the first incomplete stage. (On a real cluster the same
layout lands in Iceberg tables; parquet-dir-with-_SUCCESS is the sandbox
equivalent of an Iceberg snapshot commit.)
"""

from __future__ import annotations

import functools
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, functions as F

from .operators import exactdup, minhash, simhash, substring
from .operators._buckets import bucket_pairs
from .operators.components import assign_clusters
from .session import job_description


@dataclass
class DedupConfig:
    """Shingle/signature config — the 'identical config' of the recall
    criterion (BASELINE.json) and the analogue of the reference's
    ``GD::setup`` params (`src/lib.rs:21-41`)."""

    w: int = 5                       # word-shingle width (MinHash path)
    num_perm: int = 128
    bands: int = 32
    rows: int = 4
    jaccard_threshold: float = 0.7
    char_k: int = 8                  # char-gram width (SimHash path)
    # SimHash candidates come from fixed sim_bands×(64/sim_bands)-bit
    # bands: every pair at Hamming distance ≤ sim_bands−1 co-buckets.
    sim_bands: int = 4
    max_hamming: int = 3
    min_substring_len: int = 200
    # Buckets over this size are salted (SURVEY.md §4.2): hash-split into
    # ~cap-sized sub-buckets whose representatives are chained, so
    # connectivity (and therefore clustering recall) is preserved with
    # O(size) edges. Audited as action='salted'.
    max_bucket_size: int = 2000
    # pairs per bucket member (band-graph width): bounds the per-bucket
    # pair blow-up to O(m·K) while CC restores full clusters via chain +
    # band redundancy. None = exact all-pairs (small corpora / oracles).
    neighbor_window: int | None = 8
    # Path toggles: the exact path always runs (it is also the
    # canonicalization step); the three near-dup paths can be disabled
    # individually (e.g. the oracle-checkable exact+minhash+substring
    # subset, or a minhash-only fast pass).
    enable_minhash: bool = True
    enable_simhash: bool = True
    enable_substring: bool = True
    seed: int = 1


@dataclass
class PipelineResult:
    clusters: DataFrame              # (id, cluster_id)
    pairs: DataFrame                 # (id_l, id_r, path, score)
    # (run_id, stage, rows, wall_ms, resumed); rows is NULL for lazy and
    # resumed stages
    metrics: DataFrame
    audits: dict = field(default_factory=dict)
    # (id, text) in the caller's id space, backed by the pipeline's pinned
    # ``base`` stage — survivorship/encoding consumers join texts against
    # THIS instead of re-evaluating the caller's input plan (often a full
    # scan + the caller's own upstream shuffles).
    source: DataFrame | None = None


def sketches(
    df: DataFrame,
    cfg: DedupConfig,
    id_col: str = "id",
    text_col: str = "text",
) -> DataFrame:
    """Every per-rep sketch the enabled near-dup paths need, from ONE
    Arrow pass over ``(id, normalize_text(text), text)``:

    * MinHash: ``shingles`` (distinct w-shingle hashes, the verify side)
      and ``bands`` (fused k-permutation MinHash band hashes);
    * SimHash: ``fp`` (64-bit fingerprint of the char k-grams);
    * substring: ``fps`` (winnowing fingerprints).

    Each column is computed by the same kernel as its standalone operator
    (``shingle_df``, ``minhash_band_hashes``,
    ``simhash_fingerprints_from_text``, ``winnow_fingerprints``), so the
    values are identical. One pass instead of four: every Python task pays
    a fixed start-up cost that dwarfs the kernels at transcript sizes, and
    each pass ships every rep's text to the Python workers again.
    ``dedup_stages`` runs it once over the new reps of a batch run or a
    micro-batch, so both paths sketch through here.
    """
    import pandas as pd

    on_mh, on_sh, on_ss = cfg.enable_minhash, cfg.enable_simhash, cfg.enable_substring
    cols = [F.col(id_col).alias("id")]
    fields = [f"id {df.schema[id_col].dataType.simpleString()}"]
    if on_mh:
        cols.append(minhash.normalize_text(F.col(text_col)).alias("norm"))
        fields += ["shingles array<long>", "bands array<long>"]
        a, b = minhash.kperm_coefficients(cfg.num_perm, cfg.seed)
        scratch: dict = {}
    if on_sh or on_ss:
        cols.append(F.col(text_col).alias("text"))
    if on_sh:
        fields.append("fp long")
    if on_ss:
        fields.append("fps array<long>")
        # winnow k-gram and window: any common span of min_substring_len
        # bytes shares a fingerprint (k + w - 1 = min_substring_len)
        wk = max(16, cfg.min_substring_len // 3)
        ww = cfg.min_substring_len - wk + 1

    def sketch(batches):
        for pdf in batches:
            out = {"id": pdf["id"].to_numpy()}
            if on_mh:
                sh = pd.Series(minhash.shingle_hashes(list(pdf["norm"]), cfg.w))
                out["shingles"] = sh
                out["bands"] = pd.Series(list(minhash.kperm_band_hashes(
                    sh, a, b, cfg.bands, cfg.rows, scratch
                )))
            if on_sh:
                out["fp"] = pd.Series(simhash.simhash_text_fps(pdf["text"], cfg.char_k))
            if on_ss:
                out["fps"] = pd.Series(substring.winnow_text_fps(pdf["text"], wk, ww))
            yield pd.DataFrame(out)

    return df.select(*cols).mapInPandas(sketch, ", ".join(fields))


class _StageRunner:
    """Materialize-or-resume per stage + metrics bookkeeping.

    One materialization mode. A stage's ``rows`` come from an unnamed
    ``Observation`` on the action the stage already runs (its eager
    checkpoint, or its parquet write in resume mode), so counting costs
    no job of its own. ``rows`` is NULL for a lazy stage (observing it
    would block filter pushdown into its consumer, and ``get`` would wait
    forever on an audit frame nothing reads) and for a resumed stage; the
    ``resumed`` column says which.
    """

    def __init__(self, spark, checkpoint_dir: str | None, run_id: str):
        self.spark = spark
        self.dir = checkpoint_dir
        self.run_id = run_id
        self.metrics: list[tuple] = []

    def _path(self, stage: str) -> str:
        return os.path.join(self.dir, self.run_id, stage)

    def _committed(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def run(
        self,
        stage: str,
        build,
        lazy: bool = False,
        local_only: bool = False,
    ) -> DataFrame:
        """``lazy=True`` marks a stage whose output is consumed at most
        once downstream (verify-pair frames, the pair union, the
        candidates when one path reads them) or is an optional
        side-product (the skew-audit frame): with no checkpoint_dir
        it is returned unmaterialized, so its one consumer evaluates it
        once from the checkpointed upstream stages and an unread audit
        costs no job; its ``rows`` is NULL. With a checkpoint_dir every
        stage is written to parquet, and a committed one is read back with
        NULL ``rows``.

        ``local_only=True`` marks a reuse point worth pinning in executor
        memory but not worth a parquet write in resume mode (the ``base``
        stage: resume mode inlines it).

        Every job the stage submits — including eager sub-jobs of a lazy
        ``build()`` (internal checkpoints) — runs under ``stage:<name>``."""
        if self.dir is not None and local_only:
            # inline in resume mode — not a materialized stage, so it has
            # no metrics row (a fully-resumed run stays all-resumed)
            return build()
        t0 = time.monotonic()
        obs, resumed = None, False
        with job_description(self.spark.sparkContext, f"stage:{stage}"):
            if self.dir is None and lazy:
                out = build()
            elif self.dir is not None and self._committed(stage):
                out = self.spark.read.parquet(self._path(stage))
                resumed = True
            else:
                obs = Observation()
                df_ = build().observe(obs, F.count(F.lit(1)).alias("rows"))
                if self.dir is None:
                    out = df_.localCheckpoint(eager=True)
                else:
                    df_.write.mode("overwrite").parquet(self._path(stage))
                    out = self.spark.read.parquet(self._path(stage))
        rows = None if obs is None else obs.get["rows"]
        wall_ms = int((time.monotonic() - t0) * 1000)
        self.metrics.append((self.run_id, stage, rows, wall_ms, resumed))
        return out

    def metrics_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            self.metrics, "run_id string, stage string, rows long, wall_ms long, resumed boolean"
        )


def _edges(pairs: DataFrame, path: str, score) -> DataFrame:
    """``(id_l, id_r, path, score)`` — the edge rows every path emits."""
    return pairs.select("id_l", "id_r", F.lit(path).alias("path"), score.alias("score"))


# the candidate paths by their code in the shared posting table: edge path
# name, audit name, and the audit's names for the posting's band and key
# (a path without a band posts band 0)
_PATHS = {
    0: ("minhash", "lsh_skew", {"band": "band_idx", "key": "band_hash"}),
    1: ("simhash", "simhash_skew", {"band": "band_idx", "key": "band_val"}),
    2: ("substring", "substring_skew", {"key": "fp"}),
}


def _postings(path: int, frame: DataFrame) -> DataFrame:
    """``(path tinyint, band int, key long, id)`` rows of one path, from a
    frame holding that path's own band/key column names."""
    keys = _PATHS[path][2]
    band = F.col(keys["band"]) if "band" in keys else F.lit(0)
    return frame.select(
        F.lit(path).cast("tinyint").alias("path"), band.alias("band"),
        F.col(keys["key"]).alias("key"), "id",
    )


def _enabled(cfg: DedupConfig) -> list[int]:
    """The codes of the enabled near-dup paths."""
    return [p for p, on in enumerate(
        (cfg.enable_minhash, cfg.enable_simhash, cfg.enable_substring)) if on]


def bucket_candidates(
    sk: DataFrame,
    cfg: DedupConfig,
    history: DataFrame | None = None,
    oversized: Observation | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``(cands, audit)`` of every enabled path from ONE posting table and
    one ``_buckets.bucket_pairs`` call over the sketch frame ``sk``:
    ``cands(path, id_l, id_r)`` deduplicated, ``audit(path, band, key,
    bucket_size, action)``. Each path posts ``(path, band, key, id)``:
    MinHash ``(0, band_idx, band_hash)``, SimHash ``(1, band_idx,
    band_val)``, winnowing ``(2, 0, fp)``. ``path`` leads the bucket key,
    so equal keys of two paths never share a bucket; it also rides along
    as a payload, so each pair carries its path. Per path the result
    equals the standalone ``lsh_candidate_pairs``,
    ``simhash_candidate_pairs`` and ``substring_candidate_pairs`` (salted
    at ``cfg.max_bucket_size``). ``history`` (stored MinHash band
    postings, ``(band_idx, band_hash, id)``) goes to ``bucket_pairs`` as
    path 0's, and ``oversized`` goes with it."""
    # every explode re-derives from the pinned sketch frame in codegen for
    # each reader (the count agg, the prune join): never a sketch kernel
    parts = []
    if cfg.enable_minhash:
        parts.append(_postings(0, minhash.explode_band_hashes(sk.select("id", "bands"))))
    if cfg.enable_simhash:
        parts.append(_postings(1, simhash.simhash_bands(sk.select("id", "fp"), cfg.sim_bands)))
    if cfg.enable_substring:
        parts.append(_postings(2, sk.select("id", F.explode("fps").alias("fp"))))
    pairs, audit = bucket_pairs(
        functools.reduce(DataFrame.unionByName, parts), ["path", "band", "key"],
        payload_cols=["path"],
        max_bucket_size=cfg.max_bucket_size, neighbor_window=cfg.neighbor_window,
        materialize=False, salt_oversized=True, oversized=oversized,
        history=None if history is None else _postings(0, history),
    )
    return pairs.select(F.col("path_l").alias("path"), "id_l", "id_r").dropDuplicates(), audit


def path_audits(audit: DataFrame, cfg: DedupConfig) -> dict:
    """``bucket_candidates``' audit split by path, each in its path's own
    column names: ``lsh_skew(band_idx, band_hash, …)``,
    ``simhash_skew(band_idx, band_val, …)``, ``substring_skew(fp, …)``."""
    return {
        _PATHS[p][1]: audit.filter(F.col("path") == p).select(
            *[F.col(c).alias(a) for c, a in _PATHS[p][2].items()], "bucket_size", "action")
        for p in _enabled(cfg)
    }


def dedup_stages(
    runner: _StageRunner,
    base: DataFrame,
    cfg: DedupConfig,
    history: dict | None = None,
) -> tuple[DataFrame, DataFrame | None, list[DataFrame], dict, int | None]:
    """The dedup core both paths share, over the keyed ``base(id, text)``:
    exact groups → lazy reps → the one ``sketches`` pass → one bucket pass
    over the enabled paths' postings → one verify per path. Returns
    ``(exact_groups, sk, path_pairs, audits, n_audit)``:

    * ``exact_groups(id, content_key, canonical_id, new)`` for every
      ``base`` row (``exactdup.exact_dup_groups``: canonical = the group's
      min id) and ``sk``, the pinned sketch frame of the new groups'
      canonical rows (None when every near-dup path is off);
    * one verified edge frame per enabled path (MinHash, SimHash,
      substring order) and the skew audits by name (``lsh_skew``,
      ``simhash_skew``, ``substring_skew``), each in its path's own
      column names;
    * ``n_audit``, the audit's row count observed on the bucket pass's
      counts pin (None if that stage was resumed or every path is off),
      so a caller appends the audit only when non-empty without a probe
      job.

    The candidates of all paths come from one bucket pass
    (``bucket_candidates``): one count agg, one prune join, one salting
    decision and one audit for every path. Its ``cands(path, id_l, id_r)``
    stage is pinned when several verifies read it, and lazy when one path
    is on: its verify is then its only reader. Each verify filters its
    own path (SimHash joins its fingerprints back from ``sk``).

    ``history`` holds the stream's stores by name (``content_keys``,
    ``bands``, ``shingles``; each None when absent). A stored content key
    keeps its canonical id and is not new; the stored band postings are
    the bucket pass's ``history``, as path 0 (``_buckets.bucket_pairs``
    owns the skew policy for both: which keys are salted and which drop
    their history); the verify reads the stored shingles too. SimHash and
    substring keep no stores, so enabling either with ``history`` raises
    ``ValueError`` instead of silently losing the pairs with history.

    Every near-dup path runs on one representative per exact-text group;
    exact star edges re-attach the copies through connected components
    (transitive closure ⇒ identical final clusters). At web scale this is
    the load-bearing reduction — candidate-join and verify cost scale with
    DISTINCT content, not corpus size, and verbatim boilerplate collapses
    to one node instead of flooding LSH buckets.
    """
    if history is not None and (cfg.enable_simhash or cfg.enable_substring):
        raise ValueError("history covers the exact and MinHash paths only: "
                         "disable SimHash and substring to pass it")
    hist = history or {}

    def _groups():
        # base is pinned, so the group agg and the join back inside
        # exact_dup_groups re-read it instead of pinning their own
        # (id, key) table; resume mode inlines base and keeps that pin
        groups = exactdup.exact_dup_groups(
            base, "id", "text", materialize=runner.dir is not None
        )
        known = hist.get("content_keys")
        if known is None:
            return groups.withColumn("new", F.lit(True)).drop("group_size")
        stored = known.select("content_key", F.col("canonical_id").alias("known"))
        return groups.join(stored, "content_key", "left").select(
            "id", "content_key", F.coalesce("known", "canonical_id").alias("canonical_id"),
            F.col("known").isNull().alias("new"),
        )

    exact_groups = runner.run("exact_groups", _groups)
    new_reps = F.col("new") & (F.col("id") == F.col("canonical_id"))
    # lazy: the sketch pass is its only reader
    reps = runner.run(
        "reps", lambda: exact_groups.filter(new_reps).select("id").join(base, "id"),
        lazy=True,
    )
    on = _enabled(cfg)
    if not on:  # exact only: no sketch pass at all
        return exact_groups, None, [], {}, None
    # ONE Arrow pass over the reps computes every sketch the enabled paths
    # read (shingles + fused MinHash bands, SimHash fp, winnow fps); the
    # posting table and the verifies fork from this pinned frame
    sk = runner.run("sketches", lambda: sketches(reps, cfg))
    n_audit: list = []

    @functools.cache  # the cands and skew_audit stages share one build
    def build():
        oversized = Observation()
        out = bucket_candidates(sk, cfg, hist.get("bands"), oversized)
        n_audit.append(oversized.get["n"])  # observed on the counts pin
        return out

    # pinned when several verifies read it; lazy when one path is on, as
    # its verify is then its only reader
    cands = runner.run("cands", lambda: build()[0], lazy=len(on) == 1)
    # lazy: read only if a caller reads an audit; on resume it is read back
    # from parquet, so the audits are there on resumed runs too
    audits = path_audits(runner.run("skew_audit", lambda: build()[1], lazy=True), cfg)

    path_pairs: list = []

    def _verified(path: int, verify, score) -> None:
        # lazy: the verify joins read only pinned frames and feed exactly
        # one consumer (the pair union, or the stream's edges append)
        name = _PATHS[path][0]
        pairs = runner.run(f"{name}_pairs", lambda: verify(
            cands.filter(F.col("path") == path).select("id_l", "id_r")), lazy=True)
        path_pairs.append(_edges(pairs, name, score))

    if cfg.enable_minhash:
        shingles = sk.select("id", "shingles")
        if hist.get("shingles") is not None:
            shingles = shingles.unionByName(hist["shingles"].select("id", "shingles"))
        _verified(0, lambda c: minhash.verify_jaccard(c, shingles, cfg.jaccard_threshold),
                  F.col("jaccard"))
    if cfg.enable_simhash:
        # the fingerprints join back onto the deduplicated candidates
        fp = sk.select("id", "fp")

        def _hamming(c):
            dist = F.bit_count(F.col("fp_l").bitwiseXOR(F.col("fp_r")))
            return (c.join(fp.toDF("id_l", "fp_l"), "id_l").join(fp.toDF("id_r", "fp_r"), "id_r")
                    .select("id_l", "id_r", dist.alias("hamming_dist"))
                    .filter(F.col("hamming_dist") <= cfg.max_hamming))

        _verified(1, _hamming, 1.0 - F.col("hamming_dist") / 64.0)
    if cfg.enable_substring:
        # texts from the pinned base: candidate ids are all reps; clustering
        # needs only the threshold decision (the exact LCS length is ~10×
        # slower on long documents)
        _verified(2, lambda c: substring.verify_common_substring(
            c, base, "id", "text", cfg.min_substring_len, exact_length=False),
            F.col("common_len").cast("double"))
    return exact_groups, sk, path_pairs, audits, n_audit[0] if n_audit else None


def with_turn_uid(transcripts: DataFrame) -> DataFrame:
    """uid = conv_id:turn_idx — the stable per-turn key (input_hint)."""
    return transcripts.withColumn(
        "uid", F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"))
    )


def reassemble_conversations(transcripts: DataFrame) -> DataFrame:
    """``(uid=conv_id, text)`` — turns concatenated under STABLE turn
    ordering (sort_array over (turn_idx, text) structs; one shuffle by
    conv_id, no global sort). The Spark form of the reference's in-order
    chunk stream (`src/gd_byte_unit.rs:55-65`)."""
    return (
        transcripts.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("text")
        )
        .select(F.col("conv_id").alias("uid"), "text")
    )


def near_dup_pipeline(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    cfg: DedupConfig | None = None,
    checkpoint_dir: str | None = None,
    run_id: str = "run-0",
    collect_stats: bool = False,
) -> PipelineResult:
    """The full dedup DAG. ``df`` must have unique ``id_col`` values.

    ``collect_stats`` is accepted and ignored (``perfbench`` still passes it)."""
    cfg = cfg or DedupConfig()
    spark = df.sparkSession
    runner = _StageRunner(spark, checkpoint_dir, run_id)

    src = df.select(F.col(id_col).alias("orig_id"), F.col(text_col).alias("text"))
    # Internal node key: xxhash64 of the caller id. Every downstream stage
    # (shingles, bands, postings, pairs, CC) shuffles compact int64 keys
    # instead of ~18-byte uid strings — at 10^12 turns the shuffle byte
    # count IS the job cost. The original id is joined back at the end;
    # a 64-bit collision can only merge two clusters, never corrupt ids
    # (same contract as assign_clusters).
    #
    # The keyed corpus is pinned ONCE: exact_groups, reps, the substring
    # verify and the id join-back read it instead of re-evaluating the
    # caller's plan (local_only: resume mode inlines it).
    keyed = runner.run(
        "base",
        lambda: src.select(
            "orig_id", F.xxhash64("orig_id").alias("id"), "text"
        ),
        local_only=True,
    )
    base = keyed.select("id", "text")

    exact_groups, _, path_pairs, audits, _ = dedup_stages(runner, base, cfg)

    # --- union + clustering ---------------------------------------------------
    # lazy: every input of the union is either checkpointed (cands,
    # sketches, exact_groups) or a cheap derivation of one; the single
    # consumer is the CC edge canonicalization inside the clusters stage,
    # which materializes the union exactly once.
    pairs = runner.run("pairs", lambda: functools.reduce(
        DataFrame.unionByName, path_pairs,
        _edges(exactdup.exact_dup_pairs(exact_groups), "exact", F.lit(1.0)),
    ), lazy=True)

    def _clusters():
        # CC runs over the REP-LEVEL near-dup graph only; exact-dup members
        # attach to their canonical rep's component through one join
        # afterwards. Identical final partitions (near-dup edges exist only
        # between reps, and each exact group is a star around its rep), but
        # the iterative rounds never shuffle the exact stars — at scale the
        # largest edge class and the skewed one (hot boilerplate groups put
        # 10⁴+ member edges on one key; rep-graph nodes are distinct
        # content, so hot keys collapse to single nodes).
        near = pairs.filter(F.col("path") != "exact").dropDuplicates(
            ["id_l", "id_r"]
        )
        # Reliable CC checkpointing rides the pipeline's checkpoint_dir:
        # when stage resume is on, the CC iterations inside the clusters
        # stage also survive executor loss (mid-iteration truncations go
        # to {checkpoint_dir}/{run_id}/_cc instead of executor memory).
        cc_dir = (
            os.path.join(checkpoint_dir, run_id, "_cc")
            if checkpoint_dir
            else None
        )
        rep_clusters = assign_clusters(
            exact_groups.filter(F.col("id") == F.col("canonical_id")).select("id"),
            near, "id", checkpoint_dir=cc_dir,
        )
        expanded = exact_groups.select("id", "canonical_id").join(
            rep_clusters.select(
                F.col("id").alias("canonical_id"), "cluster_id"
            ),
            "canonical_id",
        )
        return (
            keyed.select("orig_id", "id")
            .join(expanded.select("id", "cluster_id"), "id")
            .select(F.col("orig_id").alias("id"), "cluster_id")
        )

    clusters = runner.run("clusters", _clusters)

    return PipelineResult(
        clusters=clusters,
        pairs=pairs,
        metrics=runner.metrics_df(),
        audits=audits,
        source=keyed.select(F.col("orig_id").alias("id"), "text"),
    )


def canonical_clusters(clusters: DataFrame) -> DataFrame:
    """Relabel ``(id, cluster_id)`` with cluster_id = min(id) per cluster.

    The internal cluster label is an xxhash64-derived int64 (content-
    addressed, no global counter); this makes labels deterministic IN TERMS
    OF THE CALLER'S IDS — the form an external system (or a SQL oracle's
    recursive-CTE components) can reproduce exactly. One small agg + one
    broadcast-able join.
    """
    labels = clusters.groupBy("cluster_id").agg(F.min("id").alias("label"))
    return clusters.join(labels, "cluster_id").select(
        "id", F.col("label").alias("cluster_id")
    )


def cluster_representatives(
    clusters: DataFrame,
    src: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Canonical-member selection: for each dedup cluster, the member to
    KEEP for training — longest text (most complete version), ties broken
    by smallest id — plus survivorship stats.

    This is the output analogue of the reference's base/deviation split
    (`src/lib.rs:90-94`: `Deduped` keeps one base per dictionary entry and
    records deviations): of a near-dup cluster we keep one representative
    and account for the bytes the rest would have cost.

    Scale notes: a single hash aggregation on ``cluster_id`` — partial
    (map-side) aggregation applies, so a mega-cluster of boilerplate
    costs O(|cluster|) combiner work spread over its input partitions,
    never a single-task window. The rep is picked with
    ``min(struct(-octet_length, id))`` (lexicographic struct ordering)
    inside the same agg, so the whole operator is one shuffle.

    Returns ``(cluster_id, rep_id, cluster_size, total_bytes,
    kept_bytes)`` where ``total_bytes``/``kept_bytes`` are UTF-8 byte
    counts (NULL text counts as '' per the engine's NULL doctrine).
    """
    members = clusters.join(
        src.select(
            F.col(id_col).alias("id"),
            F.octet_length(F.coalesce(F.col(text_col), F.lit(""))).alias("_nb"),
        ),
        "id",
    )
    best = F.min(
        F.struct((-F.col("_nb")).alias("neg_nb"), F.col("id").alias("id"))
    ).alias("_best")
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.sum("_nb").cast("long").alias("total_bytes"),
            best,
        )
        .select(
            "cluster_id",
            F.col("_best.id").alias("rep_id"),
            "cluster_size",
            "total_bytes",
            (-F.col("_best.neg_nb")).cast("long").alias("kept_bytes"),
        )
    )


def _publish_manifest(path: str, manifest: dict) -> None:
    """Write the manifest LAST and atomically (temp file + ``os.replace``):
    its existence marks a complete, readable output set, so a crash
    mid-write leaves either no manifest or the whole one."""
    import json

    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    os.replace(tmp, path)


# both archive tables: zstd pages, and v2 pages, whose DELTA_BINARY_PACKED
# stores the bases' consecutive ids in almost nothing (zstd alone leaves
# them at about 4 bytes each); fixed properties of the format
_GD_PAGES = {"compression": "zstd", "parquet.writer.version": "v2"}


def write_gd_outputs(chunks: DataFrame, out_dir: str, run_id: str = "run-0") -> dict:
    """Persist the GD decomposition contract: ``bases(base_id, base)`` and
    ``deviations(conv_id, turn_idx, chunk_idx, base_id, deviation,
    last_chunk_pad)`` — together lossless (reconstruct = deviations ⋈
    bases → gd_reconstruct). Reference analogue: the packed record stream
    `src/gd_byte_unit.rs:78-98`, as columnar tables.

    The committed ``bases`` file is the dictionary. It is written first,
    sorted by content within each partition, with ``base_id`` its
    ``monotonically_increasing_id``: consecutive within a file, exactly
    ``0..D-1`` when AQE coalesces the dictionary to one partition. Bases
    are unique, so the sort is total and a retried task numbers its rows
    the same way. The deviations are the chunks joined to that file as
    read back, so every id they hold is one the bases hold.

    Layout: chunks are turn-aligned (each turn on its own n-byte grid, as
    ``gd_decompose`` emits them). While the dictionary file is under
    ``spark.sql.autoBroadcastJoinThreshold`` the join broadcasts it, so the
    deviations keep the decompose's conv_id partitioning and each
    conversation lies in one file; past that the join shuffles, which is
    still correct. Both tables are written with zstd and Parquet v2 pages,
    fixed properties of the format. The manifest records ``"layout":
    "turn"``; ``read_gd_outputs`` refuses an archive without it. Its jobs
    (the decompose pin, both table writes, the dictionary broadcast) run
    under ``gd:store:<run_id>``."""
    from .gd.spark import BASES_SCHEMA, DEVIATIONS_SCHEMA

    base = os.path.join(out_dir, run_id)
    manifest_path = os.path.join(base, "gd_manifest.json")
    # a rewrite of an existing archive unpublishes it first: a crash while
    # the tables are overwritten must not leave the old manifest pointing
    # at half-written tables (old deviations against a new dictionary)
    if os.path.exists(manifest_path):
        os.remove(manifest_path)
    paths = {"bases": os.path.join(base, "bases"),
             "deviations": os.path.join(base, "deviations")}
    spark = chunks.sparkSession
    with job_description(spark.sparkContext, f"gd:store:{run_id}"):
        # both tables derive from the same chunks: pin them once (at the
        # width the upstream shuffle left them) so the decompose kernel
        # runs once per archive, not once per table write
        pinned = chunks.localCheckpoint(eager=True)
        (pinned.select("base").distinct().sortWithinPartitions("base")
         .select(F.monotonically_increasing_id().alias("base_id"), "base")
         .write.mode("overwrite").options(**_GD_PAGES).parquet(paths["bases"]))
        bases = spark.read.schema(BASES_SCHEMA).parquet(paths["bases"])
        (pinned.join(bases, "base").select(*DEVIATIONS_SCHEMA.fieldNames())
         .write.mode("overwrite").options(**_GD_PAGES).parquet(paths["deviations"]))
    manifest = {"run_id": run_id, "layout": "turn", "tables": paths}
    _publish_manifest(manifest_path, manifest)
    return manifest


def read_gd_outputs(spark, out_dir: str, run_id: str = "run-0") -> DataFrame:
    """Inverse of ``write_gd_outputs``: join deviations back to bases,
    returning the full chunk table gd_reconstruct expects. Table paths
    come from the manifest; an archive without one (a write that never
    finished) raises ``FileNotFoundError``, and one whose manifest does
    not record the turn-aligned layout raises ``ValueError``, instead of
    being read.

    Both tables are read with their known schemas (``BASES_SCHEMA``,
    ``DEVIATIONS_SCHEMA``), so the read runs no schema-inference job; the
    join runs in the caller's action. Columns outside those schemas are
    ignored, so an archive with content-hashed ids and an ``n_refs``
    column reads the same way."""
    import json

    from .gd.spark import BASES_SCHEMA, CHUNK_SCHEMA, DEVIATIONS_SCHEMA

    path = os.path.join(out_dir, run_id, "gd_manifest.json")
    try:
        with open(path) as fh:
            manifest = json.load(fh)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"GD archive {run_id!r} under {out_dir!r} has no gd_manifest.json: "
            "its write never completed"
        ) from None
    if manifest.get("layout") != "turn":
        raise ValueError(
            f"GD archive {run_id!r} under {out_dir!r} is not turn-aligned "
            f"(layout {manifest.get('layout')!r}): it was written in an older "
            "format and cannot be reconstructed"
        )
    tables = manifest["tables"]
    bases = spark.read.schema(BASES_SCHEMA).parquet(tables["bases"])
    devs = spark.read.schema(DEVIATIONS_SCHEMA).parquet(tables["deviations"])
    return devs.join(bases, "base_id").select(*CHUNK_SCHEMA.fieldNames())


def dedup_metrics(clusters: DataFrame) -> DataFrame:
    """Corpus-level dedup ratio — the reference's printed dedup-rate
    observability (`src/lib.rs:131-135`), relationally."""
    return clusters.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        (1.0 - F.countDistinct("cluster_id") / F.count("*")).alias("dup_fraction"),
    )
