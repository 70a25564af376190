"""Driver contract for the spark-graft builder (PySpark target).

``entry`` — flagship: full near-dup detection + clustering pipeline over the
sf0.001 documents table.

``queries``/``oracle_sql`` — one entry per implemented operator family
(SURVEY.md §2). Oracle-checked queries compute bit-identical values in
DuckDB; genuinely non-SQL-expressible ops (GD round-trip, SimHash/winnowing
candidate generation, LSH-bucketed ANN, mapInPandas multimodal) have no
oracle entry → driver records the weaker rows-only check.

Column aliases match between Spark and SQL on every query (driver compares
sorted-by-name value hashes).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from rust_gd_spark.functions import textstats as ts

SHINGLE_W = 5
JACCARD_T = 0.5
TOPK = 5


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rust_gd_spark.session import ensure_min_partitions

    return ensure_min_partitions(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def _docs_dense(
    spark: SparkSession, sf_dir: str, cap_factor: int = 1
) -> DataFrame:
    """Documents at a 4× finer scan width for operators whose per-row
    work is unusually dense (the CDC chunker's interpreted higher-order
    array expressions) — measured ~3× faster than the default width on
    the bench corpus, still size-derived and capped at the core count.

    ``cap_factor`` oversubscribes that cap (with a matching finer byte
    target) for SCAN-TERMINAL dense queries only — per-row compute
    dominates and doc-length skew stalls the tail at one slice per core
    (ABAB: the chunker alone runs 0.81× at 2-3 slices/core), but any
    downstream shuffle pays the extra map tasks back (ngram_topk 1.37×
    at the wide width), so consumers with aggregations stay at cap 1."""
    from rust_gd_spark.session import ensure_min_partitions

    return ensure_min_partitions(
        spark.read.parquet(f"{sf_dir}/documents.parquet"),
        target_bytes=(32 << 10) // max(1, cap_factor),
        cap_factor=cap_factor,
    )


def _transcripts_from_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic transcripts-shaped table (input_hint schema) derived
    from documents: conv = doc_id mod 50, turns ordered by doc_id."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    w = Window.partitionBy(F.col("doc_id") % 50).orderBy("doc_id")
    return d.select(
        F.format_string("conv-%04d", (F.col("doc_id") % 50).cast("int")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.element_at(
            F.array(F.lit("user"), F.lit("assistant"), F.lit("tool")),
            (F.col("doc_id") % 3 + 1).cast("int"),
        ).alias("role"),
        F.col("text"),
        F.lit(None).cast("string").alias("tool"),
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("ts"),
    )


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: near-dup clustering of sf0.001 documents — all four paths
    (exact / MinHash-LSH / SimHash / winnowing-substring) → connected
    components → (id, cluster_id)."""
    from rust_gd_spark.pipeline import DedupConfig, near_dup_pipeline

    docs = _docs(spark, "/root/testdata/sf0.001").select(
        F.col("doc_id").cast("string").alias("uid"), "text"
    )
    res = near_dup_pipeline(
        docs, "uid", "text",
        DedupConfig(jaccard_threshold=0.5, min_substring_len=120),
    )
    return res.clusters.select(
        F.col("id").cast("long").alias("doc_id"), F.col("cluster_id")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# queries
# ---------------------------------------------------------------------------

def _q_exact_dedup(spark, sf_dir):
    """No ensure_min_partitions here: the operator is pure JVM
    (scan → md5 → agg → join); its map parallelism IS the scan's split
    count, so round-robin repartitioning a small single-split file only
    adds an exchange (measured ~0.7 s of the old 3.5 s bench time). On a
    real corpus the scan has thousands of splits."""
    from rust_gd_spark.operators.exactdup import exact_dup_groups

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_dup_groups(d, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "content_key", "canonical_id", "group_size"
    )


def _q_ngram_jaccard(spark, sf_dir):
    from rust_gd_spark.operators.minhash import exact_jaccard_pairs

    p = exact_jaccard_pairs(
        _docs(spark, sf_dir), "doc_id", "text", w=SHINGLE_W, threshold=JACCARD_T
    )
    return p.select("id_l", "id_r", F.round("jaccard", 6).alias("jaccard"))


def _q_minhash_lsh(spark, sf_dir):
    """LSH-generated candidates, exact-Jaccard verified, hash-compared
    against the exact all-pairs SQL. LSH recall is probabilistic, so this
    equality is only a sound oracle because the fixture's margins make a
    miss astronomically unlikely: every qualifying pair at sf0.01 has
    J ≥ 0.875 (measured; threshold 0.5), so per-pair miss probability with
    (32 bands × 4 rows) is (1 − 0.875⁴)³² ≈ 6e-13. NULL text coalesces to
    '' on both sides (normalize_text ↔ the oracle's coalesce)."""
    from rust_gd_spark.operators.minhash import minhash_near_dup_pairs

    p = minhash_near_dup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", w=SHINGLE_W, threshold=JACCARD_T
    )
    return p.select("id_l", "id_r", F.round("jaccard", 6).alias("jaccard"))


def _q_minhash_lsh_oph(spark, sf_dir):
    """Same contract as ``minhash_lsh_pairs`` but through the densified
    one-permutation-hashing kernel (``scheme="oph"``, Li'12/Shrivastava-
    Li'14) — the extreme-scale signature path. The oracle-soundness
    argument is the same fixture-margin one: per-slot collision
    probability ≈ J, so at J ≥ 0.875 a banded miss stays astronomically
    unlikely, and the exact-Jaccard verify makes precision exact."""
    from rust_gd_spark.operators.minhash import minhash_near_dup_pairs

    p = minhash_near_dup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", w=SHINGLE_W,
        threshold=JACCARD_T, scheme="oph",
    )
    return p.select("id_l", "id_r", F.round("jaccard", 6).alias("jaccard"))


def _q_bloom_dedup(spark, sf_dir):
    """Cross-corpus exact dedup through the sharded-Bloom prefilter: the
    'corpus' is 90% of documents (doc_id % 10 != 0), the 'new batch' is
    the other 10% plus planted re-identified copies of corpus texts
    (doc_id % 7 == 1, re-keyed +10M) — survivors are batch rows whose text
    is absent from the corpus. Exact anti-join semantics (the filter only
    routes work), so the plain DuckDB NOT IN is a bit-exact oracle. Scale
    shape: corpus folds map-side into 32 bitsets; only the batch and the
    Bloom-hit candidate keys ever shuffle (operators/bloom.py docstring
    for the 10^12-row arithmetic)."""
    from rust_gd_spark.operators.bloom import bloom_anti_join

    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 10 != 0)
    planted = corpus.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"), "text"
    )
    newbatch = (
        d.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
        .unionByName(planted)
    )
    out = bloom_anti_join(
        newbatch, corpus, "doc_id", "text",
        num_shards=32, bits_per_shard=1 << 20, num_hashes=6,
    )
    return out.select(F.col("id").alias("doc_id"), "content_key")


def _q_decontam(spark, sf_dir):
    """Test-set decontamination: contamination fraction of every document
    against a deterministic 5% 'benchmark' slice (doc_id % 20 == 0) of the
    same table — exact n-gram containment, so the DuckDB string-n-gram
    oracle matches bit-for-bit (hashed grams are injective mod 64-bit
    collisions, same argument as the Jaccard oracles)."""
    from rust_gd_spark.operators import decontam

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 20 == 0)
    out = decontam.ngram_containment(
        docs, ref, "doc_id", "text", ref_text_col="text",
        n=SHINGLE_W, threshold=0.5,
    )
    return out.select(
        "id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_contaminated").cast("long").alias("n_contaminated"),
        "contamination_frac",
        "is_contaminated",
    )


# planted low-quality stratum for the classifier query (the drop branch)
_QM_SOUP = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"


def _q_quality_classifier(spark, sf_dir):
    """Model-based quality filtering (`functions/quality_model.py`):
    linear-classifier serving path — fixed offline-trained weights over
    four codegen features, gate decided on the exact-arithmetic logit.
    Zero shuffles, zero Python; the DuckDB twin is generated from the
    same weight constants. The synthetic corpus is uniformly prose-like
    (every row keeps), so the query replaces a fixed doc_id stratum with
    punctuation soup — the SAME expression in the oracle SQL — so the
    drop branch of the gate is actually exercised."""
    from rust_gd_spark.functions.quality_model import (
        quality_keep, quality_logit, quality_prob,
    )

    t = F.col("text")
    return _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") % 9 == 0, F.lit(_QM_SOUP)).otherwise(t),
    ).select(
        "doc_id",
        F.round(quality_logit(t), 6).alias("logit"),
        F.round(quality_prob(t), 6).alias("prob"),
        quality_keep(t).alias("keep"),
    )


def _q_decontam_fuzzy(spark, sf_dir):
    """Fuzzy decontamination (`decontam.minhash_decontam`): whole-document
    shingle-Jaccard vs the same deterministic 5% benchmark slice, MinHash/
    LSH candidate generation + exact verify. The DuckDB oracle computes
    the exact cross-table Jaccard; the equality is sound for the same
    fixture-margin reason as `minhash_lsh_pairs` (every qualifying pair
    at sf0.01 sits at J >= 0.875 or J = 1, so a 32x4-band miss is
    astronomically unlikely), and the per-document rollup is exact set
    arithmetic on both sides."""
    from rust_gd_spark.operators.decontam import minhash_decontam

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 20 == 0).select("text")
    out, _audit = minhash_decontam(
        docs, ref, "doc_id", "text",
        w=SHINGLE_W, threshold=JACCARD_T,
    )
    return out


def _q_ngram_topk(spark, sf_dir):
    """Corpus n-gram audit (`operators/ngrams.py`): top-50 word bigrams
    by document frequency, ties broken by gram ascending — a total
    order, so the selected set matches the oracle's LIMIT exactly.
    Distinct-per-doc → partial-agg count → TakeOrderedAndProject."""
    from rust_gd_spark.operators.ngrams import top_ngrams

    # dense width: the bigram explode + distinct is per-row-dense JVM
    # work over the scan (measured ~1.8× faster at the finer width)
    return top_ngrams(_docs_dense(spark, sf_dir), "doc_id", "text", w=2, k=50)


def _q_soft_dedup_weights(spark, sf_dir):
    """Soft dedup (`operators/softdedup.py`): per-document sampling
    weight = 1/|near-dup cluster| over the same oracle-shaped pipeline
    config as `transcript_clusters` — keep everything, downweight
    duplicates so each cluster contributes one document of expected
    mass. One narrow agg+join past the clustering."""
    from rust_gd_spark.operators.softdedup import soft_dedup_weights
    from rust_gd_spark.pipeline import (
        DedupConfig, canonical_clusters, near_dup_pipeline, with_turn_uid,
    )

    tr = with_turn_uid(_transcripts_from_docs(spark, sf_dir))
    res = near_dup_pipeline(
        tr, "uid", "text",
        DedupConfig(
            jaccard_threshold=0.5, min_substring_len=120,
            enable_simhash=False, neighbor_window=None,
        ),
    )
    return soft_dedup_weights(
        canonical_clusters(res.clusters), "id", "cluster_id"
    )


def _q_soft_dedup_sample(spark, sf_dir):
    """The consumer of soft-dedup weights (`operators/sampling.py`
    `weighted_sample`): per-row deterministic Bernoulli(weight) keyed on
    the doc id, so each near-dup cluster contributes ~one document of
    expected mass. Pure codegen'd filter past the weights — decision is
    a function of (id, seed, weight), bit-identical in the SQL twin."""
    from rust_gd_spark.operators.sampling import weighted_sample

    return weighted_sample(
        _q_soft_dedup_weights(spark, sf_dir), "id", "weight", seed=7
    )


def _q_text_stats(spark, sf_dir):
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        ts.token_count(t).alias("token_cnt"),
        ts.bpe_ish_token_count(t).alias("bpe_cnt"),
        F.round(ts.punct_ratio(t), 6).alias("punct_ratio"),
        F.round(ts.stopword_ratio(t), 6).alias("stopword_ratio"),
        F.round(ts.mean_word_len(t), 6).alias("mean_word_len"),
    )


def _q_quality_lang(spark, sf_dir):
    t = F.col("text")
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.round(ts.quality_score(t), 6).alias("quality"),
        ts.lang_id(t).alias("lang_guess"),
        ts.doc_fingerprint(t).alias("fingerprint"),
    )


def _q_pii_redaction(spark, sf_dir):
    """PII scrub pass: typed span counts + redacted text, all JVM
    ``regexp_*`` codegen over the scan — zero shuffles, the trivially
    100 TB-parallel shape. Oracle runs the SAME pattern constants
    through the `functions/pii.py` SQL templates."""
    from rust_gd_spark.functions import pii

    return pii.pii_columns(_docs(spark, sf_dir), "doc_id", "text")


# mixture spec for the stratified-sampling driver query: strata are
# doc_id % 3 (a deterministic stand-in for a source/quality bucket)
_MIX_FRACTIONS = {"0": 0.9, "1": 0.25, "2": 0.05}

# mixture-planner driver query: target shares over the documents table's
# real source strata, sized in characters against a fixed budget. The
# unlisted 16 sources plan to fraction 0 — the down-weight-to-zero case.
_PLAN_WEIGHTS = {"src0": 0.4, "src1": 0.3, "src2": 0.2, "src3": 0.1}
_PLAN_BUDGET = 10_000


def _q_mixture_plan(spark, sf_dir):
    """Corpus-mixing planner (`operators/sampling.py: mixture_plan`,
    Pile/DoReMi-style static mixture): per-stratum actual size, target
    size = weight*budget, keep fraction = min(1, target/actual) at 6 dp.
    One partial-agg shuffle of #strata rows; the output feeds
    `stratified_sample` (already a driver query) unchanged."""
    from rust_gd_spark.operators.sampling import mixture_plan

    return mixture_plan(
        _docs(spark, sf_dir), "source", _PLAN_WEIGHTS, _PLAN_BUDGET, "n_chars"
    )


def _q_stratified_sample(spark, sf_dir):
    """Deterministic corpus mixing: per-stratum md5-threshold sampling
    (`operators/sampling.py`) — partition-invariant, monotone in the
    fraction, one codegen predicate over the scan. df.sample() cannot be
    oracle-checked (per-partition seeding); this can, bit-for-bit."""
    from rust_gd_spark.operators.sampling import stratified_sample

    d = _docs(spark, sf_dir).withColumn(
        "src", (F.col("doc_id") % 3).cast("string")
    )
    return stratified_sample(
        d, "doc_id", "src", _MIX_FRACTIONS, default_fraction=0.0
    ).select("doc_id", "src")


def _q_doc_repetition(spark, sf_dir):
    """Gopher-style within-document repetition gates (Rae et al. 2021):
    duplicate-line fractions + top-2-gram character coverage, joined on
    doc id. Two partial-agg shuffle pairs + one per-doc window — all
    relational, no Python."""
    from rust_gd_spark.operators.repetition import (
        dup_line_stats,
        top_bigram_stats,
    )

    d = _docs(spark, sf_dir)
    lines = dup_line_stats(d, "doc_id", "text")
    grams = top_bigram_stats(d, "doc_id", "text")
    return lines.join(grams, "id", "full").select(
        "id",
        "n_lines",
        "dup_line_frac",
        "dup_line_char_frac",
        "n_tokens",
        "top_bigram_count",
        "top_bigram_char_frac",
    )


# planted boilerplate for the corpus-level line-removal query: the
# synthetic documents are single-line and line-unique across docs
# (measured at sf0.01), so the query appends deterministic footers to
# fixed doc_id strata — the SAME expression in Spark and in the oracle
# SQL — so removal, blank-line preservation, and reassembly are all
# actually exercised.
_BP_FOOTER1 = "Subscribe to our newsletter today!"
_BP_FOOTER2 = "All rights reserved."


def _q_boilerplate_lines(spark, sf_dir):
    """Corpus-level boilerplate line removal (CCNet 4.1 / RefinedWeb
    line-dedup, `operators/boilerplate.py`): drop lines recurring in
    >= 2 distinct documents, reassemble survivors in order. Three
    minimal shuffles (partial-agg line counts, AQE-decided common-line
    join, per-doc reassembly), all codegen."""
    from rust_gd_spark.operators.boilerplate import boilerplate_lines

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\n" + _BP_FOOTER1))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit("\n\n" + _BP_FOOTER2))
            .otherwise(F.lit("")),
        ),
    )
    return boilerplate_lines(d, "doc_id", "text", min_docs=2)


def _q_c4_clean(spark, sf_dir):
    """C4-style heuristic line filtering (Raffel et al. 2020 Sec. 2.2,
    `functions/c4.py`): terminal-punctuation + min-word line rules, bad
    -marker veto (lorem ipsum / { / javascript), per-doc keep decision.
    Zero shuffles — pure codegen over the scan. The synthetic corpus is
    unpunctuated word-salad, so the query plants a terminal period on
    doc_id%3 strata and a 'lorem ipsum.' suffix on doc_id%11 strata
    (same expression in the oracle SQL) so every rule actually fires;
    single-line corpus -> min_kept_lines=1."""
    from rust_gd_spark.functions.c4 import c4_line_filter

    d = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0, F.concat("text", F.lit(" lorem ipsum."))
        )
        .when(F.col("doc_id") % 3 == 0, F.concat("text", F.lit(".")))
        .otherwise(F.col("text")),
    )
    return c4_line_filter(d, "doc_id", "text", min_words=5, min_kept_lines=1)


PACK_CAPACITY = 2048
PACK_SHARDS = 8


def _q_sequence_packing(spark, sf_dir):
    """Context-window packing plan: greedy next-fit of documents into
    `PACK_CAPACITY`-token sequences, sharded by doc_id % PACK_SHARDS
    (`operators/packing.py`). One shuffle + an Arrow-batched per-shard
    kernel whose Python loop is O(#sequences) searchsorted steps; the
    DuckDB oracle replays the same discipline as a linear recursive
    CTE."""
    from rust_gd_spark.functions.textstats import token_count
    from rust_gd_spark.operators.packing import pack_sequences

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    return pack_sequences(
        d, "doc_id", "n_tok", capacity=PACK_CAPACITY, n_shards=PACK_SHARDS
    )


CHUNK_SIZE = 32
CHUNK_STRIDE = 24
TFIDF_K = 3
EXACT_K = 7
RANGE_DELTA_US = 30 * 60 * 1_000_000  # ±30 min band
MIX_WEIGHTS = {"0": 0.45, "1": 0.30, "2": 0.20, "3": 0.05}
MIX_BUDGET = 200
DSIR_BUCKETS = 4096
CDC_DIVISOR = 8  # expected CDC chunk length in tokens (docs avg ~45 tokens)
CDC_GRAM = 2
SHUFFLE_SHARDS = 8
SHUFFLE_SEED = 7


def _q_doc_chunks(spark, sf_dir):
    """Sliding-window context chunking (`operators/chunking.py`): size-32
    token windows every 24 tokens — zero shuffles, pure Catalyst array
    expressions; empty docs yield one empty chunk (the reference
    chunker's zero-length rule, `src/gd_byte_unit.rs:44-49`)."""
    from rust_gd_spark.operators.chunking import chunk_by_tokens

    return chunk_by_tokens(
        _docs(spark, sf_dir), "doc_id", "text",
        size=CHUNK_SIZE, stride=CHUNK_STRIDE,
    ).select(
        F.col("id").alias("doc_id"), "chunk_idx", "chunk_text", "chunk_tokens"
    )


def _q_snapshot_diff(spark, sf_dir):
    """Incremental-corpus snapshot diff (`operators/snapshot.py`): both
    snapshots derived deterministically from `documents` — old drops
    doc_id % 11 == 3 (those become `added`), new drops doc_id % 13 == 5
    (`removed`) and appends an edit marker on doc_id % 7 == 2
    (`changed`). One narrow full-outer join on id."""
    from rust_gd_spark.operators.snapshot import snapshot_diff

    d = _docs(spark, sf_dir)
    old = d.filter(F.col("doc_id") % 11 != 3)
    new = d.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 2, F.concat(F.coalesce("text", F.lit("")), F.lit(" [edit]"))
        ).otherwise(F.col("text")),
    )
    return snapshot_diff(old, new, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "status", "old_key", "new_key"
    )


def _q_tfidf_topk(spark, sf_dir):
    """Per-document TF-IDF top-k keywords (`operators/tfidf.py`): two
    partial-agg shuffles over the exploded token stream + a broadcast
    1-row N + WindowGroupLimit top-k; score = tf·ln(N/df) at 6 dp with a
    total-order tie-break."""
    from rust_gd_spark.operators.tfidf import tfidf_topk

    return tfidf_topk(_docs(spark, sf_dir), "doc_id", "text", k=TFIDF_K).select(
        F.col("id").alias("doc_id"), "term", "tf", "doc_freq", "score"
    )


def _q_exact_k_sample(spark, sf_dir):
    """Fixed-size per-stratum sample (`operators/sampling.py
    exact_k_sample`): exactly k docs per source by md5-digest rank —
    deterministic across retries/partitioning/engines; the row_number
    filter compiles to WindowGroupLimit so map tasks pre-select."""
    from rust_gd_spark.operators.sampling import exact_k_sample

    return exact_k_sample(
        _docs(spark, sf_dir), "doc_id", "source", k=EXACT_K
    ).select("doc_id", "source")


def _q_unigram_xent(spark, sf_dir):
    """CCNet-style unigram LM cross-entropy per document
    (`operators/lm.py`): two partial-agg shuffles over the exploded
    token stream (the (id, term) exchange is reused between tf and the
    corpus counts), broadcast 1-row token total, per-doc rollup — no
    Python, no window. Score = -(1/|d|)·Σ tf·ln(ct/T) at 6 dp."""
    from rust_gd_spark.operators.lm import unigram_xent

    return unigram_xent(_docs(spark, sf_dir), "doc_id", "text").select(
        F.col("id").alias("doc_id"), "n_tokens", "xent"
    )


def _q_dsir_weights(spark, sf_dir):
    """DSIR hashed-bigram importance log-weights (`operators/dsir.py`,
    Xie et al. NeurIPS'23): bigrams via one narrow window-lead shuffle
    (all codegen), bucket = 52-bit md5 prefix mod B (the engine-parity
    trick `weighted_sample` pins), B-row smoothed log-ratio table
    broadcast onto the per-doc bucket counts. Target = the doc_id%17
    slice — a deterministic 'domain' whose vocabulary skews the
    weights; zero-bigram docs keep logw = 0."""
    from rust_gd_spark.operators.dsir import dsir_logweights

    d = _docs(spark, sf_dir)
    target = d.filter(F.col("doc_id") % 17 == 0)
    return dsir_logweights(
        d, target, "doc_id", "text", n_buckets=DSIR_BUCKETS
    ).select(F.col("id").alias("doc_id"), "n_ngrams", "logw")


def _q_corpus_profile(spark, sf_dir):
    """Per-source corpus profile — the first query a data engineer runs
    on a new corpus: doc counts, exact distinct-content counts (the
    dedup upper bound), token volume, mean length. All integer-exact
    arithmetic (token/char sums are int64, division last), one
    two-phase distinct agg on the narrow (source, md5) pairs. At 100 TB
    the exact distinct becomes `approx_count_distinct` (HLL++, one pass,
    no second exchange) — the swap is pinned within 5% by pytest, while
    the oracle row checks the exact form bit-for-bit."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct(
                F.md5(F.coalesce(F.col("text"), F.lit("")))
            ).alias("n_distinct_texts"),
            F.sum(ts.token_count(F.col("text")).cast("long")).alias(
                "total_tokens"
            ),
            F.sum("n_chars").alias("total_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_distinct_texts",
            "total_tokens",
            F.round(F.col("total_chars") / F.col("n_docs"), 6).alias(
                "avg_chars"
            ),
        )
    )


def _q_xent_mixture_sample(spark, sf_dir):
    """Quality-aware corpus mixing, end to end in one query: unigram-LM
    cross-entropy (`operators/lm.py`) → 4 equal-width xent bands between
    the broadcast corpus min/max (NO global sort — ntile would serialize
    at 100 TB) → `mixture_plan` fractions for a 0.45/0.30/0.20/0.05
    target over a fixed budget → `weighted_sample` keep decision (52-bit
    md5, bit-identical across engines). The composite shows the quality
    → plan → sample chain the individual oracled operators feed."""
    from rust_gd_spark.operators.lm import unigram_xent
    from rust_gd_spark.operators.sampling import mixture_plan, weighted_sample

    d = _docs(spark, sf_dir)
    x = unigram_xent(d, "doc_id", "text").select("id", "xent")
    mm = x.agg(F.min("xent").alias("lo"), F.max("xent").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 4
    b = (
        x.crossJoin(F.broadcast(mm))
        .withColumn(
            "bucket",
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(3),
                    F.floor((F.col("xent") - F.col("lo")) / width),
                )
            )
            .cast("int"),
        )
        .select("id", "xent", "bucket", F.lit(1).alias("one"))
    )
    plan = mixture_plan(
        b, "bucket", weights=MIX_WEIGHTS, budget=MIX_BUDGET, size_col="one"
    ).select(F.col("stratum"), "fraction")
    joined = b.withColumn("stratum", F.col("bucket").cast("string")).join(
        F.broadcast(plan), "stratum"
    )
    return weighted_sample(joined, "id", "fraction").select(
        F.col("id").alias("doc_id"), "bucket", "xent", "fraction"
    )


def _q_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (`operators/cdc.py`): variable-size token
    chunks cut where the 52-bit md5 of the trailing 2-gram ≡ 0 (mod 8) —
    boundaries move with the content, so an insertion perturbs one chunk
    instead of shifting every later one (the failure mode of the
    reference's fixed chunker, `src/gd_byte_unit.rs:42-65`). Zero
    shuffles: all Catalyst array expressions over the scan."""
    from rust_gd_spark.operators.cdc import cdc_chunks

    # scan-terminal (no downstream shuffle): oversubscribe the dense cap
    return cdc_chunks(
        _docs_dense(spark, sf_dir, cap_factor=4), "doc_id", "text",
        divisor=CDC_DIVISOR, gram=CDC_GRAM,
    ).select(
        F.col("id").alias("doc_id"),
        "chunk_idx", "chunk_text", "chunk_tokens", "chunk_hash",
    )


def _q_cdc_chunk_store(spark, sf_dir):
    """The corpus chunk dictionary over the CDC chunks (`operators/
    cdc.py`): per distinct chunk, copies/doc counts and the canonical
    first occurrence via a single min(id·10⁹+idx) integer total order —
    Spark's two-phase distinct agg (two narrow exchanges, plan-pinned),
    the GD dictionary (`src/dict.rs:38-63`) as a relational rollup."""
    from rust_gd_spark.operators.cdc import cdc_chunk_store, cdc_chunks

    c = cdc_chunks(
        _docs_dense(spark, sf_dir), "doc_id", "text",
        divisor=CDC_DIVISOR, gram=CDC_GRAM,
    )
    return cdc_chunk_store(c).select(
        "chunk_hash", "n_copies", "n_docs", "chunk_tokens",
        "first_id", "first_chunk_idx",
    )


def _q_cdc_delta(spark, sf_dir):
    """Cross-snapshot delta storage (`operators/cdc.py cdc_delta`): per
    new-snapshot document, how many of its CDC chunks the OLD snapshot's
    chunk store already holds (only id references needed) vs genuinely
    new — the reference's cross-block dictionary reuse
    (`examples/main.rs:36-61`) lifted to corpus versions; the storage
    complement of `snapshot_diff`'s row classification (same old/new
    derivation: old drops doc_id % 11 == 3, new drops % 13 == 5 and
    edits % 7 == 2). Content-defined cuts make the edited docs mostly
    reused — exactly what fixed-offset chunking would destroy."""
    from rust_gd_spark.operators.cdc import cdc_chunks, cdc_delta

    d = _docs_dense(spark, sf_dir)
    old = d.filter(F.col("doc_id") % 11 != 3)
    new = d.filter(F.col("doc_id") % 13 != 5).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 2,
            F.concat(F.coalesce("text", F.lit("")), F.lit(" [edit]")),
        ).otherwise(F.col("text")),
    )
    kw = dict(divisor=CDC_DIVISOR, gram=CDC_GRAM)
    return cdc_delta(
        cdc_chunks(new, "doc_id", "text", **kw),
        cdc_chunks(old, "doc_id", "text", **kw),
    ).select(
        F.col("id").alias("doc_id"),
        "n_chunks", "n_reused", "n_new", "reused_tokens", "new_tokens",
    )


def _q_training_shuffle(spark, sf_dir):
    """Deterministic global shuffle into shards (`operators/sampling.py
    training_shuffle`): shard = 52-bit md5 % n, pos = within-shard digest
    rank — the pretraining example-order randomization, reproducible
    across retries/partitioning/engines. One shuffle on the balanced
    shard key; no global total order anywhere."""
    from rust_gd_spark.operators.sampling import training_shuffle

    d = _docs(spark, sf_dir).select("doc_id")
    return training_shuffle(
        d, "doc_id", n_shards=SHUFFLE_SHARDS, seed=SHUFFLE_SEED
    ).select("doc_id", "shard", "pos")


def _q_dedup_metrics(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct(F.md5("text")).alias("n_distinct"),
        F.round(1.0 - F.countDistinct(F.md5("text")) / F.count("*"), 6).alias("dup_fraction"),
    )


def _q_embedding_topk(spark, sf_dir):
    """Exact top-k, broadcast form: reference side is size-guarded
    (raises above max_ref_rows) and shipped via sparkContext.broadcast.
    Right when one side fits an executor; `embedding_topk_blocked` is the
    no-collect distributed form for corpus×corpus."""
    from rust_gd_spark.operators.embedding import cosine_topk_bruteforce
    from rust_gd_spark.session import ensure_min_partitions

    e = ensure_min_partitions(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return cosine_topk_bruteforce(e, "vec_id", "embedding", k=TOPK).select(
        F.col("id").alias("vec_id"), "neighbor_id", "cosine", "rank"
    )


def _q_embedding_topk_ivf(spark, sf_dir):
    """IVF-flat top-k with EXHAUSTIVE probing (n_probe = n_centroids):
    every cell is scanned, so the result is exact and the brute-force
    DuckDB oracle applies bit-for-bit — this pins the whole IVF plumbing
    (deterministic k-means train, cell assignment, home-cell join, slim
    verify, ranked window). The pruned regime (n_probe < n_centroids) is
    `embedding_topk_ivf_pruned` (rows-only driver check; recall pinned in
    tests/test_embedding.py)."""
    from rust_gd_spark.operators.embedding import cosine_topk_ivf
    from rust_gd_spark.session import ensure_min_partitions

    e = ensure_min_partitions(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return cosine_topk_ivf(
        e, "vec_id", "embedding", k=TOPK, n_centroids=16, n_probe=16
    ).select(F.col("id").alias("vec_id"), "neighbor_id", "cosine", "rank")


def _q_embedding_topk_ivf_pruned(spark, sf_dir):
    """The production IVF regime: n_probe=4 of 16 cells — each probe scans
    ~1/4 of the corpus. Approximate by design, hence rows-only in the
    driver; recall vs brute force is pinned in tests."""
    from rust_gd_spark.operators.embedding import cosine_topk_ivf
    from rust_gd_spark.session import ensure_min_partitions

    e = ensure_min_partitions(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return cosine_topk_ivf(
        e, "vec_id", "embedding", k=TOPK, n_centroids=16, n_probe=4
    ).select(F.col("id").alias("vec_id"), "neighbor_id", "cosine", "rank")


def _q_embedding_topk_ivf_pruned_recall(spark, sf_dir):
    """Hard signal for the PRUNED IVF path (approximate by design, so its
    neighbor list is rows-only): per-vector recall vs the exact top-k,
    both computed in-query. Hash-selected centroids + 6-dp-rounded cell
    assignment make the pruned side exactly reproducible in DuckDB, so
    the recall ROW gets a value-hash oracle even though the neighbor
    list itself cannot (reference analogue: asserted round-trip vs
    printed dedup rate, src/lib.rs:130 vs :131-135)."""
    from rust_gd_spark.operators.embedding import ivf_pruned_recall
    from rust_gd_spark.session import ensure_min_partitions

    e = ensure_min_partitions(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return ivf_pruned_recall(
        e, "vec_id", "embedding", k=TOPK, n_centroids=16, n_probe=4,
        block_rows=512,
    ).select(F.col("id").alias("vec_id"), "n_hits", "recall")


def _aug_conversations(spark, sf_dir):
    """Transcripts + PLANTED re-logged conversations (the in-query-plant
    pattern of `embedding_ann_highsim`; the synthetic corpus has no
    cross-conversation duplicate turns, verified by the inverted-index
    scout). Scale-proportional plants so thresholds are sf-invariant:

    * ``conv-XXXX-relog`` (conv % 5 == 0): every turn except
      ``turn_idx % 10 == 9`` — a 90% re-log, jaccard 0.9 / containment 1.
    * ``conv-XXXX-half`` (conv % 7 == 0): the even turns — jaccard 0.5 /
      containment 1; vs the relog of the same conv: jaccard 5/9.
    """
    tr = _transcripts_from_docs(spark, sf_dir).select(
        "conv_id", "turn_idx", "text"
    )
    num = F.substring("conv_id", 6, 4).cast("int")
    relog = tr.filter((num % 5 == 0) & (F.col("turn_idx") % 10 != 9)).select(
        F.concat("conv_id", F.lit("-relog")).alias("conv_id"), "turn_idx", "text"
    )
    half = tr.filter((num % 7 == 0) & (F.col("turn_idx") % 2 == 0)).select(
        F.concat("conv_id", F.lit("-half")).alias("conv_id"), "turn_idx", "text"
    )
    return tr.unionByName(relog).unionByName(half)


def _q_conversation_dups(spark, sf_dir):
    """Conversation-level (turn-SET) dedup pairs — the transcript-native
    granularity: re-logged / retried conversations found by exact turn
    overlap, order-insensitive. Exact config (df_cap=None) so the DuckDB
    inverted-index twin is bit-for-bit."""
    from rust_gd_spark.operators.convdedup import conversation_dup_pairs

    return conversation_dup_pairs(
        _aug_conversations(spark, sf_dir),
        threshold=0.5,
        measure="jaccard",
    )


def _q_conversation_dup_clusters(spark, sf_dir):
    """Connected components over the conversation-dup pair graph;
    cluster label = min member conv_id (canonical form, reproducible by
    the oracle's recursive-CTE closure). small_graph_rows=0 pins the
    distributed fixpoint."""
    from rust_gd_spark.operators.convdedup import conversation_dup_clusters
    from rust_gd_spark.pipeline import canonical_clusters

    cl = conversation_dup_clusters(
        _aug_conversations(spark, sf_dir),
        threshold=0.5,
        measure="jaccard",
        small_graph_rows=0,
    )
    return canonical_clusters(
        cl.select(F.col("conv").alias("id"), "cluster_id")
    ).select(F.col("id").alias("conv"), "cluster_id")


def _aug_retry_turns(spark, sf_dir):
    """Transcripts + PLANTED consecutive-duplicate turns (the synthetic
    corpus has no adjacent repeats — every turn is a distinct document).
    Base turns sit at ``turn_idx*3`` so plants slot between them;
    conditions are disjoint by ``num % 3``:

    * ``num % 3 == 0``, ``tid % 4 == 1``: one retry copy (run of 2);
    * ``num % 3 == 1``, ``tid % 5 == 2``: two copies (run of 3 — a loop).
    """
    tr = _transcripts_from_docs(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    num = F.substring("conv_id", 6, 4).cast("int")
    base = tr.select(
        "conv_id", (F.col("turn_idx") * 3).alias("turn_idx"), "role", "text"
    )
    retry = tr.filter((num % 3 == 0) & (F.col("turn_idx") % 4 == 1)).select(
        "conv_id", (F.col("turn_idx") * 3 + 1).alias("turn_idx"), "role", "text"
    )
    loop2 = tr.filter((num % 3 == 1) & (F.col("turn_idx") % 5 == 2))
    loop_a = loop2.select(
        "conv_id", (F.col("turn_idx") * 3 + 1).alias("turn_idx"), "role", "text"
    )
    loop_b = loop2.select(
        "conv_id", (F.col("turn_idx") * 3 + 2).alias("turn_idx"), "role", "text"
    )
    return base.unionByName(retry).unionByName(loop_a).unionByName(loop_b)


def _q_turn_retry_collapse(spark, sf_dir):
    """Consecutive-duplicate turn removal (retry/stutter collapse) with
    dense re-indexing — `operators/turns.py` `collapse_retry_turns`."""
    from rust_gd_spark.operators.turns import collapse_retry_turns

    return collapse_retry_turns(_aug_retry_turns(spark, sf_dir))


def _q_turn_loop_stats(spark, sf_dir):
    """Per-conversation agent-loop statistics (max consecutive-repeat
    run, loop-turn fraction) — `operators/turns.py` `turn_loop_stats`."""
    from rust_gd_spark.operators.turns import turn_loop_stats

    return turn_loop_stats(_aug_retry_turns(spark, sf_dir), min_run=2)


def _aug_prefix_conversations(spark, sf_dir):
    """Transcripts + PLANTED prefix duplicates: ``-copy`` (num % 6 == 0)
    re-logs the whole conversation (equal sequence — tie rule picks the
    copy as dup); ``-fork`` (num % 4 == 0) keeps the first 5 turns (a
    strict prefix wherever conversations run longer than 5 turns)."""
    tr = _transcripts_from_docs(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    num = F.substring("conv_id", 6, 4).cast("int")
    copy = tr.filter(num % 6 == 0).select(
        F.concat("conv_id", F.lit("-copy")).alias("conv_id"),
        "turn_idx", "role", "text",
    )
    fork = tr.filter((num % 4 == 0) & (F.col("turn_idx") < 5)).select(
        F.concat("conv_id", F.lit("-fork")).alias("conv_id"),
        "turn_idx", "role", "text",
    )
    return tr.unionByName(copy).unionByName(fork)


def _q_prefix_dup_conversations(spark, sf_dir):
    """Forked / re-logged session detection: conversations whose entire
    turn sequence prefixes another's — `operators/turns.py`
    `prefix_dup_conversations` (chained md5 prefix hashes, one
    equi-join)."""
    from rust_gd_spark.operators.turns import prefix_dup_conversations

    return prefix_dup_conversations(_aug_prefix_conversations(spark, sf_dir))


def _aug_tool_rerun_conversations(spark, sf_dir):
    """Transcripts + PLANTED tool-output-variant re-runs (agent sessions
    re-executed against live tools differ only in tool-turn text). Two
    disjoint plants per ``num % 4``:

    * ``-rerun`` (num % 4 == 1): tool-role turns get deterministic
      request-id noise appended — a tool-masked dup of the base, NOT an
      exact dup;
    * ``-edit`` (num % 4 == 2): USER-role turns edited — must NOT group
      with the base (the mask only forgives tool output).
    """
    tr = _transcripts_from_docs(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text", "tool"
    )
    num = F.substring("conv_id", 6, 4).cast("int")
    rerun = tr.filter(num % 4 == 1).select(
        F.concat("conv_id", F.lit("-rerun")).alias("conv_id"),
        "turn_idx",
        "role",
        F.when(
            F.col("role") == "tool",
            F.concat(F.col("text"), F.lit(" req="), F.col("turn_idx").cast("string")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
        "tool",
    )
    edit = tr.filter(num % 4 == 2).select(
        F.concat("conv_id", F.lit("-edit")).alias("conv_id"),
        "turn_idx",
        "role",
        F.when(F.col("role") == "user", F.concat(F.col("text"), F.lit(" v2")))
        .otherwise(F.col("text"))
        .alias("text"),
        "tool",
    )
    return tr.unionByName(rerun).unionByName(edit)


def _q_tool_masked_dups(spark, sf_dir):
    """Tool-masked conversation dedup: re-runs identical modulo
    nondeterministic tool-turn output group together —
    `operators/convdedup.py` `tool_masked_dup_groups` (one partial-agg
    shuffle + the exactdup agg-join shape)."""
    from rust_gd_spark.operators.convdedup import tool_masked_dup_groups

    return tool_masked_dup_groups(_aug_tool_rerun_conversations(spark, sf_dir))


# shared 3/4-turn scripted openings planted into the transcript fixture —
# module-level so the Spark aug and the DuckDB twin read ONE definition.
_OPENING_A = [
    ("user", "Hi, I need some help."),
    ("assistant", "Hello! How can I help you today?"),
    ("user", "Let me explain my issue."),
    ("assistant", "Of course, go ahead."),
]
_OPENING_B = [
    ("user", "Start diagnostics."),
    ("assistant", "Running the standard checklist now."),
    ("tool", "checklist: ok"),
]
_OPENING_C = [
    ("assistant", "Escalating to a human agent."),
    ("user", "Thank you."),
    ("assistant", "You are welcome. A specialist will join shortly."),
]
_CANNED_1 = "I'm sorry, I can't help with that request."
# messy-case/whitespace variant of _CANNED_1 — normalizes to the same key
_CANNED_1_MESSY = "I'M SORRY,  I can't help with that REQUEST."
_CANNED_2 = "Please hold while I check the records."


def _plant_turns(convs, pred, opening, base_idx):
    """Rows (conv_id, base_idx+i, role_i, text_i) for convs matching pred."""
    sel = convs.filter(pred)
    out = None
    for i, (role, text) in enumerate(opening):
        part = sel.select(
            "conv_id",
            F.lit(base_idx + i).cast("int").alias("turn_idx"),
            F.lit(role).alias("role"),
            F.lit(text).alias("text"),
        )
        out = part if out is None else out.unionByName(part)
    return out


def _aug_template_conversations(spark, sf_dir):
    """Transcripts + PLANTED multi-turn templates: conversations with
    ``num % 5 == 0`` share scripted 4-turn opening A (turn_idx -4..-1 —
    k=3 sliding windows yield TWO shared templates from it), ``num % 5
    == 1`` share 3-turn opening B, ``num % 3 == 0`` share mid-dialog
    span C at 500..502; the ``num % 10 == 0`` subset RE-LOGS opening A
    at the tail (1000..1003) so template A shows n_occurrences >
    n_convs. Windows straddling a plant/base boundary contain a
    per-conversation-unique real turn, so they never group."""
    tr = _transcripts_from_docs(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    convs = tr.select("conv_id").distinct()
    num = F.substring("conv_id", 6, 4).cast("int")
    aug = tr
    for pred, opening, base in (
        (num % 5 == 0, _OPENING_A, -4),
        (num % 5 == 1, _OPENING_B, -3),
        (num % 3 == 0, _OPENING_C, 500),
        (num % 10 == 0, _OPENING_A, 1000),
    ):
        aug = aug.unionByName(_plant_turns(convs, pred, opening, base))
    return aug


def _q_turn_template_spans(spark, sf_dir):
    """Cross-conversation k-turn template detection: the same k
    CONSECUTIVE turns appearing in many conversations (scripted
    openings, wizard flows) — `operators/templates.py`
    `turn_template_spans` (one window shuffle + one partial-agg
    shuffle on the md5 window chain)."""
    from rust_gd_spark.operators.templates import turn_template_spans

    return turn_template_spans(
        _aug_template_conversations(spark, sf_dir), k=3, min_convs=2
    )


def _aug_canned_conversations(spark, sf_dir):
    """Transcripts + PLANTED canned assistant replies: ``num % 4 == 0``
    logs _CANNED_1 verbatim at turn 2000; ``num % 2 == 0`` logs its
    messy-case/double-space variant at 2001 (normalization must merge
    the two forms into ONE key); ``num % 7 == 0`` logs _CANNED_2 at
    2002 AND 2003 (within-conversation repeat: n_uses > n_convs).
    Natural assistant turns carry unique document text and fall below
    min_count."""
    tr = _transcripts_from_docs(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    convs = tr.select("conv_id").distinct()
    num = F.substring("conv_id", 6, 4).cast("int")
    aug = tr
    for pred, text, idx in (
        (num % 4 == 0, _CANNED_1, 2000),
        (num % 2 == 0, _CANNED_1_MESSY, 2001),
        (num % 7 == 0, _CANNED_2, 2002),
        (num % 7 == 0, _CANNED_2, 2003),
    ):
        aug = aug.unionByName(_plant_turns(convs, pred, [("assistant", text)], idx))
    return aug


def _q_template_span_removal(spark, sf_dir):
    """REWRITE step for template detection: every conversation except
    the exemplar loses its scripted-opening turns, unique content
    survives, survivors re-index densely — `operators/templates.py`
    `remove_template_turns` (the cdc_dedup_rewrite keep-first rule at
    turn granularity)."""
    from rust_gd_spark.operators.templates import remove_template_turns

    return remove_template_turns(
        _aug_template_conversations(spark, sf_dir), k=3, min_convs=2
    )


def _q_canned_response_dups(spark, sf_dir):
    """Canned-response detection: one assistant turn's normalized text
    recurring across conversations (template answers, refusal
    boilerplate) — `operators/templates.py` `canned_response_dups`
    (one partial+final HashAggregate on the normalized-text md5, the
    exactdup shape)."""
    from rust_gd_spark.operators.templates import canned_response_dups

    return canned_response_dups(
        _aug_canned_conversations(spark, sf_dir), min_count=2
    )


def _q_cluster_quality_audit(spark, sf_dir):
    """Cluster cohesion audit: per-cluster pairwise EXACT Jaccard
    min/max + weak-link (transitive-glue) pair counts over the
    oracle-shaped pipeline's clusters — `operators/audit.py`
    `cluster_quality_audit`. The operational complement of the
    dup-pair-recall criterion: recall says every true pair was found,
    this says what the transitive closure glued."""
    from rust_gd_spark.operators.audit import cluster_quality_audit
    from rust_gd_spark.pipeline import (
        DedupConfig, canonical_clusters, near_dup_pipeline, with_turn_uid,
    )

    tr = with_turn_uid(_transcripts_from_docs(spark, sf_dir))
    res = near_dup_pipeline(
        tr, "uid", "text",
        DedupConfig(
            jaccard_threshold=JACCARD_T, min_substring_len=120,
            enable_simhash=False, neighbor_window=None,
        ),
    )
    clusters = canonical_clusters(res.clusters).select(
        F.col("id").alias("uid"), "cluster_id"
    )
    return cluster_quality_audit(
        clusters, res.source.withColumnRenamed("id", "uid"),
        id_col="uid", cluster_col="cluster_id", text_col="text",
        w=SHINGLE_W, weak_threshold=JACCARD_T,
    )


_RECRAWL_EPOCH = 1767225600  # 2026-01-01 00:00:00 UTC


def _aug_recrawl_docs(spark, sf_dir):
    """Documents + deterministic capture times + PLANTED recrawls:
    every doc gets ts = 2026-01-01 + (doc_id % 7) days; ``doc_id % 10
    == 0`` docs are re-crawled later (id + 90000000, ts shifted by
    (doc_id % 30) + 1 days); ``doc_id % 15 == 0`` docs are re-logged
    at the SAME ts (id + 95000000 — the batch-export case where
    n_distinct_ts < n_crawls)."""
    d0 = _docs(spark, sf_dir).select(
        "doc_id", "text",
        F.timestamp_seconds(
            F.lit(_RECRAWL_EPOCH) + (F.col("doc_id") % 7) * 86400
        ).alias("ts"),
    )
    re1 = d0.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 90000000).alias("doc_id"), "text",
        F.timestamp_seconds(
            F.lit(_RECRAWL_EPOCH) + (F.col("doc_id") % 7) * 86400
            + ((F.col("doc_id") % 30) + 1) * 86400
        ).alias("ts"),
    )
    re2 = d0.filter(F.col("doc_id") % 15 == 0).select(
        (F.col("doc_id") + 95000000).alias("doc_id"), "text", "ts"
    )
    return d0.unionByName(re1).unionByName(re2)


def _q_recrawl_groups(spark, sf_dir):
    """Time-aware exact-dup canonicalization: keep the EARLIEST capture,
    report re-crawl cadence (n_crawls vs n_distinct_ts, age span) —
    `operators/recrawl.py` `recrawl_groups` (one partial-agg shuffle,
    min-of-struct canonical pick, never a per-key window)."""
    from rust_gd_spark.operators.recrawl import recrawl_groups

    return recrawl_groups(
        _aug_recrawl_docs(spark, sf_dir), "doc_id", "text", "ts",
        min_crawls=2,
    )


def _q_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty (inverse contamination): fraction of
    a document's distinct n-grams appearing NOWHERE else in the corpus
    — `operators/decontam.py` `ngram_novelty` (two partial-agg
    shuffles, df rides back on one hash equi-join)."""
    from rust_gd_spark.operators.decontam import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir), "doc_id", "text", n=SHINGLE_W)


def _aug_sessionized_transcripts(spark, sf_dir):
    """Transcripts + synthesized per-turn capture times with PLANTED
    inactivity gaps: ts = 2026-01-01 + turn_idx·60 s, plus a 2-hour
    jump at every 4th turn — so each conversation splits into sessions
    of exactly 4 turns under gap_sec=1800."""
    tr = _transcripts_from_docs(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    return tr.withColumn(
        "ts",
        F.timestamp_seconds(
            F.lit(_RECRAWL_EPOCH)
            + F.col("turn_idx") * 60
            + F.floor(F.col("turn_idx") / 4) * 7200
        ),
    )


def _q_conversation_sessions(spark, sf_dir):
    """Inactivity-gap sessionization: re-key conversations into sessions
    at gaps > 30 min so per-conversation dedup operators stop mixing
    unrelated interactions — `operators/turns.py` `split_sessions`
    (island encoding, one shuffle)."""
    from rust_gd_spark.operators.turns import split_sessions

    return split_sessions(
        _aug_sessionized_transcripts(spark, sf_dir),
        conv_col="conv_id", ts_col="ts", order_col="turn_idx",
        gap_sec=1800,
    )


def _q_quality_threshold_plan(spark, sf_dir):
    """Quality-gate threshold calibration for a 70% keep budget: the
    exact smallest 6-dp score threshold meeting the target —
    `operators/sampling.py` `quality_threshold_plan` (one partial-agg
    shuffle; the global window runs over distinct rounded scores, not
    the corpus)."""
    from rust_gd_spark.operators.sampling import quality_threshold_plan

    return quality_threshold_plan(
        _docs(spark, sf_dir), "text", target_keep_frac=0.7
    )


def _q_dedup_rate_by_source(spark, sf_dir):
    """Per-source exact-duplication rates (corpus governance: which feed
    ships duplicated content) — `operators/exactdup.py`
    `dedup_rate_by_source` (two partial-agg shuffles, no joins)."""
    from rust_gd_spark.operators.exactdup import dedup_rate_by_source

    return dedup_rate_by_source(_docs(spark, sf_dir), "doc_id", "text", "source")


def _q_jaccard_topk_neighbors(spark, sf_dir):
    """Per-document top-k nearest neighbors by exact w-shingle Jaccard
    (threshold-calibration / provenance-review surface) —
    `operators/minhash.py` `jaccard_topk_neighbors` (inverted-index
    pairs → symmetrize → WindowGroupLimit top-k, total-order
    tie-break)."""
    from rust_gd_spark.operators.minhash import jaccard_topk_neighbors

    return jaccard_topk_neighbors(
        _docs(spark, sf_dir), "doc_id", "text", w=SHINGLE_W, k=5,
        threshold=0.1,
    )


_GRADE_KS = (48, 24, 16, 12)
_SENS_GRID = (0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


def _aug_graded_docs(spark, sf_dir):
    """Documents + PLANTED graded-similarity variants: every
    ``doc_id % 5 == 0`` document reappears (id + 97000000) with every
    k-th raw-space token replaced by the literal ``qz``, k drawn from
    (48, 24, 16, 12) by ``(doc_id % 20) / 5`` — four similarity grades
    (w=5 shingle Jaccard ≈ 0.8 / 0.65 / 0.5 / 0.4) so the sensitivity
    grid has real structure to report. Construction happens on RAW
    space-split tokens (before shingle normalization) and is mirrored
    token-for-token by the DuckDB twin's 1-based indexed lambda."""
    d0 = _docs(spark, sf_dir).select("doc_id", "text")
    kcol = F.element_at(
        F.array(*[F.lit(k) for k in _GRADE_KS]),
        ((F.col("doc_id") % 20) / 5).cast("int") + 1,
    )
    toks = F.split(F.col("text"), " ")
    vtext = F.concat_ws(
        " ",
        F.transform(
            toks, lambda x, i: F.when(i % kcol == 0, F.lit("qz")).otherwise(x)
        ),
    )
    v = d0.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 97000000).alias("doc_id"), vtext.alias("text")
    )
    return d0.unionByName(v)


def _q_dup_threshold_sensitivity(spark, sf_dir):
    """Dedup-threshold sensitivity curve: per grid threshold, verified
    pairs and distinct documents surviving — `operators/sensitivity.py`
    `threshold_sensitivity` over the exact inverted-index pair list
    (the calibration-scale input; at 100 TB the input is the
    LSH-verified pair list with floor ≤ min(grid))."""
    from rust_gd_spark.operators.minhash import exact_jaccard_pairs
    from rust_gd_spark.operators.sensitivity import threshold_sensitivity

    pairs = exact_jaccard_pairs(
        _aug_graded_docs(spark, sf_dir), "doc_id", "text",
        w=SHINGLE_W, threshold=min(_SENS_GRID),
    )
    return threshold_sensitivity(pairs, _SENS_GRID)


def _q_dup_burst_windows(spark, sf_dir):
    """Temporal duplicate-burst monitoring: per ingestion hour, the
    corpus-wide-dup share vs the global share, integer-rational burst
    flag — `operators/recrawl.py` `dup_burst_windows` (two partial-agg
    shuffles + a co-partitioned key join-back + a 1-row broadcast)."""
    from rust_gd_spark.operators.recrawl import dup_burst_windows

    return dup_burst_windows(
        _aug_recrawl_docs(spark, sf_dir), "text", "ts",
        bucket_sec=3600, factor_num=3, factor_den=2, min_docs=2,
    )


def _aug_outlier_docs(spark, sf_dir):
    """Documents + PLANTED per-source length outliers: every ``doc_id %
    50 == 0`` document reappears (id + 98000000) as its own text
    repeated 20× in the SAME source, with ``n_chars`` recomputed — a
    broken-scraper concatenation the per-source Tukey fences must
    catch (the base corpus's lengths are fence-interior)."""
    d0 = _docs(spark, sf_dir).select("doc_id", "text", "source", "n_chars")
    v = (
        d0.filter(F.col("doc_id") % 50 == 0)
        .select(
            (F.col("doc_id") + 98000000).alias("doc_id"),
            F.repeat(F.col("text"), 20).alias("text"),
            "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
    )
    return d0.unionByName(v.select("doc_id", "text", "source", "n_chars"))


def _q_source_length_outliers(spark, sf_dir):
    """Per-source exact Tukey length fences + outlier counts (broken
    scraper / parser-regression monitoring) —
    `operators/lengthgate.py` `source_length_outliers` (distinct-value
    cumulative ranks, never percentile_approx; integer fences)."""
    from rust_gd_spark.operators.lengthgate import source_length_outliers

    return source_length_outliers(
        _aug_outlier_docs(spark, sf_dir), "source", "n_chars", k=3
    )


def _q_lang_agreement(spark, sf_dir):
    """Claimed-vs-detected language confusion matrix (mislabeled-feed
    quarantine before mixture planning) — `operators/langaudit.py`
    `lang_agreement` (two partial aggs + one post-agg equi-join; the
    detector is the same pure-codegen `lang_id` the quality gate
    uses)."""
    from rust_gd_spark.operators.langaudit import lang_agreement

    return lang_agreement(_docs(spark, sf_dir), "text", "lang")


def _q_snm_recall_audit(spark, sf_dir):
    """Blocking-recall audit: SNM verified pairs vs the exact
    inverted-index ground truth at the same threshold, one summary row
    with an invariant-zero spurious count — `operators/snm.py`
    `snm_recall_audit` (the bbit/pruned-IVF audit discipline applied
    to the blocking family)."""
    from rust_gd_spark.operators.snm import snm_recall_audit

    return snm_recall_audit(
        _docs(spark, sf_dir), "doc_id", "text",
        window=10, w_shingle=SHINGLE_W, threshold=JACCARD_T,
    )


def _aug_misaligned_transcripts(spark, sf_dir):
    """Transcripts + PLANTED role-alternation violations: every
    ``doc_id % 40 == 0`` document re-logs into its conversation as an
    extra constant-role 'assistant' turn at ``turn_idx = 10**9 +
    doc_id/50`` (an offset no base conversation can reach before int32
    overflow would break the schema itself, so plant ordering keys
    never collide with base turn indices at any sf) — conversations
    receiving several land consecutive
    same-role turns (the double-logging exporter symptom); the base
    fixture's role cycle (+2 mod 3 per turn) is violation-free, so
    every violation the audit reports is a plant."""
    tr = _transcripts_from_docs(spark, sf_dir).select(
        "conv_id", "turn_idx", "role", "text"
    )
    extra = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 40 == 0)
        .select(
            F.format_string(
                "conv-%04d", (F.col("doc_id") % 50).cast("int")
            ).alias("conv_id"),
            (F.lit(1_000_000_000) + (F.col("doc_id") / 50).cast("int"))
            .cast("int")
            .alias("turn_idx"),
            F.lit("assistant").alias("role"),
            F.concat(F.col("text"), F.lit(" (relog)")).alias("text"),
        )
    )
    return tr.unionByName(extra)


def _q_role_alternation_audit(spark, sf_dir):
    """Corpus-wide role-alternation violation report (double-logging /
    split-message / interleaved-session ingestion symptom) —
    `operators/convaudit.py` `role_alternation_audit` (one conversation
    window exchange + a 1-row aggregate)."""
    from rust_gd_spark.operators.convaudit import role_alternation_audit

    return role_alternation_audit(_aug_misaligned_transcripts(spark, sf_dir))


def _q_length_histogram(spark, sf_dir):
    """Log2 token-length histogram with exact base-2-string bucketing
    (sequence-packing sizing, truncation-artifact detection) —
    `operators/histogram.py` `length_histogram` (one partial-agg
    shuffle over ~60 bucket keys + a 1-row broadcast)."""
    from rust_gd_spark.operators.histogram import length_histogram

    return length_histogram(_docs(spark, sf_dir), "text")


_PII_PLANTS = (
    " mail bob@example.com",
    " ssn 123-45-6789",
    " host 10.0.0.1",
    " call +1 (555) 123-4567",
)


def _aug_pii_docs(spark, sf_dir):
    """Documents + PLANTED PII: every ``doc_id % 25 == 0`` document
    reappears (id + 99300000) with one PII family appended, the family
    cycling by ``(doc_id % 100) / 25`` — so each source shows non-zero
    incidence for a known family mix (the base corpus is PII-free)."""
    d0 = _docs(spark, sf_dir).select("doc_id", "text", "source")
    plant = F.element_at(
        F.array(*[F.lit(p) for p in _PII_PLANTS]),
        ((F.col("doc_id") % 100) / 25).cast("int") + 1,
    )
    v = d0.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 99300000).alias("doc_id"),
        F.concat(F.col("text"), plant).alias("text"),
        "source",
    )
    return d0.unionByName(v)


def _aug_hygiene_docs(spark, sf_dir):
    """Documents + PLANTED schema-integrity defects: NULL text
    (``doc_id % 100 == 0``, id + 99000000), whitespace-only text
    (``% 100 == 25``, consistent n_chars so only the blank counter
    fires), an n_chars drifted by +7 (``% 100 == 50``), and a
    duplicated primary id (``% 100 == 75`` re-emitted verbatim)."""
    d0 = _docs(spark, sf_dir).select("doc_id", "text", "source", "n_chars")
    nulls = d0.filter(F.col("doc_id") % 100 == 0).select(
        (F.col("doc_id") + 99000000).alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
        "source",
        "n_chars",
    )
    blanks = d0.filter(F.col("doc_id") % 100 == 25).select(
        (F.col("doc_id") + 99100000).alias("doc_id"),
        F.lit("   ").alias("text"),
        "source",
        F.lit(3).cast("long").alias("n_chars"),
    )
    drifted = d0.filter(F.col("doc_id") % 100 == 50).select(
        (F.col("doc_id") + 99200000).alias("doc_id"),
        "text",
        "source",
        (F.col("n_chars") + 7).alias("n_chars"),
    )
    dups = d0.filter(F.col("doc_id") % 100 == 75)
    return d0.unionByName(nulls).unionByName(blanks).unionByName(
        drifted
    ).unionByName(dups)


def _aug_bad_embeddings(spark, sf_dir):
    """Embeddings + PLANTED vector defects (id + 990000000): a NULL
    vector (``vec_id % 100 == 0``), a truncated 63-dim vector
    (``% 100 == 25``), a NaN-poisoned vector (``% 100 == 50``: last
    component replaced by NaN), and an all-zero vector
    (``% 100 == 75``) — one defect class per id stratum on a base
    corpus that is provably clean (the audit's zero rows come from the
    base, its nonzero rows from the plants)."""
    from rust_gd_spark.session import ensure_min_partitions

    e0 = ensure_min_partitions(
        spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ).select("vec_id", "embedding")
    v = F.col("embedding")
    nulls = e0.filter(F.col("vec_id") % 100 == 0).select(
        (F.col("vec_id") + 990000000).alias("vec_id"),
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    short = e0.filter(F.col("vec_id") % 100 == 25).select(
        (F.col("vec_id") + 990000000).alias("vec_id"),
        F.slice(v, 1, 63).alias("embedding"),
    )
    nan = e0.filter(F.col("vec_id") % 100 == 50).select(
        (F.col("vec_id") + 990000000).alias("vec_id"),
        F.concat(
            F.slice(v, 1, 63),
            F.array(F.lit(float("nan")).cast("float")),
        ).alias("embedding"),
    )
    zero = e0.filter(F.col("vec_id") % 100 == 75).select(
        (F.col("vec_id") + 990000000).alias("vec_id"),
        F.transform(v, lambda x: F.lit(0.0).cast("float")).alias("embedding"),
    )
    return e0.unionByName(nulls).unionByName(short).unionByName(
        nan
    ).unionByName(zero)


def _q_embedding_hygiene(spark, sf_dir):
    """One-row embedding schema-integrity report (NULL / wrong-dim /
    NaN-poisoned / all-zero vectors) run BEFORE the ANN/SemDeDup tiers
    — `operators/embhygiene.py` `embedding_hygiene` (codegen array
    lambdas, one single-row aggregate, integer counts only — no float
    aggregation, so no summation-order hazard)."""
    from rust_gd_spark.operators.embhygiene import embedding_hygiene

    return embedding_hygiene(
        _aug_bad_embeddings(spark, sf_dir), "embedding", expected_dim=64
    )


def _q_conv_turns_histogram(spark, sf_dir):
    """Log2 histogram of turns-per-conversation (session-length shape:
    mass at 1-turn buckets means broken sessionization, a heavy tail
    means runaway agents) — `operators/histogram.py` `value_histogram`
    over per-conversation turn counts (two partial-agg shuffles)."""
    from rust_gd_spark.operators.histogram import value_histogram

    cc = (
        _transcripts_from_docs(spark, sf_dir)
        .groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
    )
    return value_histogram(cc, "n_turns")


def _q_packing_stats(spark, sf_dir):
    """Packing-efficiency summary over the context-window packing plan
    (the capacity-selection / pad-waste view) — `operators/packing.py`
    `packing_stats` (per-sequence fill agg + a 1-row global aggregate
    on top of the sequence_packing plan)."""
    from rust_gd_spark.functions.textstats import token_count
    from rust_gd_spark.operators.packing import pack_sequences, packing_stats

    d = _docs(spark, sf_dir).select(
        "doc_id", token_count(F.col("text")).alias("n_tok")
    )
    plan = pack_sequences(
        d, "doc_id", "n_tok", capacity=PACK_CAPACITY, n_shards=PACK_SHARDS
    )
    return packing_stats(plan, PACK_CAPACITY)


def _q_pii_incidence(spark, sf_dir):
    """Per-(source, PII family) incidence table (privacy-review and
    redaction-prioritization input) — `operators/hygiene.py`
    `pii_incidence_report` (one partial-agg shuffle, codegen regex
    counts, literal-stack unpivot post-aggregation)."""
    from rust_gd_spark.operators.hygiene import pii_incidence_report

    return pii_incidence_report(_aug_pii_docs(spark, sf_dir), "text", "source")


def _q_ingest_hygiene(spark, sf_dir):
    """Per-source schema-integrity report: NULL/blank text, drifted
    n_chars, duplicated primary ids — the pipeline-precondition checks
    every dedup tier's (id, text) keying depends on —
    `operators/hygiene.py` `ingest_hygiene_report` (one partial-agg
    shuffle)."""
    from rust_gd_spark.operators.hygiene import ingest_hygiene_report

    return ingest_hygiene_report(
        _aug_hygiene_docs(spark, sf_dir), "doc_id", "text", "source", "n_chars"
    )


def _aug_doubled_docs(spark, sf_dir):
    """Documents + PLANTED repetition-inflated variants: every
    ``doc_id % 25 == 0`` document reappears (id + 80000000) as its own
    text repeated twice — nearly identical shingle SET (set-Jaccard ≈ 1
    modulo junction grams) but bag-Jaccard ≈ 0.5, the case multiset
    semantics exist to separate."""
    docs = _docs(spark, sf_dir)
    doubled = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 80000000).alias("doc_id"),
        F.concat("text", F.lit(" "), "text").alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(doubled)


def _q_bag_jaccard_pairs(spark, sf_dir):
    """Multiset (bag) w-shingle Jaccard pairs: repetition-inflated
    near-dups score by occurrence counts, not distinct shingles —
    `operators/bagjaccard.py` `bag_jaccard_pairs` (counted-shingle Arrow
    kernel + inverted-index Σmin join). Threshold 0.4 keeps the planted
    doubled-doc pairs (bag-J ≈ 0.5) that set-Jaccard scores ≈ 1."""
    from rust_gd_spark.operators.bagjaccard import bag_jaccard_pairs

    return bag_jaccard_pairs(
        _aug_doubled_docs(spark, sf_dir), "doc_id", "text",
        w=SHINGLE_W, threshold=0.4,
    )


def _q_decontam_attribution(spark, sf_dir):
    """Multi-benchmark decontamination attribution: which benchmark
    leaked into which document — `operators/decontam.py`
    `ngram_contamination_attribution`. The reference slice
    (doc_id % 20 == 0) is split into two labeled 'benchmarks'
    (doc_id % 40): per-(doc, benchmark) hit counts and containment."""
    from rust_gd_spark.operators import decontam

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.when(F.col("doc_id") % 40 == 0, F.lit("bench_a"))
        .otherwise(F.lit("bench_b"))
        .alias("benchmark"),
        "text",
    )
    return decontam.ngram_contamination_attribution(
        docs, ref, "doc_id", "text", ref_text_col="text",
        bench_col="benchmark", n=SHINGLE_W, threshold=0.5,
    )


def _q_minhash_bbit_pairs(spark, sf_dir):
    """b-bit minwise near-dup pairs: LSH candidates verified with the
    PACKED 8-bit sketch (128 B/doc) instead of exact-Jaccard text
    re-read — `operators/bbit.py` `bbit_near_dup_pairs`. The equality
    oracle against exact all-pairs SQL is sound because the corpus's
    Jaccard distribution is bimodal (measured at sf0.01: every
    qualifying pair ≥ 0.875, every other overlapping pair ≤ 0.016) and
    the k=128/b=8 estimator needs a ~14σ excursion to cross 0.5 from
    either side (P < 1e-40 per pair); LSH banding adds its own ~6e-13
    miss bound (`_q_minhash_lsh` docstring)."""
    from rust_gd_spark.operators.bbit import bbit_near_dup_pairs

    return bbit_near_dup_pairs(
        _docs(spark, sf_dir), "doc_id", "text",
        w=SHINGLE_W, threshold=JACCARD_T, b=8,
    ).select("id_l", "id_r")


def _q_bbit_estimate_audit(spark, sf_dir):
    """b-bit estimator calibration audit with a HARD value-hash oracle:
    md5-derived slot values (SQL-reproducible) over the doc_id % 5 == 0
    slice, all pairs, corrected estimate vs exact Jaccard vs |error| —
    `operators/bbit.py` `bbit_estimate_md5` (the oracle sibling of the
    packed-kernel path, pytest-pinned against it)."""
    from rust_gd_spark.operators.bbit import bbit_estimate_md5

    # dense width: 16 md5 slot hashes per shingle are per-row-dense JVM
    # work over the scan (measured ~1.3× faster at the finer width)
    d = _docs_dense(spark, sf_dir).filter(F.col("doc_id") % 5 == 0)
    return bbit_estimate_md5(d, "doc_id", "text", w=SHINGLE_W, num_perm=16, b=8)


def _q_snm_candidates(spark, sf_dir):
    """Sorted-neighborhood candidate pairs with a HARD oracle on the
    raw (rank-bearing) output — this pins the distributed global-rank
    machinery (range partition + offset pass, never a single-task
    window) against DuckDB's row_number exactly —
    `operators/snm.py` `snm_candidate_pairs`."""
    from rust_gd_spark.operators.snm import snm_candidate_pairs

    return snm_candidate_pairs(_docs(spark, sf_dir), "doc_id", "text", window=10)


def _q_snm_pairs(spark, sf_dir):
    """SNM candidates verified with exact shingle Jaccard — the
    sorted-neighborhood blocking family's end-to-end near-dup query —
    `operators/snm.py` `snm_near_dup_pairs`."""
    from rust_gd_spark.operators.snm import snm_near_dup_pairs

    p = snm_near_dup_pairs(
        _docs(spark, sf_dir), "doc_id", "text",
        window=10, w_shingle=SHINGLE_W, threshold=JACCARD_T,
    )
    return p.select("id_l", "id_r", F.round("jaccard", 6).alias("jaccard"))


def _q_lsh_param_plan(spark, sf_dir):
    """LSH (bands, rows) planning by S-curve FP/FN-area minimization —
    `operators/lshplan.py` `lsh_parameter_plan` (pure function of
    (num_perm, threshold); sf_dir unused). Audits the pipeline's 32×4
    default against its own t=0.5 threshold."""
    from rust_gd_spark.operators.lshplan import lsh_parameter_plan

    return lsh_parameter_plan(spark, num_perm=128, threshold=JACCARD_T, grid=1000)


def _q_compaction_plan(spark, sf_dir):
    """Small-file compaction planning (the Iceberg rewrite_data_files /
    binpack planning pass as a query) over a deterministic file-stats
    table derived from documents — `operators/compaction.py`
    `compaction_plan` (exact integer arithmetic, distributed running
    sum, no global window)."""
    from rust_gd_spark.operators.compaction import compaction_plan

    files = (
        _docs(spark, sf_dir)
        .groupBy((F.col("doc_id") % 97).alias("g"))
        .agg(F.sum(F.length("text")).alias("bytes"))
        .select(
            F.format_string("part-%05d", F.col("g").cast("int")).alias("path"),
            "bytes",
        )
    )
    return compaction_plan(files, target_bytes=32768)


def _aug_mirror_docs(spark, sf_dir):
    """documents + PLANTED cross-source duplication (the corpus has no
    natural cross-source dups — verified by the exact-key scout): a
    'mirror' source republishing every doc_id % 9 == 0 verbatim, plus
    within-source double-fetch copies of doc_id % 13 == 0."""
    d = _docs(spark, sf_dir).select("doc_id", "text", "source")
    mirror = d.filter(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    refetch = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"), "text", "source"
    )
    return d.unionByName(mirror).unionByName(refetch)


def _q_source_overlap(spark, sf_dir):
    """Cross-source duplicate overlap matrix from compact content-key
    group counts (pair counts WITHOUT pair explosion) —
    `operators/overlap.py` `source_overlap_matrix`."""
    from rust_gd_spark.operators.overlap import source_overlap_matrix

    return source_overlap_matrix(_aug_mirror_docs(spark, sf_dir))


def _q_source_overlap_near_dup(spark, sf_dir):
    """Near-dup pair list aggregated to a source×source matrix —
    `operators/overlap.py` `pair_overlap_matrix` over the exact-Jaccard
    pair set (the oracle-verifiable pair generator; the LSH variants
    produce the identical set at this fixture's margins)."""
    from rust_gd_spark.operators.minhash import exact_jaccard_pairs
    from rust_gd_spark.operators.overlap import pair_overlap_matrix

    d = _docs(spark, sf_dir)
    pairs = exact_jaccard_pairs(
        d, "doc_id", "text", w=SHINGLE_W, threshold=JACCARD_T
    ).select("id_l", "id_r")
    return pair_overlap_matrix(
        pairs, d.select("doc_id", "source"), id_col="doc_id"
    )


def _q_incremental_near_dups(spark, sf_dir):
    """Daily-increment near-dup lookup: a new batch probed against the
    persisted corpus LSH+b-bit index, corpus never re-paired or
    re-read — `operators/increment.py` `incremental_near_dups`.
    Fixture: corpus = doc_id % 10 != 0; batch = the % 10 == 0 docs plus
    planted near-copies (one appended token, length > 500 so J ≥ 0.98 —
    ~11σ above the 0.5 threshold for the k=128/b=8 estimator; natural
    cross-split pairs sit at the corpus's bimodal 0.016/0.875 margins).
    Oracle = exact batch×corpus Jaccard in SQL."""
    from rust_gd_spark.operators.bbit import bbit_sketch_bands
    from rust_gd_spark.operators.increment import incremental_near_dups
    from rust_gd_spark.operators.minhash import shingle_df

    d = _docs(spark, sf_dir)
    corpus = d.filter(F.col("doc_id") % 10 != 0).select("doc_id", "text")
    plants = (
        corpus.filter((F.col("doc_id") % 10 == 5) & (F.length("text") > 500))
        .select(
            (F.col("doc_id") + 30_000_000).alias("doc_id"),
            F.concat("text", F.lit(" zqx")).alias("text"),
        )
    )
    batch = (
        d.filter(F.col("doc_id") % 10 == 0).select("doc_id", "text")
        .unionByName(plants)
    )
    idx = bbit_sketch_bands(shingle_df(corpus, "doc_id", "text", w=SHINGLE_W))
    return incremental_near_dups(
        idx, batch, "doc_id", "text",
        w=SHINGLE_W, threshold=JACCARD_T, broadcast_batch=True,
    ).select("batch_id", "corpus_id")


def _q_containment_pairs(spark, sf_dir):
    """Asymmetric (subset-document) dedup: pairs whose max-direction
    shingle CONTAINMENT meets 0.8 — catches truncated re-crawls and
    quote-inflated reposts whose Jaccard is far below any dedup
    threshold — `operators/containment.py` `exact_containment_pairs`.
    Fixture plants 200-char prefixes of docs longer than 400 chars
    (~10% of the corpus; containment ≈ 0.85-0.95 while jaccard ≈ 0.4 —
    invisible to every Jaccard-threshold query); natural near-dup pairs
    qualify too (containment ≥ jaccard ≥ 0.875). Both sides are exact,
    so near-threshold values compare identically — no margin needed."""
    from rust_gd_spark.operators.containment import exact_containment_pairs

    d = _docs(spark, sf_dir).select("doc_id", "text")
    subs = d.filter(F.length("text") > 400).select(
        (F.col("doc_id") + 40_000_000).alias("doc_id"),
        F.substring("text", 1, 200).alias("text"),
    )
    return exact_containment_pairs(
        d.unionByName(subs), "doc_id", "text", w=SHINGLE_W, threshold=0.8
    )


def _q_embedding_topk_blocked(spark, sf_dir):
    """Exact top-k via the DISTRIBUTED blocked scan — no driver collect,
    memory-bounded tiles, per-tile partial top-k + window merge.
    Bit-identical output to the broadcast form (same oracle)."""
    from rust_gd_spark.operators.embedding import cosine_topk_blocked
    from rust_gd_spark.session import ensure_min_partitions

    e = ensure_min_partitions(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return cosine_topk_blocked(e, "vec_id", "embedding", k=TOPK, block_rows=512).select(
        F.col("id").alias("vec_id"), "neighbor_id", "cosine", "rank"
    )


def _q_embedding_decontam(spark, sf_dir):
    """Semantic (embedding-space) test-set decontamination — the fuzzy
    complement of `decontam_ngrams`, in the spirit of SemDeDup/Phi-style
    embedding contamination checks: for every corpus vector, its exact
    max-cosine against a deterministic 5% 'benchmark' slice
    (vec_id % 20 == 0), flagged at τ=0.35. Plan: benchmark broadcast once
    (size-guarded), corpus streamed through one Arrow matmul kernel —
    zero shuffles, the right shape when the benchmark is tiny and the
    corpus is 10^12 rows. Exact, so the DuckDB cross-join top-1 is a
    bit-exact oracle (6-dp round + neighbor-id tie-break on both sides)."""
    from rust_gd_spark.operators.embedding import cosine_topk_bruteforce

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    bench = e.filter(F.col("vec_id") % 20 == 0)
    corpus = e.filter(F.col("vec_id") % 20 != 0)
    top1 = cosine_topk_bruteforce(
        corpus, "vec_id", "embedding", k=1, query_df=bench
    )
    return top1.select(
        F.col("id").alias("vec_id"),
        F.col("neighbor_id").alias("bench_id"),
        F.col("cosine").alias("max_cosine"),
        (F.col("cosine") >= 0.35).alias("contaminated"),
    )


def _q_window_reassembly(spark, sf_dir):
    from rust_gd_spark.session import ensure_min_partitions

    ev = ensure_min_partitions(spark.read.parquet(f"{sf_dir}/events.parquet"))
    return ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                lambda s: s["event_type"],
            ),
            ",",
        ).alias("event_seq"),
        F.count("*").alias("n_events"),
    )


def _q_window_rank(spark, sf_dir):
    from pyspark.sql import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        ev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("user_id", "event_id", F.round("value", 6).alias("value"), "rnk")
    )


def _q_join_agg(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def _q_lineitem_pricing(spark, sf_dir):
    """TPC-H Q1-shaped pricing summary over lineitem: date-filtered scan
    (predicate pushed to parquet) → one partial-agg shuffle on the 4-cell
    (returnflag, linestatus) key with 8 aggregates riding the same
    exchange. The classic whole-stage-codegen agg — every expression
    JVM-side, map-side combine collapses 60k rows/SF to 4 before the
    exchange. 2-dp money rounding (exact: inputs are 2-dp decimals in
    double form, sums stay « 2^53)."""
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")

    # Order-independent money arithmetic: double sums are
    # non-associative, and at Σ≈1e9 the partial-agg ordering difference
    # between Spark and DuckDB can flip a 2-dp round. Per-row the two
    # engines compute IDENTICAL doubles (same IEEE ops on the same
    # inputs), so round each row to integer cents first; integer sums
    # are exact in any order and « 2^53.
    def cents(col):
        return F.round(col * 100, 0).cast("long")

    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc * (1 + F.col("l_tax"))
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("_base_c"),
            F.sum(cents(disc)).alias("_disc_c"),
            F.sum(cents(charge)).alias("_charge_c"),
            F.sum(cents(F.col("l_discount"))).alias("_disc_pts"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )
    n = F.col("count_order")
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        F.round(F.col("_base_c") / 100.0, 2).alias("sum_base_price"),
        F.round(F.col("_disc_c") / 100.0, 2).alias("sum_disc_price"),
        F.round(F.col("_charge_c") / 100.0, 2).alias("sum_charge"),
        F.round(F.col("sum_qty") / n, 6).alias("avg_qty"),
        F.round(F.col("_base_c") / 100.0 / n, 6).alias("avg_price"),
        F.round(F.col("_disc_pts") / 100.0 / n, 6).alias("avg_disc"),
        "count_order",
    )


def _q_event_window_stats(spark, sf_dir):
    """Epoch-aligned tumbling-window event aggregation (batch form of the
    watermarked streaming query in `streaming_window.py`; the reference
    has no event-time surface — this is engine-completeness for corpus
    ingest telemetry). Window bounds emitted as epoch seconds so the
    hash compare is dtype- and timezone-proof."""
    from rust_gd_spark.streaming_window import tumbling_event_stats

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = tumbling_event_stats(ev, window="1 hour")
    return out.select(
        # parquet reads as TIMESTAMP_NTZ, which has no direct long cast;
        # session tz is UTC so the ltz hop preserves the epoch instant
        F.col("window_start").cast("timestamp_ltz").cast("long").alias("window_start_s"),
        F.col("window_end").cast("timestamp_ltz").cast("long").alias("window_end_s"),
        "event_type",
        "n_events",
        "n_users",
        "sum_value",
    )


def _q_session_windows(spark, sf_dir):
    """Per-user session windows (30-min gap merge) via Catalyst's native
    SessionWindow — one shuffle by user_id, sort-local merge. Bounds as
    epoch MICROseconds (exact integers; the fixture's timestamps carry
    microsecond components)."""
    from rust_gd_spark.streaming_window import session_event_windows

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = session_event_windows(ev, gap="30 minutes")
    return out.select(
        "user_id",
        F.unix_micros(F.col("session_start").cast("timestamp_ltz")).alias("session_start_us"),
        F.unix_micros(F.col("session_end").cast("timestamp_ltz")).alias("session_end_us"),
        "n_events",
        "sum_value",
    )


def _q_range_join_events(spark, sf_dir):
    """Bounded time-range join (`operators/rangejoin.py`): every error
    paired with the same user's clicks within ±30 min — compiled to ONE
    equi-join on (user, time-bucket) with the left side exploded to 3
    candidate buckets (a naive inequality join would plan a
    BroadcastNestedLoopJoin); exact |Δt| ≤ δ re-check post-join. Oracle
    is the direct inequality join."""
    from rust_gd_spark.operators.rangejoin import range_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    out = range_join(
        errors, clicks, key="user_id", ts="ts",
        delta_us=RANGE_DELTA_US, right_cols=["ts", "event_id"],
    )
    ltz = lambda c: F.col(c).cast("timestamp_ltz")  # noqa: E731
    return out.select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.unix_micros(ltz("ts")).alias("ts_us"),
        F.col("event_id_r").alias("click_id"),
        (F.unix_micros(ltz("ts_r")) - F.unix_micros(ltz("ts"))).alias("dt_us"),
    )


def _q_event_quantiles(spark, sf_dir):
    """Exact ordered-set aggregate (`F.percentile`, NOT approx): p50/p90/p99
    of value per event_type. Linear interpolation matches DuckDB
    `quantile_cont`. Exact percentile is a sort-based agg — fine per
    group at any scale when groups are few; the approximate path for
    high-cardinality groups is `approx_percentile` (not oracle-able)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        F.round(F.percentile("value", F.lit(0.99)), 6).alias("p99"),
    )


def _q_event_type_pivot(spark, sf_dir):
    """`groupBy().pivot()` with an EXPLICIT value list (the implicit form
    runs a driver job to collect distinct keys — never at corpus scale):
    per-user event counts, one column per type. Compiles to a single
    partial-aggregated shuffle of CASE sums."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    types = ["click", "view", "purchase", "signup", "error"]
    out = ev.groupBy("user_id").pivot("event_type", types).count()
    return out.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types]
    )


def _q_event_rollup(spark, sf_dir):
    """`rollup(event_type, is_error_hour)` — grouping-sets aggregate with
    grouping_id disambiguating NULL-as-total from NULL-as-value; one
    Expand + one shuffle."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    bucket = (F.hour(F.col("ts").cast("timestamp_ltz")) % 2 == 0).cast("int")
    return (
        ev.withColumn("even_hour", bucket)
        .rollup("event_type", "even_hour")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.grouping_id().alias("gid"),
        )
    )


def _q_asof_join_events(spark, sf_dir):
    """Backward-inclusive as-of join (operators/asof.py): every click
    stamped with the user's most recent prior-or-simultaneous purchase.
    Oracle = DuckDB's NATIVE `ASOF LEFT JOIN` — an independent engine
    implementation of the same contract, not a re-derivation. Epoch-µs
    bounds and NULLs for never-purchased users ride the hash compare."""
    from rust_gd_spark.operators.asof import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "ts", "user_id"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        clicks, purchases, key="user_id", ts="ts",
        right_cols=["ts", "event_id", "value"],
    )
    ltz = lambda c: F.col(c).cast("timestamp_ltz")  # noqa: E731
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(ltz("ts")).alias("ts_us"),
        F.col("event_id_r").alias("purchase_id"),
        F.unix_micros(ltz("ts_r")).alias("purchase_ts_us"),
        F.round("value_r", 6).alias("purchase_value"),
    )


def _q_simhash_pairs(spark, sf_dir):
    from rust_gd_spark.operators.simhash import simhash_near_dup_pairs

    return simhash_near_dup_pairs(_docs(spark, sf_dir), "doc_id", "text", max_dist=3)


def _q_simhash_rotation_pairs(spark, sf_dir):
    """Manku sorted-rotation candidates (WWW'07) + Hamming verify — the
    extreme-scale SimHash mode (linear candidate volume, reaches d ≤ 7 vs
    fixed banding's d ≤ bands−1 = 3). Runs at max_dist=6, the regime the
    mode EXISTS for: distances 4–6 that 4-band banding provably cannot
    emit (round-3 VERDICT "what's missing" #5) — its row count strictly
    contains `simhash_pairs`' d ≤ 3 set on the same fixture. Fingerprint
    family is not SQL-expressible → rows-only here; clustering
    equivalence vs the banding mode at matched distance is pinned in
    tests/test_pipeline.py, planted-pair recall, the bucket-containment
    math, and the planted d=5 found-by-rotations/missed-by-banding case
    in tests/test_simhash.py."""
    from rust_gd_spark.operators.simhash import simhash_rotation_pairs

    return simhash_rotation_pairs(
        _docs(spark, sf_dir), "doc_id", "text", max_dist=6
    )


def _q_substring_pairs(spark, sf_dir):
    """Pairs sharing a verbatim ≥120-byte substring. Oracle-checkable:
    winnowing candidate recall is EXACT for spans ≥ k+w−1 = min_len (no
    cap hit at this SF — bucket sizes ≪ max_posting_size), the verify is
    byte-exact, and exact_length=False reports common_len = min_len for
    every qualifying pair — so the pair set equals the SQL window
    self-join's. Fixture texts are ASCII, so SQL char windows == the
    operator's byte windows."""
    from rust_gd_spark.operators.substring import substring_near_dup_pairs

    return substring_near_dup_pairs(
        _docs(spark, sf_dir), "doc_id", "text", min_len=120, exact_length=False
    )


def _q_embedding_cosine_pairs(spark, sf_dir):
    """Exact all-pairs ≥ τ via the DISTRIBUTED blocked scan — the scale
    path for exhaustive low-threshold similarity (O(n²) compute spread
    over B(B+1)/2 memory-bounded tile tasks)."""
    from rust_gd_spark.operators.embedding import cosine_pairs_blocked
    from rust_gd_spark.session import ensure_min_partitions

    e = ensure_min_partitions(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return cosine_pairs_blocked(e, "vec_id", "embedding", threshold=0.35, block_rows=512).select(
        F.col("id_l").alias("vec_l"), F.col("id_r").alias("vec_r"), "cosine"
    )


def _q_embedding_ann_lsh(spark, sf_dir):
    """Adaptive near-dup pair retrieval, oracle-checked against the exact
    all-pairs SQL. The operator picks its physical strategy from the
    threshold (its own Catalyst-style strategy rule): at τ=0.35 (θ≈69°)
    hyperplane bands cannot discriminate (measured 97% of all pairs became
    candidates — quadratic volume through join machinery), so it delegates
    to the blocked exact tile scan; at τ≥~0.6 it runs the true LSH path
    (one-shuffle bucketed candidates + Hamming prefilter + exact verify) —
    that regime is benched as `embedding_ann_highsim` and recall-pinned on
    planted duplicates in tests/test_embedding.py."""
    from rust_gd_spark.operators.embedding import embedding_near_dup_pairs
    from rust_gd_spark.session import ensure_min_partitions

    e = ensure_min_partitions(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return embedding_near_dup_pairs(
        e, "vec_id", "embedding", threshold=0.35, nbits=256, bands=64, seed=7,
        strategy="auto", block_rows=512,
    ).select(F.col("id_l").alias("vec_l"), F.col("id_r").alias("vec_r"), "cosine")


def _q_embedding_ann_highsim(spark, sf_dir):
    """The TRUE LSH regime, oracle-checked: the fixture's max pairwise
    cosine is ~0.6, so near-dups are PLANTED in the query itself — for
    every vec_id % 5 == 0 a mixture 0.95·v + 0.3·w (w = the next row's
    vector) joins the corpus under id+1,000,000; planted pairs land at
    cosine 0.949–0.967 (measured, both SFs), everything else ≤ 0.601.
    At τ=0.9 / nbits=256 / bands=32 the strategy rule picks the real LSH
    path (Hamming cutoff 62 ≪ 128); a planted pair at cosine 0.9488
    misses all 32 8-bit bands with probability (1−0.898⁸)³² ≈ 2e-8, and
    the Hamming prefilter sits 7σ above the planted pairs' expected
    signature distance — so bit-equality with the exact all-pairs SQL is
    a sound oracle, and it exercises bucket-join + prefilter + verify
    (unlike `embedding_ann_lsh`, whose τ=0.35 delegates to the blocked
    exact scan)."""
    import os

    from rust_gd_spark.operators.embedding import embedding_near_dup_pairs
    from rust_gd_spark.session import ensure_min_partitions

    # Precomputed-fixture fast path (round-4 VERDICT task 7): bench.py
    # stages the planted corpus to parquet via
    # fixtures.ensure_highsim_fixture — bit-identical content to the
    # in-query construction below, so the oracle is unchanged and the
    # bench row times the LSH operator alone. Without the staged file
    # (e.g. the driver's correctness harness) the query self-constructs.
    from rust_gd_spark.fixtures import ensure_highsim_fixture

    tag = os.path.basename(os.path.normpath(sf_dir))
    staged = f"/root/repo/dist/fixtures/highsim_{tag}.parquet"
    if os.path.exists(staged):
        aug = ensure_min_partitions(spark.read.parquet(staged))
    else:
        import numpy as np
        import pandas as pd
        from pyspark.sql import types as T

        # Vectorized fixture construction (round-3 VERDICT "what's wrong"
        # #3): the mixture 0.95·v + 0.3·w runs as ONE Arrow-batched pandas
        # UDF over the planted 10% slice, not an interpreted zip_with per
        # element, and the corpus-wide float→double is a native array cast.
        @F.pandas_udf(T.ArrayType(T.DoubleType()))
        def _mix_udf(ea, eb):  # scalar pandas UDF: Series, Series -> Series
            va = np.stack(ea.to_numpy()).astype(np.float64)
            vb = np.stack(eb.to_numpy()).astype(np.float64)
            return pd.Series(list(0.95 * va + 0.3 * vb))

        e = ensure_min_partitions(
            spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        )
        a, b = e.alias("a"), e.alias("b")
        planted = (
            a.join(b, F.col("b.vec_id") == F.col("a.vec_id") + 1)
            .filter(F.col("a.vec_id") % 5 == 0)
            .select(
                (F.col("a.vec_id") + 1000000).alias("vec_id"),
                _mix_udf("a.embedding", "b.embedding").alias("embedding"),
            )
        )
        aug = e.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).unionByName(planted)
    return embedding_near_dup_pairs(
        aug, "vec_id", "embedding", threshold=0.9, nbits=256, bands=32, seed=7,
        strategy="auto",
    ).select(F.col("id_l").alias("vec_l"), F.col("id_r").alias("vec_r"), "cosine")


def _q_training_data_prep(spark, sf_dir):
    """The end-to-end training-corpus composite (quality gate →
    decontamination vs the doc_id%20 'benchmark' slice → near-dup dedup →
    survivorship), oracle-checked: every gate compares ROUNDED scores (the
    engine-wide 6-dp oracle precision) and the dedup runs the oracle-shaped
    config (no simhash, exact in-bucket pairs), so the DuckDB recursive-CTE
    closure over the filtered survivor set reproduces the output
    bit-for-bit."""
    from rust_gd_spark.pipeline import DedupConfig
    from rust_gd_spark.prep import training_data_prep

    docs = _docs(spark, sf_dir)
    ref = docs.filter(F.col("doc_id") % 20 == 0)
    return training_data_prep(
        docs, ref, "doc_id", "text",
        quality_min=0.7, ngram_n=SHINGLE_W, contamination_max=0.5,
        cfg=DedupConfig(
            jaccard_threshold=JACCARD_T, min_substring_len=120,
            enable_simhash=False, neighbor_window=None,
        ),
    )


def _q_embedding_dedup_clusters(spark, sf_dir):
    """Semantic-dedup clusters: connected components over the exact
    cosine ≥ 0.35 pair graph (the same edge set the oracle-green
    `embedding_cosine_pairs` emits), cluster_id = min member vec_id.
    Oracle = DuckDB recursive-CTE transitive closure over those pairs."""
    from rust_gd_spark.operators.embedding import embedding_dedup_clusters
    from rust_gd_spark.session import ensure_min_partitions

    e = ensure_min_partitions(spark.read.parquet(f"{sf_dir}/embeddings.parquet"))
    return embedding_dedup_clusters(
        e, "vec_id", "embedding", threshold=0.35, block_rows=512
    ).select(F.col("id").alias("vec_id"), "cluster_id")


def _q_gd_roundtrip(spark, sf_dir):
    from rust_gd_spark.gd.spark import gd_conversation_roundtrip

    tr = _transcripts_from_docs(spark, sf_dir)
    return gd_conversation_roundtrip(tr, kind="rs", dict_size=255, n=128, k=124).select(
        "conv_id", "n_turns", "orig_bytes", "roundtrip_ok"
    )


def _q_gd_decompose_metrics(spark, sf_dir):
    from rust_gd_spark.gd.spark import gd_decompose, gd_dedup_metrics

    tr = _transcripts_from_docs(spark, sf_dir)
    chunks = gd_decompose(tr, n=128, k=124)
    return gd_dedup_metrics(chunks, dict_size=255, n=128, k=124)


def _q_transcript_clusters(spark, sf_dir):
    """End-to-end pipeline → connected components → canonical cluster
    labels (cluster_id = min member uid). Oracle-checked against a DuckDB
    recursive-CTE transitive closure over the SQL-expressible edge set
    (exact md5 groups + w-shingle Jaccard ≥ 0.5 + shared ≥120-byte
    substring); simhash is disabled for this query (its fingerprint
    family is not SQL-expressible — covered by `simhash_pairs` +
    recall pytest) and neighbor_window=None gives exact in-bucket pair
    semantics so the partitions match bit-for-bit."""
    from rust_gd_spark.pipeline import (
        DedupConfig, canonical_clusters, near_dup_pipeline, with_turn_uid,
    )

    tr = with_turn_uid(_transcripts_from_docs(spark, sf_dir))
    res = near_dup_pipeline(
        tr, "uid", "text",
        DedupConfig(
            jaccard_threshold=0.5, min_substring_len=120,
            enable_simhash=False, neighbor_window=None,
        ),
    )
    return canonical_clusters(res.clusters)


def _q_cluster_representatives(spark, sf_dir):
    """Survivorship: per near-dup cluster, the member kept for training
    (longest text, ties → smallest uid) + byte accounting. Runs the same
    oracle-shaped pipeline config as `transcript_clusters`, then
    `cluster_representatives` — one extra agg, fully SQL-expressible."""
    from rust_gd_spark.pipeline import (
        DedupConfig, canonical_clusters, cluster_representatives,
        near_dup_pipeline, with_turn_uid,
    )

    tr = with_turn_uid(_transcripts_from_docs(spark, sf_dir))
    res = near_dup_pipeline(
        tr, "uid", "text",
        DedupConfig(
            jaccard_threshold=0.5, min_substring_len=120,
            enable_simhash=False, neighbor_window=None,
        ),
    )
    # res.source: the pipeline's pinned (id, text) — joining texts against
    # it skips re-deriving the transcripts (scan + window) a second time
    return cluster_representatives(
        canonical_clusters(res.clusters),
        res.source.withColumnRenamed("id", "uid"), "uid", "text",
    )


def _q_leakage_safe_split(spark, sf_dir):
    """Dedup-aware train/val split: the split coin is flipped per
    near-dup CLUSTER (the oracle-shaped pipeline's canonical labels), so
    no duplicate pair straddles the boundary — a per-document split
    would leak a doc and its near-dup across sides with prob 2f(1−f).
    Oracle: the recursive-CTE cluster closure + the same md5-threshold
    rule (the `hash_sample` engine-parity convention)."""
    from rust_gd_spark.operators.sampling import leakage_safe_split

    return leakage_safe_split(
        _q_transcript_clusters(spark, sf_dir),
        cluster_col="cluster_id",
        frac_train=0.8,
        seed=11,
    )


def _planted_urls_expr(div: str) -> str:
    """Crawl-URL fixture (the in-query-plant pattern of
    `embedding_ann_highsim` — the synthetic corpus has no URL column):
    each page ``doc_id div 4`` appears under four surface forms that all
    canonicalize to one URL — plain, uppercase-HTTP + tracking params,
    ``www.`` + trailing slash, ``:443`` + fragment — plus a planted
    singleton (``doc_id % 9 == 7``) so group sizes vary. ``div`` is the
    integer-division token ('div' for Spark, '//' for DuckDB); the rest
    of the expression is dialect-shared."""
    page = f"(doc_id {div} 4)"
    tail = f"'l' || ({page} % 3) || '/doc-' || {page}"
    host = f"'src' || ({page} % 11)"
    return f"""
        case when doc_id % 9 = 7
             then 'https://unique' || doc_id || '.example.com/only'
             when doc_id % 4 = 0
             then 'https://' || {host} || '.example.com/' || {tail}
             when doc_id % 4 = 1
             then 'HTTP://' || upper({host}) || '.EXAMPLE.COM/' || {tail}
                  || '?utm_source=rss&gclid=g' || doc_id
             when doc_id % 4 = 2
             then 'https://www.' || {host} || '.example.com/' || {tail} || '/'
             else 'https://' || {host} || '.example.com:443/' || {tail}
                  || '#frag'
        end
    """


def _q_url_dedup(spark, sf_dir):
    """URL-level exact dedup: canonicalize planted crawl URLs (scheme
    case, www., default port, tracking params, fragment, trailing slash)
    and keep one row per canonical URL — the cheapest dedup tier, before
    any content hashing. Pure-codegen regexp chain + the `exactdup`
    agg-join shape. Oracle: the identical RE2 chain in DuckDB."""
    from rust_gd_spark.operators.urldedup import url_dup_groups

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    urls = d.select(
        "doc_id", F.expr(_planted_urls_expr("div")).alias("url")
    )
    return url_dup_groups(urls, "doc_id", "url").select(
        F.col("id").alias("doc_id"),
        "url",
        "canonical_url",
        "canonical_id",
        "group_size",
    )


def _q_cdc_dedup_rewrite(spark, sf_dir):
    """Duplicate-span REMOVAL (Lee et al. 2022 at CDC-chunk
    granularity): occurrences that aren't their hash's canonical first
    occurrence are cut, each doc's survivors reassemble in chunk order —
    the rewrite step the detection operators (substring_pairs,
    cdc_chunk_store) feed. Keep decision is a join against the chunk
    store (skew-safe), never a per-hash window. Oracle compares the
    REWRITTEN TEXT byte-for-byte."""
    from rust_gd_spark.operators.cdc import cdc_chunks, cdc_dedup_rewrite

    c = cdc_chunks(
        _docs_dense(spark, sf_dir), "doc_id", "text",
        divisor=CDC_DIVISOR, gram=CDC_GRAM,
    )
    return cdc_dedup_rewrite(c).select(
        F.col("id").alias("doc_id"),
        "deduped_text",
        "chunks_kept", "chunks_dropped", "tokens_kept", "tokens_dropped",
    )


def _q_domain_filter(spark, sf_dir):
    """Host-level aggregate gate (the CCNet/RefinedWeb domain-filter
    stage): a document is kept only if its HOST's keep ratio passes —
    spam-farm hosts lose even their individually-passing pages. Plants
    host-correlated quality soup (hosts src0-src2 get ~1/3 soup → ratio
    2/3, dropped at 0.8; singleton hosts dropped by min_docs=2). The
    per-host metric is exact-integer division, so the oracle compares
    it unrounded."""
    from rust_gd_spark.functions.quality_model import quality_keep
    from rust_gd_spark.operators.domainfilter import domain_filter

    planted = _docs(spark, sf_dir).select(
        "doc_id",
        F.expr(_planted_urls_expr("div")).alias("url"),
        F.when(
            F.expr("(doc_id div 4) % 11 < 3 and doc_id % 3 = 0"),
            F.lit(_QM_SOUP),
        ).otherwise(F.col("text")).alias("text"),
    )
    scored = planted.select(
        "doc_id", "url", quality_keep(F.col("text")).alias("keep")
    )
    return domain_filter(
        scored, min_keep_ratio=0.8, min_docs=2
    ).select(
        "doc_id", "host", "keep", "host_docs", "host_keep_docs", "keep_ratio"
    )


def _q_gd_roundtrip_aligned(spark, sf_dir):
    """RS + error-alignment variant (the reference's third entry point,
    `src/lib.rs:73-78`; round-trip test `src/lib.rs:197-239`): decode on
    c·T, encode applies T⁻¹ last. T is a deterministic unit-upper-
    triangular 128×128 over GF(2⁸) (nonsingular by construction). Sizes
    are invariant under T, so the same byte-arithmetic oracle applies."""
    import numpy as np

    from rust_gd_spark.gd.spark import gd_conversation_roundtrip

    rng = np.random.default_rng(5)
    t = np.triu(rng.integers(0, 256, size=(128, 128), dtype=np.uint8), k=1)
    np.fill_diagonal(t, 1)
    tr = _transcripts_from_docs(spark, sf_dir)
    return gd_conversation_roundtrip(
        tr, kind="rs", dict_size=255, precoding=t.tolist(), n=128, k=124
    ).select("conv_id", "n_turns", "orig_bytes", "roundtrip_ok")


def _q_gd_chunk_stats(spark, sf_dir):
    """Chunker semantics (A5: fixed n-byte grid + last-chunk zero pad,
    `gd_byte_unit.rs:42-65`, applied to each turn on its own) verified
    against SQL arithmetic: a conversation's chunk count and pad bytes are
    pure functions of its per-turn byte lengths (an empty turn is one
    all-pad chunk)."""
    from rust_gd_spark.gd.spark import gd_decompose

    tr = _transcripts_from_docs(spark, sf_dir)
    chunks = gd_decompose(tr, n=128, k=124)
    return chunks.groupBy("conv_id").agg(
        F.count("*").alias("n_chunks"),
        F.sum("last_chunk_pad").cast("int").alias("pad_bytes"),
        (F.count("*") * 128 - F.sum("last_chunk_pad")).alias("orig_bytes"),
    )


def _q_incremental_clusters(spark, sf_dir):
    """STREAMING path, oracle-checked: the transcripts feed through
    `streaming.process_batch` in two micro-batches (split by doc parity —
    exact/near dups deliberately straddle the batch boundary), then
    `compact_clusters` recovers full clusters from the persisted state.
    The result must equal the batch pipeline's exact+minhash clusters —
    and the DuckDB oracle is the same recursive-CTE transitive closure
    over exact + Jaccard≥0.5 edges used for `transcript_clusters`."""
    import atexit
    import os
    import shutil
    import tempfile

    from rust_gd_spark.pipeline import canonical_clusters, with_turn_uid
    from rust_gd_spark.streaming import compact_clusters, process_batch

    tr = with_turn_uid(_transcripts_from_docs(spark, sf_dir)).select(
        "uid", "text", (F.xxhash64("uid") % 2 == 0).alias("even")
    )
    # scratch state on tmpfs when the box has headroom (same rationale as
    # bench.py's shuffle-dir pick: the sandbox virtio disk writes
    # ~20 MB/s, and the per-batch store appends otherwise time the disk,
    # not the operator; a real deployment writes these stores to
    # Iceberg/HDFS). Falls back to the default tmp dir.
    state_base = None
    try:
        if os.path.isdir("/dev/shm"):
            st = os.statvfs("/dev/shm")
            if st.f_bavail * st.f_frsize >= 2 << 30:
                state_base = "/dev/shm"
    except OSError:
        pass
    state = tempfile.mkdtemp(prefix="incdedup_", dir=state_base)
    # the returned clusters frame reads these stores lazily, so the dir
    # must outlive this call — reclaim (tmpfs) space at interpreter exit
    atexit.register(shutil.rmtree, state, ignore_errors=True)
    for flag in (True, False):
        process_batch(
            tr.filter(F.col("even") == flag).select("uid", "text"),
            state,
            threshold=JACCARD_T,
        )
    # small_graph_rows=0 pins the distributed large-star/small-star
    # fixpoint (not the adaptive driver union-find) so the oracle gate
    # keeps bit-checking the 100 TB code path every round.
    return canonical_clusters(compact_clusters(spark, state, small_graph_rows=0))


def _q_conv_repetition(spark, sf_dir):
    """Per-conversation suffix-array repetition profile (SURVEY.md §7 S3).
    ``n_rep_grams`` (distinct repeated 64-byte windows of the turn-ordered
    joined text) is oracle-checked against a DuckDB window self-count;
    ``lrs_len`` (longest repeated substring, exact from the LCP array) has
    no SQL equivalent and is pinned against brute force in
    tests/test_suffixarray.py instead."""
    from rust_gd_spark.operators.suffixarray import conversation_repetition

    tr = _transcripts_from_docs(spark, sf_dir)
    return conversation_repetition(tr, k=64).select(
        "conv_id", "conv_bytes", "n_rep_grams"
    )


def _q_multimodal_features(spark, sf_dir):
    from rust_gd_spark.multimodal import extract_features, synth_assets

    return extract_features(synth_assets(_docs(spark, sf_dir))).select(
        "asset_id", "kind", "n_bytes", F.round(F.element_at("feature", 98), 6).alias("f_a")
    )


def _q_cluster_deltas(spark, sf_dir):
    """Generalized-dedup ENCODING of the near-dup clusters — the
    reference's base+deviation record stream (`src/lib.rs:90-94`,
    `src/separator.rs:4-26`) at document granularity: per cluster the
    representative is stored once in full (kind='base', the AsIs
    record), every other member as (rep_id, common-prefix len,
    common-suffix-of-remainders len, middle deviation) — losslessly
    reconstructible by `delta_decode` from the encoded table alone.
    Runs the oracle-shaped pipeline config of `transcript_clusters`;
    the oracle recomputes p/s with monotone substr-equality counts."""
    from rust_gd_spark.operators.deltaenc import cluster_delta_encode
    from rust_gd_spark.pipeline import (
        DedupConfig, canonical_clusters, near_dup_pipeline, with_turn_uid,
    )

    tr = with_turn_uid(_transcripts_from_docs(spark, sf_dir))
    res = near_dup_pipeline(
        tr, "uid", "text",
        DedupConfig(
            jaccard_threshold=0.5, min_substring_len=120,
            enable_simhash=False, neighbor_window=None,
        ),
    )
    return cluster_delta_encode(
        canonical_clusters(res.clusters),
        res.source.withColumnRenamed("id", "uid"), "uid", "text",
    )


def _q_dedup_funnel(spark, sf_dir):
    """Tiered dedup accounting — the round's tier-dedup shape end to
    end: URL canonical dedup (pure codegen) → exact content dedup (one
    hash agg) → near-dup clustering (the audited pipeline), each tier
    over the previous tier's survivors, one exact-count row per tier.
    URLs are the planted crawl fixture of `url_dedup` (4 surface forms
    per page + singletons). Oracle: the same three tiers as chained
    CTEs with the recursive-closure component count."""
    from rust_gd_spark.operators.funnel import dedup_funnel
    from rust_gd_spark.pipeline import DedupConfig

    # ids stay NUMERIC: the survivor rule is min(id) per key, and a
    # string cast would make Spark pick the lexicographic minimum
    # ("10" < "9") while the oracle picks the numeric one — a different
    # SURVIVOR (with different text) feeding the near-dup tier. Caught
    # by the sf0.001 cross-scale oracle sweep; int64 ids are also the
    # faster shuffle key.
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("id"),
        F.expr(_planted_urls_expr("div")).alias("url"),
        "text",
    )
    return dedup_funnel(
        d, "id", "text", url_col="url",
        config=DedupConfig(
            jaccard_threshold=0.5, min_substring_len=120,
            enable_simhash=False, neighbor_window=None,
        ),
    )


def _q_key_skew_profile(spark, sf_dir):
    """Hot-key diagnostics over the planted crawl hosts: top-15 hosts by
    row count with exact integer-ppm shares and cumulative
    concentration — the report every salting/cap decision in this
    engine starts from (`_buckets.py`, AQE skew pins). One partial+final
    agg + TakeOrderedAndProject; the window runs over the 15 retained
    rows only."""
    from rust_gd_spark.operators.domainfilter import extract_host
    from rust_gd_spark.operators.skew import key_skew_profile

    hosts = _docs(spark, sf_dir).select(
        extract_host(F.expr(_planted_urls_expr("div"))).alias("host")
    )
    return key_skew_profile(hosts, "host", top_n=15).withColumnRenamed(
        "key", "host"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Order is load-bearing: the driver's correctness pass has a time
        # budget and in round 4 reached only the first ~50 entries, leaving
        # the tail unchecked. The least-recently-driver-verified and most
        # load-bearing queries therefore come FIRST (round-4 VERDICT task
        # 2): the GD family, the pipeline composites, and everything that
        # lacked an r4 row. The cheapest, most-stably-green relational
        # queries sit at the end where falling off the budget costs least.
        "gd_roundtrip": _q_gd_roundtrip,
        "gd_roundtrip_aligned": _q_gd_roundtrip_aligned,
        "gd_chunk_stats": _q_gd_chunk_stats,
        "transcript_clusters": _q_transcript_clusters,
        "training_data_prep": _q_training_data_prep,
        "cluster_representatives": _q_cluster_representatives,
        "embedding_dedup_clusters": _q_embedding_dedup_clusters,
        "incremental_clusters": _q_incremental_clusters,
        "conv_repetition": _q_conv_repetition,
        "substring_pairs": _q_substring_pairs,
        "multimodal_features": _q_multimodal_features,
        "event_type_pivot": _q_event_type_pivot,
        "event_rollup": _q_event_rollup,
        # new in round 5: the pruned-IVF recall row (hard oracle for the
        # approximate path) + conversation-level turn-set dedup
        "embedding_topk_ivf_pruned_recall": _q_embedding_topk_ivf_pruned_recall,
        "conversation_dups": _q_conversation_dups,
        "conversation_dup_clusters": _q_conversation_dup_clusters,
        "leakage_safe_split": _q_leakage_safe_split,
        "url_dedup": _q_url_dedup,
        "domain_filter": _q_domain_filter,
        "cdc_dedup_rewrite": _q_cdc_dedup_rewrite,
        # new in round 5 (final session): transcript-native turn-level ops
        "turn_retry_collapse": _q_turn_retry_collapse,
        "turn_loop_stats": _q_turn_loop_stats,
        "prefix_dup_conversations": _q_prefix_dup_conversations,
        "tool_masked_dups": _q_tool_masked_dups,
        # new in round 5 (session 2): GD cluster encoding, tier funnel,
        # skew diagnostics
        "cluster_deltas": _q_cluster_deltas,
        "dedup_funnel": _q_dedup_funnel,
        "key_skew_profile": _q_key_skew_profile,
        # new in round 5 (session 4): multi-turn template detection,
        # canned-response detection, cluster cohesion audit
        "turn_template_spans": _q_turn_template_spans,
        "canned_response_dups": _q_canned_response_dups,
        "cluster_quality_audit": _q_cluster_quality_audit,
        "bag_jaccard_pairs": _q_bag_jaccard_pairs,
        "decontam_attribution": _q_decontam_attribution,
        "recrawl_groups": _q_recrawl_groups,
        "ngram_novelty": _q_ngram_novelty,
        "conversation_sessions": _q_conversation_sessions,
        "template_span_removal": _q_template_span_removal,
        "dedup_rate_by_source": _q_dedup_rate_by_source,
        "jaccard_topk_neighbors": _q_jaccard_topk_neighbors,
        "quality_threshold_plan": _q_quality_threshold_plan,
        "dup_threshold_sensitivity": _q_dup_threshold_sensitivity,
        "dup_burst_windows": _q_dup_burst_windows,
        "source_length_outliers": _q_source_length_outliers,
        "lang_agreement": _q_lang_agreement,
        "snm_recall_audit": _q_snm_recall_audit,
        "role_alternation_audit": _q_role_alternation_audit,
        "length_histogram": _q_length_histogram,
        "pii_incidence": _q_pii_incidence,
        "ingest_hygiene": _q_ingest_hygiene,
        "packing_stats": _q_packing_stats,
        "embedding_hygiene": _q_embedding_hygiene,
        "conv_turns_histogram": _q_conv_turns_histogram,
        # session-3 families not yet covered by ANY driver pass — kept
        # inside the driver's ~50-query budget window (round-4 VERDICT
        # task 2's rule: least-recently-driver-verified first)
        "compaction_plan": _q_compaction_plan,
        "source_overlap": _q_source_overlap,
        "source_overlap_near_dup": _q_source_overlap_near_dup,
        "incremental_near_dups": _q_incremental_near_dups,
        "containment_pairs": _q_containment_pairs,
        "minhash_bbit_pairs": _q_minhash_bbit_pairs,
        "bbit_estimate_audit": _q_bbit_estimate_audit,
        "snm_candidates": _q_snm_candidates,
        "snm_pairs": _q_snm_pairs,
        "lsh_param_plan": _q_lsh_param_plan,
        # oracle-checked, driver-green in r4
        "exact_dedup": _q_exact_dedup,
        "ngram_jaccard_pairs": _q_ngram_jaccard,
        "minhash_lsh_pairs": _q_minhash_lsh,
        "minhash_lsh_pairs_oph": _q_minhash_lsh_oph,
        "bloom_dedup_newbatch": _q_bloom_dedup,
        "decontam_ngrams": _q_decontam,
        "decontam_fuzzy": _q_decontam_fuzzy,
        "quality_classifier": _q_quality_classifier,
        "ngram_topk": _q_ngram_topk,
        "soft_dedup_weights": _q_soft_dedup_weights,
        "soft_dedup_sample": _q_soft_dedup_sample,
        "doc_text_stats": _q_text_stats,
        "doc_quality_lang": _q_quality_lang,
        "pii_redaction": _q_pii_redaction,
        "stratified_sample": _q_stratified_sample,
        "mixture_plan": _q_mixture_plan,
        "doc_repetition": _q_doc_repetition,
        "boilerplate_lines": _q_boilerplate_lines,
        "c4_clean": _q_c4_clean,
        "sequence_packing": _q_sequence_packing,
        "doc_chunks": _q_doc_chunks,
        "snapshot_diff": _q_snapshot_diff,
        "tfidf_topk": _q_tfidf_topk,
        "exact_k_sample": _q_exact_k_sample,
        "unigram_xent": _q_unigram_xent,
        "dsir_weights": _q_dsir_weights,
        "cdc_chunks": _q_cdc_chunks,
        "cdc_chunk_store": _q_cdc_chunk_store,
        "cdc_delta": _q_cdc_delta,
        "xent_mixture_sample": _q_xent_mixture_sample,
        "corpus_profile": _q_corpus_profile,
        "training_shuffle": _q_training_shuffle,
        "dedup_ratio_metric": _q_dedup_metrics,
        "embedding_topk_cosine": _q_embedding_topk,
        "embedding_topk_blocked": _q_embedding_topk_blocked,
        "embedding_topk_ivf": _q_embedding_topk_ivf,
        "embedding_topk_ivf_pruned": _q_embedding_topk_ivf_pruned,
        "embedding_cosine_pairs": _q_embedding_cosine_pairs,
        "embedding_ann_lsh": _q_embedding_ann_lsh,
        "embedding_ann_highsim": _q_embedding_ann_highsim,
        "embedding_decontam": _q_embedding_decontam,
        "window_reassembly": _q_window_reassembly,
        "window_rank": _q_window_rank,
        "join_agg_segment": _q_join_agg,
        "lineitem_pricing": _q_lineitem_pricing,
        "event_window_stats": _q_event_window_stats,
        "session_windows": _q_session_windows,
        "asof_join_events": _q_asof_join_events,
        "range_join_events": _q_range_join_events,
        "event_quantiles": _q_event_quantiles,
        # rows-only (non-SQL-expressible: simhash fingerprint family; GD
        # base/deviation byte contents — chunk counts ARE oracle-checked
        # via gd_chunk_stats, round-trip via gd_roundtrip). Deliberately
        # LAST: under a count-bounded driver budget these produce only
        # the weak rows-only signal, so they are the right rows to fall
        # outside the window; each is pytest-pinned (recall/planted-d
        # properties) independently of the driver.
        "simhash_pairs": _q_simhash_pairs,
        "simhash_rotation_pairs": _q_simhash_rotation_pairs,
        "gd_decompose_metrics": _q_gd_decompose_metrics,
    }


# ---------------------------------------------------------------------------
# oracles (DuckDB dialect)
# ---------------------------------------------------------------------------

_NORM = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"
_TOKS = f"string_split_regex({_NORM}, '\\s+')"
def _shingles_sql(w: int) -> str:
    """DuckDB expression for the word ``w``-gram list of ``text`` —
    byte-identical semantics to ``minhash.shingle_df`` / ``ngrams
    .gram_strings`` (normalize, w-grams, whole-text fallback)."""
    return (
        f"case when len({_TOKS}) >= {w} then "
        f"list_transform(range(0, len({_TOKS}) - {w} + 1), "
        f"i -> array_to_string(list_slice({_TOKS}, i + 1, i + {w}), ' ')) "
        f"else [coalesce(array_to_string({_TOKS}, ' '), '')] end"
    )


_SHINGLES = _shingles_sql(SHINGLE_W)

_JACCARD_SQL = f"""
with sh as (
  select doc_id, unnest({_SHINGLES}) as s from documents
),
d as (select distinct doc_id, s from sh),
sizes as (select doc_id, count(*) as n from d group by doc_id),
common as (
  select l.doc_id as id_l, r.doc_id as id_r, count(*) as c
  from d l join d r on l.s = r.s and l.doc_id < r.doc_id
  group by 1, 2
)
select c.id_l, c.id_r,
       round(c.c::double / (sl.n + sr.n - c.c), 6) as jaccard
from common c
join sizes sl on sl.doc_id = c.id_l
join sizes sr on sr.doc_id = c.id_r
where c.c::double / (sl.n + sr.n - c.c) >= {JACCARD_T}
"""

def _snm_candidates_oracle_sql() -> str:
    from rust_gd_spark.operators.snm import snm_candidate_pairs_sql

    return snm_candidate_pairs_sql("documents", "doc_id", "text", window=10)


def _snm_pairs_oracle_sql() -> str:
    from rust_gd_spark.operators.snm import snm_candidate_pairs_sql

    cand = snm_candidate_pairs_sql("documents", "doc_id", "text", window=10)
    return f"""
        with cand as (
          select distinct least(id_l, id_r) as id_l,
                 greatest(id_l, id_r) as id_r
          from ({cand})
        )
        select j.id_l, j.id_r, j.jaccard
        from ({_JACCARD_SQL}) j
        join cand using (id_l, id_r)
    """


def _containment_oracle_sql() -> str:
    from rust_gd_spark.operators.containment import exact_containment_pairs_sql

    inner = exact_containment_pairs_sql("caug", "doc_id", _SHINGLES, threshold=0.8)
    return f"""
        with caug as (
          select doc_id, text from documents
          union all
          select doc_id + 40000000, substring(text, 1, 200) from documents
          where length(text) > 400
        ),
        {inner.lstrip().removeprefix('with')}
    """


def _source_overlap_oracle_sql() -> str:
    from rust_gd_spark.operators.overlap import source_overlap_matrix_sql

    inner = source_overlap_matrix_sql("maug")
    return f"""
        with maug as (
          select doc_id, text, source from documents
          union all
          select doc_id + 10000000, text, 'mirror' from documents
          where doc_id % 9 = 0
          union all
          select doc_id + 20000000, text, source from documents
          where doc_id % 13 = 0
        ),
        {inner.lstrip().removeprefix('with')}
    """


def _lsh_param_plan_oracle_sql() -> str:
    from rust_gd_spark.operators.lshplan import lsh_parameter_plan_sql

    return lsh_parameter_plan_sql(num_perm=128, threshold=JACCARD_T, grid=1000)


def _compaction_plan_oracle_sql() -> str:
    from rust_gd_spark.operators.compaction import compaction_plan_sql

    inner = compaction_plan_sql("fstats", "path", "bytes", target_bytes=32768)
    return f"""
        with fstats as (
          select printf('part-%05d', (doc_id % 97)::int) as path,
                 sum(length(text))::bigint as bytes
          from documents group by 1
        ),
        {inner.lstrip().removeprefix('with')}
    """


def _bbit_estimate_oracle_sql() -> str:
    from rust_gd_spark.operators.bbit import bbit_estimate_md5_sql

    return bbit_estimate_md5_sql(
        "(select * from documents where doc_id % 5 = 0)",
        "doc_id",
        _SHINGLES,
        num_perm=16,
        b=8,
    )


# uid mapping of _transcripts_from_docs, in SQL: conv = doc_id % 50,
# turn_idx = row_number within conv ordered by doc_id - 1 = doc_id // 50
_UID_SQL = "printf('conv-%04d:%d', (doc_id % 50)::int, (doc_id // 50)::int)"

_SUBSTRING_WINS = """
  select distinct doc_id, md5(substr(text, i, 120)) as h
  from documents, unnest(range(1, length(text) - 118)) as t(i)
  where length(text) >= 120
"""

_SUBSTRING_SQL = f"""
with wins as ({_SUBSTRING_WINS})
select l.doc_id as id_l, r.doc_id as id_r, 120 as common_len
from wins l join wins r on l.h = r.h and l.doc_id < r.doc_id
group by 1, 2
"""

# Connected components over exact + jaccard edges only (the streaming
# path's scope); cluster_id = min member uid.
_INC_CLUSTERS_SQL = f"""
with recursive
sh as (select doc_id, unnest({_SHINGLES}) as s from documents),
dsh as (select distinct doc_id, s from sh),
sizes as (select doc_id, count(*) as n from dsh group by doc_id),
common as (
  select l.doc_id as a, r.doc_id as b, count(*) as c
  from dsh l join dsh r on l.s = r.s and l.doc_id < r.doc_id
  group by 1, 2
),
jac as (
  select c.a, c.b from common c
  join sizes sl on sl.doc_id = c.a join sizes sr on sr.doc_id = c.b
  where c.c::double / (sl.n + sr.n - c.c) >= {JACCARD_T}
),
ex as (
  select min(doc_id) over (partition by md5(coalesce(text, ''))) as a,
         doc_id as b
  from documents
),
edges as (
  select a, b from ex where a <> b
  union select a, b from jac
),
sym as (select a, b from edges union select b as a, a as b from edges),
reach(src, dst) as (
  select doc_id, doc_id from documents
  union
  select r.src, s.b from reach r join sym s on r.dst = s.a
),
comp as (select src as doc_id, min(dst) as root from reach group by src),
uids as (select {_UID_SQL} as uid, root from comp)
select u.uid as id, m.cid as cluster_id
from uids u join (select root, min(uid) as cid from uids group by root) m
  using (root)
"""

# Connected components over the SQL-expressible edge set (exact + jaccard
# + substring) via transitive closure; cluster_id = min member uid.
_CLUSTERS_SQL = f"""
with recursive
sh as (select doc_id, unnest({_SHINGLES}) as s from documents),
dsh as (select distinct doc_id, s from sh),
sizes as (select doc_id, count(*) as n from dsh group by doc_id),
common as (
  select l.doc_id as a, r.doc_id as b, count(*) as c
  from dsh l join dsh r on l.s = r.s and l.doc_id < r.doc_id
  group by 1, 2
),
jac as (
  select c.a, c.b from common c
  join sizes sl on sl.doc_id = c.a join sizes sr on sr.doc_id = c.b
  where c.c::double / (sl.n + sr.n - c.c) >= {JACCARD_T}
),
wins as ({_SUBSTRING_WINS}),
sub as (
  select l.doc_id as a, r.doc_id as b
  from wins l join wins r on l.h = r.h and l.doc_id < r.doc_id
  group by 1, 2
),
ex as (
  select min(doc_id) over (partition by md5(coalesce(text, ''))) as a,
         doc_id as b
  from documents
),
edges as (
  select a, b from ex where a <> b
  union select a, b from jac
  union select a, b from sub
),
sym as (select a, b from edges union select b as a, a as b from edges),
reach(src, dst) as (
  select doc_id, doc_id from documents
  union
  select r.src, s.b from reach r join sym s on r.dst = s.a
),
comp as (select src as doc_id, min(dst) as root from reach group by src),
uids as (select {_UID_SQL} as uid, root from comp)
select u.uid as id, m.cid as cluster_id
from uids u join (select root, min(uid) as cid from uids group by root) m
  using (root)
"""

# Survivorship over the same closure: rep = longest text (UTF-8 bytes,
# NULL→''), ties → smallest uid; byte accounting per cluster.
_CLUSTER_REPS_SQL = f"""
with clus as ({_CLUSTERS_SQL}),
txt as (
  select {_UID_SQL} as uid,
         octet_length(encode(coalesce(text, ''))) as nb
  from documents
),
m as (
  select c.cluster_id, c.id, t.nb
  from clus c join txt t on t.uid = c.id
),
r as (
  select cluster_id, id, nb,
         row_number() over (partition by cluster_id
                            order by nb desc, id) as rk
  from m
)
select cluster_id,
       max(case when rk = 1 then id end) as rep_id,
       count(*) as cluster_size,
       sum(nb)::bigint as total_bytes,
       max(case when rk = 1 then nb end)::bigint as kept_bytes
from r
group by cluster_id
"""

# training_data_prep: quality gate (rounded score >= 0.7) → decontam vs the
# doc_id%20 slice (rounded containment < 0.5) → transitive closure over
# exact+jaccard+substring edges among the survivors → survivorship with the
# kept member's quality. Mirrors rust_gd_spark/prep.py gate-for-gate.
_PREP_SQL = f"""
with recursive
passed as (
  select doc_id, text, round({ts.quality_score_sql('text')}, 6) as quality
  from documents
  where round({ts.quality_score_sql('text')}, 6) >= 0.7
),
allsh as (select doc_id, unnest({_SHINGLES}) as s from documents),
refg as (select distinct s from allsh where doc_id % 20 = 0),
psh_raw as (select doc_id, unnest({_SHINGLES}) as s from passed),
psh as (select distinct doc_id, s from psh_raw),
sizes as (select doc_id, count(*) as n from psh group by doc_id),
hits as (
  select p.doc_id, count(*) as c from psh p join refg using (s)
  group by p.doc_id
),
clean as (
  select p.doc_id, p.text, p.quality
  from passed p
  join sizes s using (doc_id)
  left join hits h using (doc_id)
  where round(coalesce(h.c, 0)::double / greatest(s.n, 1), 6) < 0.5
),
csh as (select p.doc_id, p.s from psh p join clean using (doc_id)),
csizes as (select doc_id, count(*) as n from csh group by doc_id),
common as (
  select l.doc_id as a, r.doc_id as b, count(*) as c
  from csh l join csh r on l.s = r.s and l.doc_id < r.doc_id
  group by 1, 2
),
jac as (
  select c.a, c.b from common c
  join csizes sl on sl.doc_id = c.a join csizes sr on sr.doc_id = c.b
  where c.c::double / (sl.n + sr.n - c.c) >= {JACCARD_T}
),
wins as (
  select distinct doc_id, md5(substr(text, i, 120)) as h
  from clean, unnest(range(1, length(text) - 118)) as t(i)
  where length(text) >= 120
),
sub as (
  select l.doc_id as a, r.doc_id as b
  from wins l join wins r on l.h = r.h and l.doc_id < r.doc_id
  group by 1, 2
),
ex as (
  select min(doc_id) over (partition by md5(coalesce(text, ''))) as a,
         doc_id as b
  from clean
),
edges as (
  select a, b from ex where a <> b
  union select a, b from jac
  union select a, b from sub
),
sym as (select a, b from edges union select b as a, a as b from edges),
reach(src, dst) as (
  select doc_id, doc_id from clean
  union
  select r.src, s.b from reach r join sym s on r.dst = s.a
),
comp as (select src as doc_id, min(dst) as root from reach group by src),
m as (
  select comp.root, comp.doc_id,
         octet_length(encode(coalesce(c.text, ''))) as nb, c.quality
  from comp join clean c using (doc_id)
),
rr as (
  select root, doc_id, nb, quality,
         row_number() over (partition by root order by nb desc, doc_id) as rk
  from m
)
select root as cluster_id,
       max(case when rk = 1 then doc_id end) as rep_id,
       count(*) as cluster_size,
       sum(nb)::bigint as total_bytes,
       max(case when rk = 1 then nb end)::bigint as kept_bytes,
       max(case when rk = 1 then quality end) as rep_quality
from rr
group by root
"""

# embedding_dedup_clusters: transitive closure over the exact cosine>=0.35
# pair graph (same edge predicate as the embedding_cosine_pairs oracle).
_EMB_CLUSTERS_SQL = """
with recursive
n as (
  select vec_id,
         list_transform(embedding, x -> x::double /
           sqrt(list_sum(list_transform(embedding, y -> y::double * y::double))))
           as v
  from embeddings
),
pairs as (
  select l.vec_id as a, r.vec_id as b
  from n l join n r on l.vec_id < r.vec_id
  where round(list_sum(list_transform(range(1, len(l.v) + 1),
              i -> l.v[i] * r.v[i])), 6) >= 0.35
),
sym as (select a, b from pairs union select b as a, a as b from pairs),
reach(src, dst) as (
  select vec_id, vec_id from embeddings
  union
  select r.src, s.b from reach r join sym s on r.dst = s.a
)
select src as vec_id, min(dst) as cluster_id from reach group by src
"""

_EMB_TOPK_SQL = f"""
with n as (
  select vec_id,
         list_transform(embedding, x -> x::double /
           sqrt(list_sum(list_transform(embedding, y -> y::double * y::double))))
           as v
  from embeddings
),
sims as (
  select l.vec_id as vec_id, r.vec_id as neighbor_id,
         round(list_sum(list_transform(range(1, len(l.v) + 1),
               i -> l.v[i] * r.v[i])), 6) as cosine
  from n l join n r on l.vec_id <> r.vec_id
)
select vec_id, neighbor_id, cosine,
       row_number() over (partition by vec_id order by cosine desc, neighbor_id) as rank
from sims
qualify rank <= {TOPK}
"""

def _url_dedup_oracle_sql() -> str:
    from rust_gd_spark.operators.urldedup import canonicalize_url_sql

    return f"""
        with urls as (
          select doc_id, ({_planted_urls_expr("//")}) as url
          from documents
        ),
        keyed as (
          select doc_id, url,
                 {canonicalize_url_sql("url")} as canonical_url
          from urls
        ),
        groups as (
          select canonical_url, min(doc_id) as canonical_id,
                 count(*) as group_size
          from keyed group by canonical_url
        )
        select k.doc_id, k.url, k.canonical_url,
               g.canonical_id, g.group_size
        from keyed k join groups g using (canonical_url)
    """


def _domain_filter_oracle_sql() -> str:
    from rust_gd_spark.functions import quality_model as qm
    from rust_gd_spark.operators.domainfilter import extract_host_sql

    return f"""
        with urls as (
          select doc_id,
                 ({_planted_urls_expr("//")}) as url,
                 case when (doc_id // 4) % 11 < 3 and doc_id % 3 = 0
                      then '{_QM_SOUP}' else text end as text
          from documents
        ),
        scored as (
          select doc_id, url, {qm.quality_keep_sql('text')} as keep
          from urls
        ),
        hosted as (
          select doc_id, keep, {extract_host_sql('url')} as host
          from scored
        ),
        stats as (
          select host, count(*) as host_docs,
                 sum(case when keep then 1 else 0 end)::bigint
                   as host_keep_docs,
                 sum(case when keep then 1 else 0 end)::bigint / count(*)
                   as keep_ratio
          from hosted group by host
        )
        select h.doc_id, h.host, h.keep,
               s.host_docs, s.host_keep_docs, s.keep_ratio
        from hosted h join stats s using (host)
        where s.keep_ratio >= 0.8 and s.host_docs >= 2
    """


def _leakage_split_oracle_sql() -> str:
    from rust_gd_spark.operators.sampling import leakage_safe_split_sql

    split = leakage_safe_split_sql("cluster_id", 0.8, seed=11)
    return f"""
        select id, cluster_id, {split} as split
        from ({_CLUSTERS_SQL}) clustered
    """


def _cluster_deltas_oracle_sql() -> str:
    # p = longest common prefix of member a / rep b, s = longest common
    # suffix of the post-prefix remainders. Both are monotone in their
    # index (a longer equal prefix/suffix implies all shorter ones), so
    # count(*) over the equality predicate IS the max length — the
    # correlated scalar form runs only on delta rows (a few dozen).
    return f"""
        with clus as ({_CLUSTERS_SQL}),
        txt as (
          select {_UID_SQL} as uid, coalesce(text, '') as txt,
                 octet_length(encode(coalesce(text, ''))) as nb
          from documents
        ),
        mem as (
          select c.cluster_id, c.id, t.txt, t.nb
          from clus c join txt t on t.uid = c.id
        ),
        rk as (
          select cluster_id, id, txt, nb,
                 row_number() over (partition by cluster_id
                                    order by nb desc, id) as r
          from mem
        ),
        reps as (
          select cluster_id, id as rep_id, txt as rep_txt from rk where r = 1
        ),
        m as (
          select k.id, k.cluster_id, p.rep_id, k.txt as a, p.rep_txt as b
          from rk k join reps p using (cluster_id)
        ),
        base as (
          select id, cluster_id, rep_id, 'base' as kind,
                 0::bigint as prefix_chars, 0::bigint as suffix_chars,
                 a as deviation,
                 length(a)::bigint as orig_chars,
                 length(a)::bigint as dev_chars
          from m where id = rep_id
        ),
        mdelta as (select * from m where id <> rep_id),
        nums as (
          select unnest(range(
            1, coalesce((select max(length(txt)) from txt), 0) + 1
          )) as i
        ),
        p1 as (
          select d.id, count(*) as p
          from mdelta d join nums n
            on n.i <= least(length(d.a), length(d.b))
           and substr(d.a, 1, n.i::int) = substr(d.b, 1, n.i::int)
          group by d.id
        ),
        ps as (
          select d.*, coalesce(p1.p, 0) as p
          from mdelta d left join p1 using (id)
        ),
        s1 as (
          select d.id, count(*) as s
          from ps d join nums n
            on n.i <= least(length(d.a), length(d.b)) - d.p
           and right(substr(d.a, d.p::int + 1), n.i::int)
             = right(substr(d.b, d.p::int + 1), n.i::int)
          group by d.id
        ),
        ps2 as (
          select d.*, coalesce(s1.s, 0) as s from ps d left join s1 using (id)
        ),
        delta as (
          select id, cluster_id, rep_id, 'delta' as kind,
                 p::bigint as prefix_chars, s::bigint as suffix_chars,
                 substr(a, p::int + 1,
                        greatest(length(a) - p - s, 0)::int) as deviation,
                 length(a)::bigint as orig_chars,
                 (length(a) - p - s)::bigint as dev_chars
          from ps2
        )
        select * from base union all select * from delta
    """


def _dedup_funnel_oracle_sql() -> str:
    from rust_gd_spark.operators.urldedup import canonicalize_url_sql

    return f"""
        with recursive t0 as (
          select doc_id, ({_planted_urls_expr("//")}) as url, text
          from documents
        ),
        keyed as (
          select doc_id, {canonicalize_url_sql("url")} as cu from t0
        ),
        s1 as (select min(doc_id) as doc_id from keyed group by cu),
        d1 as (select t0.doc_id, t0.text from t0 join s1 using (doc_id)),
        e as (
          select min(doc_id) as doc_id from d1
          group by md5(coalesce(text, ''))
        ),
        d2 as (select d1.doc_id, d1.text from d1 join e using (doc_id)),
        sh as (select doc_id, unnest({_SHINGLES}) as s from d2),
        dsh as (select distinct doc_id, s from sh),
        sizes as (select doc_id, count(*) as n from dsh group by doc_id),
        common as (
          select l.doc_id as a, r.doc_id as b, count(*) as c
          from dsh l join dsh r on l.s = r.s and l.doc_id < r.doc_id
          group by 1, 2
        ),
        jac as (
          select c.a, c.b from common c
          join sizes sl on sl.doc_id = c.a
          join sizes sr on sr.doc_id = c.b
          where c.c::double / (sl.n + sr.n - c.c) >= {JACCARD_T}
        ),
        wins as (
          select distinct doc_id, md5(substr(text, i, 120)) as h
          from d2, unnest(range(1, length(text) - 118)) as t(i)
          where length(text) >= 120
        ),
        sub as (
          select l.doc_id as a, r.doc_id as b
          from wins l join wins r on l.h = r.h and l.doc_id < r.doc_id
          group by 1, 2
        ),
        edges as (select a, b from jac union select a, b from sub),
        sym as (select a, b from edges union select b as a, a as b from edges),
        reach(src, dst) as (
          select doc_id, doc_id from d2
          union
          select r.src, s2.b from reach r join sym s2 on r.dst = s2.a
        ),
        comp as (select src, min(dst) as root from reach group by src),
        counts as (
          select (select count(*) from t0) as n0,
                 (select count(*) from d1) as n1,
                 (select count(*) from d2) as n2,
                 (select count(distinct root) from comp) as n3
        )
        select 1::bigint as tier_idx, 'url' as tier, n0::bigint as docs_in,
               (n0 - n1)::bigint as docs_removed, n1::bigint as docs_out
        from counts
        union all
        select 2::bigint, 'exact', n1::bigint, (n1 - n2)::bigint, n2::bigint
        from counts
        union all
        select 3::bigint, 'near_dup', n2::bigint, (n2 - n3)::bigint,
               n3::bigint
        from counts
    """


def _key_skew_oracle_sql() -> str:
    from rust_gd_spark.operators.domainfilter import extract_host_sql
    from rust_gd_spark.operators.skew import key_skew_profile_sql

    host_expr = extract_host_sql(f"({_planted_urls_expr('//')})")
    src = f"select {host_expr} as host from documents"
    inner = key_skew_profile_sql(src, "host", top_n=15)
    return f"""
        select rank, key as host, cnt, total_rows, distinct_keys,
               share_ppm, cum_share_ppm
        from ({inner}) profiled
    """


# Conversation-level dedup oracles: the planted-conversation table in SQL
# (twin of _aug_conversations — conv = doc_id % 50, turn_idx = doc_id //
# 50), then the exact inverted-index pair computation / the recursive-CTE
# closure for clusters.
_AUG_CONVS_SQL = """
  base as (
    select printf('conv-%04d', (doc_id % 50)::int) as conv_id,
           (doc_id // 50)::int as ti, (doc_id % 50)::int as cn, text
    from documents
  ),
  aug as (
    select conv_id, text from base
    union all
    select conv_id || '-relog', text from base where cn % 5 = 0 and ti % 10 != 9
    union all
    select conv_id || '-half', text from base where cn % 7 = 0 and ti % 2 = 0
  )
"""


def _conversation_dups_oracle_sql() -> str:
    from rust_gd_spark.operators.convdedup import conversation_dup_pairs_sql

    inner = conversation_dup_pairs_sql(
        "aug", "conv_id", "text", 0.5, measure="jaccard"
    )
    return f"with {_AUG_CONVS_SQL}, {inner.lstrip().removeprefix('with')}"


_CONV_CLUSTERS_SQL = f"""
with recursive
{_AUG_CONVS_SQL},
csets as (
  select distinct conv_id as conv,
         md5(trim(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]+', ' ', 'g'))) as h
  from aug
),
csizes as (select conv, count(*) as n from csets group by 1),
ccommon as (
  select l.conv as a, r.conv as b, count(*) as c
  from csets l join csets r on l.h = r.h and l.conv < r.conv
  group by 1, 2
),
cpairs as (
  select c.a, c.b from ccommon c
  join csizes sl on sl.conv = c.a join csizes sr on sr.conv = c.b
  where round(c.c::double / (sl.n + sr.n - c.c), 6) >= 0.5
),
csym as (select a, b from cpairs union select b as a, a as b from cpairs),
creach(src, dst) as (
  select conv, conv from csizes
  union
  select r.src, s.b from creach r join csym s on r.dst = s.a
)
select src as conv, min(dst) as cluster_id from creach group by 1
"""

# DuckDB twin of ivf_pruned_recall: the ENTIRE pruned-IVF path (hash-
# selected centroids, 6-dp-rounded cell assignment, n_probe nearest cells,
# candidates = probe cell ∩ neighbor home cell, exact cosine re-rank,
# top-k) re-expressed in SQL, then per-vector hit count vs the exhaustive
# top-k. Every ranking key is the ROUNDED cosine with an id tie-break, so
# numpy's pairwise-sum dots and DuckDB's sequential list_sum agree.
_IVF_RECALL_SQL = f"""
with n as (
  select vec_id,
         list_transform(embedding, x -> x::double /
           sqrt(list_sum(list_transform(embedding, y -> y::double * y::double))))
           as v
  from embeddings
),
cent as (
  select v, row_number() over (order by md5(vec_id::varchar), vec_id) - 1 as cell
  from n
  qualify row_number() over (order by md5(vec_id::varchar), vec_id) <= 16
),
dots as (
  select n.vec_id, c.cell,
         round(list_sum(list_transform(range(1, len(n.v) + 1),
               i -> n.v[i] * c.v[i])), 6) as d
  from n, cent c
),
ranked as (
  select vec_id, cell,
         row_number() over (partition by vec_id order by d desc, cell) as cr
  from dots
),
home as (select vec_id, cell from ranked where cr = 1),
probes as (select vec_id, cell from ranked where cr <= 4),
cand as (
  select p.vec_id as vec_id, h.vec_id as neighbor_id, p.cell
  from probes p join home h on p.cell = h.cell and p.vec_id <> h.vec_id
),
pruned as (
  select c.vec_id, c.neighbor_id,
         row_number() over (partition by c.vec_id order by
           round(list_sum(list_transform(range(1, len(l.v) + 1),
                 i -> l.v[i] * r.v[i])), 6) desc, c.neighbor_id) as rank
  from cand c
  join n l on l.vec_id = c.vec_id
  join n r on r.vec_id = c.neighbor_id
  qualify rank <= {TOPK}
),
exact as (
  select l.vec_id as vec_id, r.vec_id as neighbor_id,
         row_number() over (partition by l.vec_id order by
           round(list_sum(list_transform(range(1, len(l.v) + 1),
                 i -> l.v[i] * r.v[i])), 6) desc, r.vec_id) as rank
  from n l join n r on l.vec_id <> r.vec_id
  qualify rank <= {TOPK}
)
select x.vec_id,
       sum(case when p.neighbor_id is not null then 1 else 0 end)::int as n_hits,
       round(sum(case when p.neighbor_id is not null then 1 else 0 end)::double
             / count(*), 6) as recall
from exact x
left join pruned p on p.vec_id = x.vec_id and p.neighbor_id = x.neighbor_id
group by 1
"""


def _pii_oracle_sql() -> str:
    from rust_gd_spark.functions import pii

    cnts = ", ".join(
        f"{pii.pii_count_sql('text', k)} as n_{k}" for k, _, _ in pii.PII_PATTERNS
    )
    tot = " + ".join(f"n_{k}" for k, _, _ in pii.PII_PATTERNS)
    return f"""
        select id, n_email, n_ssn, n_ipv4, n_phone, {tot} as n_pii,
               redacted_text
        from (
          select doc_id as id, {cnts},
                 {pii.redact_pii_sql('text')} as redacted_text
          from documents
        )
    """


def _quality_classifier_oracle_sql() -> str:
    from rust_gd_spark.functions import quality_model as qm

    return f"""
        with docs as (
          select doc_id,
                 case when doc_id % 9 = 0 then '{_QM_SOUP}'
                      else text end as text
          from documents
        )
        select doc_id,
               round({qm.quality_logit_sql('text')}, 6) as logit,
               round({qm.quality_prob_sql('text')}, 6) as prob,
               {qm.quality_keep_sql('text')} as keep
        from docs
    """


def _boilerplate_oracle_sql() -> str:
    from rust_gd_spark.operators.boilerplate import boilerplate_lines_sql

    planted = f"""(
        select doc_id,
               text
               || case when doc_id % 5 = 0
                       then chr(10) || '{_BP_FOOTER1}' else '' end
               || case when doc_id % 7 = 0
                       then chr(10) || chr(10) || '{_BP_FOOTER2}' else '' end
                 as text
        from documents
    )"""
    return boilerplate_lines_sql(planted, "doc_id", "text", min_docs=2)


def _c4_oracle_sql() -> str:
    from rust_gd_spark.functions.c4 import c4_line_filter_sql

    planted = """(
        select doc_id,
               case when doc_id % 11 = 0 then text || ' lorem ipsum.'
                    when doc_id % 3 = 0 then text || '.'
                    else text end as text
        from documents
    )"""
    return c4_line_filter_sql(
        planted, "doc_id", "text", min_words=5, min_kept_lines=1
    )


def _stratified_oracle_sql() -> str:
    from rust_gd_spark.operators.sampling import stratified_sample_sql

    pred = stratified_sample_sql(
        "doc_id", "(doc_id % 3)", _MIX_FRACTIONS, default_fraction=0.0
    )
    return f"""
        select doc_id, (doc_id % 3)::varchar as src
        from documents where {pred}
    """


def _mixture_plan_oracle_sql() -> str:
    from rust_gd_spark.operators.sampling import mixture_plan_sql

    return mixture_plan_sql(
        "documents", "source", _PLAN_WEIGHTS, _PLAN_BUDGET, "n_chars"
    )


def _doc_repetition_oracle_sql() -> str:
    from rust_gd_spark.operators.repetition import (
        dup_line_stats_sql,
        top_bigram_stats_sql,
    )

    return f"""
        with lines as ({dup_line_stats_sql('documents', 'doc_id', 'text')}),
        grams as ({top_bigram_stats_sql('documents', 'doc_id', 'text')})
        select coalesce(l.id, g.id) as id,
               l.n_lines, l.dup_line_frac, l.dup_line_char_frac,
               g.n_tokens, g.top_bigram_count, g.top_bigram_char_frac
        from lines l full join grams g on l.id = g.id
    """


def _sequence_packing_oracle_sql() -> str:
    from rust_gd_spark.functions.textstats import token_count_sql
    from rust_gd_spark.operators.packing import pack_sequences_sql

    return pack_sequences_sql(
        "documents", "doc_id", token_count_sql("text"),
        PACK_CAPACITY, PACK_SHARDS,
    )


def _doc_chunks_oracle_sql() -> str:
    from rust_gd_spark.operators.chunking import chunk_by_tokens_sql

    inner = chunk_by_tokens_sql(
        "documents", "doc_id", "text", CHUNK_SIZE, CHUNK_STRIDE
    )
    return f"""
        select id as doc_id, chunk_idx, chunk_text, chunk_tokens
        from ({inner})
    """


def _corpus_profile_oracle_sql() -> str:
    from rust_gd_spark.functions.textstats import token_count_sql

    tc = token_count_sql("text")
    return f"""
        select source,
               count(*) as n_docs,
               count(distinct md5(coalesce(text, ''))) as n_distinct_texts,
               sum({tc})::bigint as total_tokens,
               round(sum(n_chars) / count(*), 6) as avg_chars
        from documents
        group by source
    """


def _xent_mixture_oracle_sql() -> str:
    from rust_gd_spark.operators.lm import unigram_xent_sql
    from rust_gd_spark.operators.sampling import weighted_sample_sql

    inner = unigram_xent_sql("documents", "doc_id", "text")
    arms = " ".join(
        f"when bucket = {v} then {float(w)!r}"
        for v, w in sorted(MIX_WEIGHTS.items())
    )
    keep = weighted_sample_sql("b.id", "pf.fraction", seed=0)
    return f"""
        with x as ({inner}),
        mm as (select min(xent) as lo, max(xent) as hi from x),
        b as (
          select x.id, x.xent,
                 (case when mm.hi = mm.lo then 0
                       else least(3, floor((x.xent - mm.lo)
                                           / ((mm.hi - mm.lo) / 4)))
                  end)::int as bucket
          from x, mm
        ),
        plan as (select bucket, count(*) as actual_size from b group by 1),
        pf as (
          select bucket,
                 round(least(1.0,
                             (case {arms} else 0.0 end) * {MIX_BUDGET}
                             / greatest(actual_size, 1)::double), 6)
                   as fraction
          from plan
        )
        select b.id as doc_id, b.bucket, b.xent, pf.fraction
        from b join pf using (bucket)
        where {keep}
    """


def _cdc_chunks_oracle_sql() -> str:
    from rust_gd_spark.operators.cdc import cdc_chunks_sql

    inner = cdc_chunks_sql("documents", "doc_id", "text", CDC_DIVISOR, CDC_GRAM)
    return f"""
        select id as doc_id, chunk_idx, chunk_text, chunk_tokens, chunk_hash
        from ({inner})
    """


def _cdc_chunk_store_oracle_sql() -> str:
    from rust_gd_spark.operators.cdc import cdc_chunks_sql

    inner = cdc_chunks_sql("documents", "doc_id", "text", CDC_DIVISOR, CDC_GRAM)
    return f"""
        select chunk_hash,
               count(*)::bigint as n_copies,
               count(distinct id)::bigint as n_docs,
               min(chunk_tokens)::bigint as chunk_tokens,
               (min(id::bigint * 1000000000 + chunk_idx) // 1000000000)::bigint
                 as first_id,
               (min(id::bigint * 1000000000 + chunk_idx) % 1000000000)::bigint
                 as first_chunk_idx
        from ({inner})
        group by chunk_hash
    """


def _cdc_dedup_rewrite_oracle_sql() -> str:
    from rust_gd_spark.operators.cdc import cdc_chunks_sql, cdc_dedup_rewrite_sql

    inner = cdc_chunks_sql("documents", "doc_id", "text", CDC_DIVISOR, CDC_GRAM)
    body = cdc_dedup_rewrite_sql(inner)
    return f"""
        select id as doc_id, deduped_text,
               chunks_kept, chunks_dropped, tokens_kept, tokens_dropped
        from ({body})
    """


def _cdc_delta_oracle_sql() -> str:
    from rust_gd_spark.operators.cdc import cdc_chunks_sql, cdc_delta_sql

    new_tbl = (
        "(select doc_id, case when doc_id % 7 = 2 then"
        " coalesce(text, '') || ' [edit]' else text end as text"
        " from documents where doc_id % 13 != 5)"
    )
    old_tbl = "(select * from documents where doc_id % 11 != 3)"
    inner = cdc_delta_sql(
        cdc_chunks_sql(new_tbl, "doc_id", "text", CDC_DIVISOR, CDC_GRAM),
        cdc_chunks_sql(old_tbl, "doc_id", "text", CDC_DIVISOR, CDC_GRAM),
    )
    return f"""
        select id as doc_id, n_chunks, n_reused, n_new,
               reused_tokens, new_tokens
        from ({inner})
    """


def _training_shuffle_oracle_sql() -> str:
    from rust_gd_spark.operators.sampling import training_shuffle_sql

    return training_shuffle_sql(
        "documents", "doc_id", "doc_id", SHUFFLE_SHARDS, SHUFFLE_SEED
    )


def _snapshot_diff_oracle_sql() -> str:
    from rust_gd_spark.operators.snapshot import snapshot_diff_sql

    inner = snapshot_diff_sql(
        "(select * from documents where doc_id % 11 != 3)",
        "(select doc_id, case when doc_id % 7 = 2 then "
        "coalesce(text, '') || ' [edit]' else text end as text "
        "from documents where doc_id % 13 != 5)",
    )
    return f"select id as doc_id, status, old_key, new_key from ({inner})"


def _tfidf_oracle_sql() -> str:
    from rust_gd_spark.operators.tfidf import tfidf_topk_sql

    inner = tfidf_topk_sql("documents", "doc_id", "text", TFIDF_K)
    return f"""
        select id as doc_id, term, tf, doc_freq, score from ({inner})
    """


def _exact_k_oracle_sql() -> str:
    from rust_gd_spark.operators.sampling import exact_k_sample_sql

    return exact_k_sample_sql(
        "documents", "doc_id", "source", EXACT_K, select="doc_id, source"
    )


def _unigram_xent_oracle_sql() -> str:
    from rust_gd_spark.operators.lm import unigram_xent_sql

    inner = unigram_xent_sql("documents", "doc_id", "text")
    return f"select id as doc_id, n_tokens, xent from ({inner})"


def _dsir_oracle_sql() -> str:
    from rust_gd_spark.operators.dsir import dsir_logweights_sql

    inner = dsir_logweights_sql(
        "documents",
        "(select * from documents where doc_id % 17 = 0)",
        "doc_id",
        "text",
        n_buckets=DSIR_BUCKETS,
    )
    return f"select id as doc_id, n_ngrams, logw from ({inner})"


# Transcripts-from-docs in DuckDB form (twin of _transcripts_from_docs),
# with the conv number and 0-based in-conversation position exposed for
# the plant predicates.
_TURNS_BASE_SQL = """
  select printf('conv-%04d', (doc_id % 50)::int) as conv_id,
         (doc_id % 50)::int as num,
         (row_number() over (partition by doc_id % 50 order by doc_id) - 1)::int
           as tid,
         (['user','assistant','tool'])[(doc_id % 3 + 1)::int] as role,
         text
  from documents
"""

# Twin of _aug_tool_rerun_conversations: base transcripts + '-rerun'
# (tool-turn text gets ' req=<tid>') + '-edit' (user-turn text gets
# ' v2'), tool column NULL throughout (matches _transcripts_from_docs).
_TOOL_AUG_SQL = f"""
  tbase as ({_TURNS_BASE_SQL}),
  taug as (
    select conv_id, tid as turn_idx, role, text, null as tool from tbase
    union all
    select conv_id || '-rerun', tid, role,
           case when role = 'tool' then text || ' req=' || tid else text end,
           null
    from tbase where num % 4 = 1
    union all
    select conv_id || '-edit', tid, role,
           case when role = 'user' then text || ' v2' else text end, null
    from tbase where num % 4 = 2
  )
"""


def _tool_masked_oracle_sql() -> str:
    from rust_gd_spark.operators.convdedup import tool_masked_dup_groups_sql

    inner = tool_masked_dup_groups_sql("taug")
    return f"with {_TOOL_AUG_SQL}, {inner.lstrip().removeprefix('with')}"


def _sql_str(s: str) -> str:
    return s.replace("'", "''")


def _plant_values_sql(opening, base_idx) -> str:
    """VALUES rows twin of _plant_turns: (turn_idx, role, text)."""
    return ", ".join(
        f"({base_idx + i}, '{_sql_str(role)}', '{_sql_str(text)}')"
        for i, (role, text) in enumerate(opening)
    )


def _template_aug_sql() -> str:
    """Twin of _aug_template_conversations (shares the _OPENING_*
    constants, so the planted texts can never drift between engines)."""
    plants = []
    for mod, rem, opening, base in (
        (5, 0, _OPENING_A, -4),
        (5, 1, _OPENING_B, -3),
        (3, 0, _OPENING_C, 500),
        (10, 0, _OPENING_A, 1000),
    ):
        plants.append(f"""
          select c.conv_id, o.i::int, o.role, o.text
          from convs c, (values {_plant_values_sql(opening, base)})
               o(i, role, text)
          where c.num % {mod} = {rem}""")
    union = "\n          union all".join(plants)
    return f"""
      tr as ({_TURNS_BASE_SQL}),
      convs as (select distinct conv_id, num from tr),
      taug as (
        select conv_id, tid as turn_idx, role, text from tr
        union all{union}
      )
    """


def _template_spans_oracle_sql() -> str:
    from rust_gd_spark.operators.templates import turn_template_spans_sql

    inner = turn_template_spans_sql("taug", k=3, min_convs=2)
    return f"with {_template_aug_sql()}, {inner.lstrip().removeprefix('with')}"


def _template_removal_oracle_sql() -> str:
    # Twin of remove_template_turns over the same aug: positional
    # windows (row_number), qualifying templates, k-position coverage
    # via unnest(range), anti-join, dense re-index.
    return f"""
        with {_template_aug_sql()},
        th as (
          select conv_id as conv, turn_idx, role, text,
                 row_number() over (partition by conv_id
                                    order by turn_idx) - 1 as p,
                 md5(coalesce(role, '') || chr(31) || coalesce(text, ''))
                   as h
          from taug
        ),
        win as (
          select conv, p,
                 md5(h || lead(h, 1) over (partition by conv order by p)
                       || lead(h, 2) over (partition by conv order by p))
                   as template_hash
          from th
        ),
        tpl as (
          select template_hash, min(conv) as exemplar_conv
          from win where template_hash is not null
          group by 1 having count(distinct conv) >= 2
        ),
        cov as (
          select distinct w.conv, w.p + i.i as p
          from win w
          join tpl t using (template_hash),
               unnest(range(0, 3)) as i(i)
          where w.conv != t.exemplar_conv
        ),
        kept as (
          select th.* from th anti join cov using (conv, p)
        )
        select conv as conv_id, turn_idx, role, text,
               (row_number() over (partition by conv order by p) - 1)::int
                 as new_turn_idx
        from kept
    """


def _canned_aug_sql() -> str:
    """Twin of _aug_canned_conversations."""
    plants = []
    for mod, rem, text, idx in (
        (4, 0, _CANNED_1, 2000),
        (2, 0, _CANNED_1_MESSY, 2001),
        (7, 0, _CANNED_2, 2002),
        (7, 0, _CANNED_2, 2003),
    ):
        plants.append(f"""
          select conv_id, {idx}::int, 'assistant', '{_sql_str(text)}'
          from convs where num % {mod} = {rem}""")
    union = "\n          union all".join(plants)
    return f"""
      tr as ({_TURNS_BASE_SQL}),
      convs as (select distinct conv_id, num from tr),
      caug as (
        select conv_id, tid as turn_idx, role, text from tr
        union all{union}
      )
    """


def _canned_response_oracle_sql() -> str:
    from rust_gd_spark.operators.templates import canned_response_dups_sql

    inner = canned_response_dups_sql("caug", min_count=2)
    return f"with {_canned_aug_sql()}, {inner.lstrip().removeprefix('with')}"


def _bag_jaccard_oracle_sql() -> str:
    from rust_gd_spark.operators.bagjaccard import bag_jaccard_pairs_sql

    inner = bag_jaccard_pairs_sql("baug", "doc_id", _SHINGLES, threshold=0.4)
    return f"""
        with baug as (
          select doc_id, text from documents
          union all
          select doc_id + 80000000, text || ' ' || text from documents
          where doc_id % 25 = 0
        ),
        {inner.lstrip().removeprefix('with')}
    """


def _embedding_hygiene_oracle_sql() -> str:
    # Twin of _aug_bad_embeddings + embedding_hygiene: list_transform /
    # slice / NaN-literal plants mirrored exactly; 'nan'::float round-
    # trips bit-identically through parquet-free in-query construction.
    from rust_gd_spark.operators.embhygiene import embedding_hygiene_sql

    inner = embedding_hygiene_sql("eaug", "embedding", expected_dim=64)
    return f"""
        with e0 as (select vec_id, embedding from embeddings),
        eaug as (
          select * from e0
          union all
          select vec_id + 990000000, null from e0 where vec_id % 100 = 0
          union all
          select vec_id + 990000000, embedding[1:63]
          from e0 where vec_id % 100 = 25
          union all
          select vec_id + 990000000,
                 embedding[1:63] || ['nan'::float]
          from e0 where vec_id % 100 = 50
          union all
          select vec_id + 990000000,
                 list_transform(embedding, x -> 0::float)
          from e0 where vec_id % 100 = 75
        )
        {inner}
    """


def _conv_turns_histogram_oracle_sql() -> str:
    from rust_gd_spark.operators.histogram import value_histogram_sql

    inner = value_histogram_sql("cc", "n_turns")
    return f"""
        with tr as ({_TURNS_BASE_SQL}),
        cc as (select conv_id, count(*) as n_turns from tr group by conv_id),
        {inner.lstrip().removeprefix('with')}
    """


def _packing_stats_oracle_sql() -> str:
    # Twin of _q_packing_stats: the same recursive-CTE packing replay
    # (the sequence_packing oracle) aggregated by the packing_stats twin.
    from rust_gd_spark.operators.packing import packing_stats_sql

    return packing_stats_sql(_sequence_packing_oracle_sql(), PACK_CAPACITY)


def _pii_incidence_oracle_sql() -> str:
    # Twin of _aug_pii_docs + pii_incidence_report: the planted strings
    # are literal constants and the count expressions come from the same
    # PII_PATTERNS via pii_count_sql, so both engines run the real
    # regexes over the same augmented table.
    from rust_gd_spark.operators.hygiene import pii_incidence_report_sql

    lits = ", ".join("'" + p.replace("'", "''") + "'" for p in _PII_PLANTS)
    inner = pii_incidence_report_sql("paug", "text", "source")
    return f"""
        with d0 as (select doc_id, text, source from documents),
        paug as (
          select * from d0
          union all
          select doc_id + 99300000,
                 text || ([{lits}])[((doc_id % 100) // 25) + 1],
                 source
          from d0 where doc_id % 25 = 0
        ),
        {inner.lstrip().removeprefix('with')}
    """


def _ingest_hygiene_oracle_sql() -> str:
    # Twin of _aug_hygiene_docs + ingest_hygiene_report.
    from rust_gd_spark.operators.hygiene import ingest_hygiene_report_sql

    inner = ingest_hygiene_report_sql(
        "haug", "doc_id", "text", "source", "n_chars"
    )
    return f"""
        with d0 as (select doc_id, text, source, n_chars from documents),
        haug as (
          select * from d0
          union all
          select doc_id + 99000000, null, source, n_chars
          from d0 where doc_id % 100 = 0
          union all
          select doc_id + 99100000, '   ', source, 3
          from d0 where doc_id % 100 = 25
          union all
          select doc_id + 99200000, text, source, n_chars + 7
          from d0 where doc_id % 100 = 50
          union all
          select doc_id, text, source, n_chars
          from d0 where doc_id % 100 = 75
        )
        {inner}
    """


def _length_histogram_oracle_sql() -> str:
    from rust_gd_spark.operators.histogram import length_histogram_sql

    return length_histogram_sql("documents", "text")


def _role_alternation_oracle_sql() -> str:
    # Twin of _aug_misaligned_transcripts + role_alternation_audit: the
    # planted rows use constant role/offset arithmetic identical in both
    # engines; DuckDB // mirrors Spark's truncating int cast on the
    # non-negative doc_id domain.
    from rust_gd_spark.operators.convaudit import role_alternation_audit_sql

    inner = role_alternation_audit_sql("maug", "conv_id", "turn_idx", "role")
    return f"""
        with tbase as ({_TURNS_BASE_SQL}),
        maug as (
          select conv_id, tid as turn_idx, role, text from tbase
          union all
          select printf('conv-%04d', (doc_id % 50)::int),
                 (1000000000 + doc_id // 50)::int,
                 'assistant',
                 text || ' (relog)'
          from documents where doc_id % 40 = 0
        ),
        {inner.lstrip().removeprefix('with')}
    """


def _lang_agreement_oracle_sql() -> str:
    from rust_gd_spark.operators.langaudit import lang_agreement_sql

    return lang_agreement_sql("documents", "text", "lang")


def _length_outliers_oracle_sql() -> str:
    # Twin of _aug_outlier_docs + source_length_outliers: repeat(text, 20)
    # and length() are semantics-identical in both engines on this ASCII
    # corpus; the fences/ranks are pure integer arithmetic.
    from rust_gd_spark.operators.lengthgate import source_length_outliers_sql

    inner = source_length_outliers_sql("aug", "source", "n_chars", k=3)
    return f"""
        with d0 as (select doc_id, text, source, n_chars from documents),
        aug as (
          select * from d0
          union all
          select doc_id + 98000000, repeat(text, 20), source,
                 length(repeat(text, 20))::bigint
          from d0 where doc_id % 50 = 0
        ),
        {inner.lstrip().removeprefix('with')}
    """


def _snm_recall_oracle_sql() -> str:
    # Twin of snm_recall_audit: the exact pair set is _JACCARD_SQL, the
    # SNM side is that set restricted to the sorted-neighborhood
    # candidate window (the same construction as the snm_pairs oracle),
    # so n_spurious is an invariant zero in both engines.
    from rust_gd_spark.operators.snm import snm_candidate_pairs_sql

    cand = snm_candidate_pairs_sql("documents", "doc_id", "text", window=10)
    return f"""
        with exact as ({_JACCARD_SQL}),
        cand as (
          select distinct least(id_l, id_r) as id_l,
                 greatest(id_l, id_r) as id_r
          from ({cand})
        ),
        snm as (
          select e.id_l, e.id_r from exact e join cand using (id_l, id_r)
        ),
        hit as (
          select e.id_l from exact e join snm s
            on e.id_l = s.id_l and e.id_r = s.id_r
        )
        select (select count(*) from exact)::bigint as n_exact,
               (select count(*) from snm)::bigint as n_snm,
               (select count(*) from hit)::bigint as n_hit,
               ((select count(*) from snm)
                - (select count(*) from hit))::bigint as n_spurious,
               round((select count(*) from hit)::double
                     / greatest((select count(*) from exact), 1), 6)
                 as recall
    """


def _dup_threshold_sensitivity_oracle_sql() -> str:
    # Twin of _aug_graded_docs + exact_jaccard_pairs +
    # threshold_sensitivity. The graded-variant construction mirrors the
    # Spark side token-for-token (DuckDB's indexed lambda is 1-based, so
    # (i - 1) % k matches Spark's 0-based i % k); the pair list keeps the
    # UNROUNDED jaccard so the grid comparison is bit-exact.
    from rust_gd_spark.operators.sensitivity import threshold_sensitivity_sql

    ks = ", ".join(str(k) for k in _GRADE_KS)
    t0 = min(_SENS_GRID)
    pairs = f"""
        with d0 as (select doc_id, text from documents),
        v as (
          select doc_id + 97000000 as doc_id,
                 array_to_string(
                   list_transform(
                     string_split(text, ' '),
                     (x, i) -> case when (i - 1) % k = 0 then 'qz'
                               else x end),
                   ' ') as text
          from (select doc_id, text,
                       ([{ks}])[((doc_id % 20) // 5) + 1] as k
                from d0 where doc_id % 5 = 0)
        ),
        gaug as (select * from d0 union all select * from v),
        sh as (select doc_id, unnest({_SHINGLES}) as s from gaug),
        d as (select distinct doc_id, s from sh),
        sizes as (select doc_id, count(*) as n from d group by doc_id),
        common as (
          select l.doc_id as id_l, r.doc_id as id_r, count(*) as c
          from d l join d r on l.s = r.s and l.doc_id < r.doc_id
          group by 1, 2
        )
        select c.id_l, c.id_r,
               c.c::double / (sl.n + sr.n - c.c) as jaccard
        from common c
        join sizes sl on sl.doc_id = c.id_l
        join sizes sr on sr.doc_id = c.id_r
        where c.c::double / (sl.n + sr.n - c.c) >= {t0}
    """
    return threshold_sensitivity_sql(pairs, _SENS_GRID)


def _dup_burst_oracle_sql() -> str:
    # Twin of _aug_recrawl_docs + dup_burst_windows: same synthesized
    # naive-UTC capture times as the recrawl oracle, epoch()::bigint
    # mirroring unix_timestamp, HUGEINT cross-multiplied burst flag.
    from rust_gd_spark.operators.recrawl import dup_burst_windows_sql

    base = "timestamp '2026-01-01 00:00:00'"
    inner = dup_burst_windows_sql(
        "raug", "text", "ts",
        bucket_sec=3600, factor_num=3, factor_den=2, min_docs=2,
    )
    return f"""
        with d0 as (
          select doc_id, text,
                 {base} + ((doc_id % 7) * 86400) * (interval 1 second) as ts
          from documents
        ),
        raug as (
          select doc_id, text, ts from d0
          union all
          select doc_id + 90000000, text,
                 {base} + ((doc_id % 7) * 86400
                           + ((doc_id % 30) + 1) * 86400)
                        * (interval 1 second)
          from d0 where doc_id % 10 = 0
          union all
          select doc_id + 95000000, text, ts from d0 where doc_id % 15 = 0
        ),
        {inner.lstrip().removeprefix('with')}
    """


def _recrawl_oracle_sql() -> str:
    # Twin of _aug_recrawl_docs + recrawl_groups. Plain (non-tz)
    # timestamp arithmetic so fetchdf yields naive datetime64 matching
    # Spark's UTC-session timestamps.
    from rust_gd_spark.operators.recrawl import recrawl_groups_sql

    base = f"timestamp '2026-01-01 00:00:00'"
    inner = recrawl_groups_sql("raug", "doc_id", "text", "ts", min_crawls=2)
    return f"""
        with d0 as (
          select doc_id, text,
                 {base} + ((doc_id % 7) * 86400) * (interval 1 second) as ts
          from documents
        ),
        raug as (
          select doc_id, text, ts from d0
          union all
          select doc_id + 90000000, text,
                 {base} + ((doc_id % 7) * 86400
                           + ((doc_id % 30) + 1) * 86400)
                        * (interval 1 second)
          from d0 where doc_id % 10 = 0
          union all
          select doc_id + 95000000, text, ts from d0 where doc_id % 15 = 0
        ),
        {inner.lstrip().removeprefix('with')}
    """


def _conversation_sessions_oracle_sql() -> str:
    # Twin of _aug_sessionized_transcripts + split_sessions: island
    # encoding (gap flag -> running sum) over the same synthesized ts.
    return f"""
        with tr as ({_TURNS_BASE_SQL}),
        t as (
          select conv_id, tid as turn_idx, role, text,
                 timestamp '2026-01-01 00:00:00'
                   + (tid * 60 + (tid // 4) * 7200) * (interval 1 second)
                   as ts
          from tr
        ),
        g as (
          select *, epoch(ts) - epoch(lag(ts) over
                   (partition by conv_id order by turn_idx)) as gap
          from t
        ),
        f as (
          select *, case when gap is null or gap > 1800 then 1 else 0 end
                   as ns
          from g
        ),
        s as (
          select *, sum(ns) over (partition by conv_id order by turn_idx
                   rows between unbounded preceding and current row) - 1
                   as si
          from f
        )
        select conv_id, turn_idx, role, text, ts,
               conv_id || '#' || si as session_id,
               (row_number() over (partition by conv_id, si
                                   order by turn_idx) - 1)::int
                 as session_turn
        from s
    """


def _decontam_attribution_oracle_sql() -> str:
    return f"""
        with d0 as (
          select doc_id, unnest({_SHINGLES}) as s from documents
        ),
        d as (select distinct doc_id, s from d0),
        sizes as (select doc_id, count(*) as n from d group by doc_id),
        refg as (
          select distinct
                 case when doc_id % 40 = 0 then 'bench_a'
                      else 'bench_b' end as benchmark, s
          from d where doc_id % 20 = 0
        ),
        hits as (
          select d.doc_id, r.benchmark, count(*) as c
          from d join refg r using (s) group by 1, 2
        )
        select h.doc_id as id, h.benchmark,
               s.n::bigint as n_grams, h.c::bigint as n_hits,
               round(h.c::double / greatest(s.n, 1), 6) as containment_frac,
               round(h.c::double / greatest(s.n, 1), 6) >= 0.5
                 as is_contaminated
        from hits h join sizes s using (doc_id)
    """


def _cluster_quality_audit_oracle_sql() -> str:
    # Twin of _q_cluster_quality_audit: the closure clusters
    # (_CLUSTERS_SQL), bounded to size 2..1000, every in-cluster pair's
    # exact w-shingle Jaccard (zero-overlap pairs kept via left join),
    # per-cluster order-independent stats. round(...,6) matches the
    # Spark side's F.round before min/max, so the hash is bit-stable.
    return f"""
        with clus as ({_CLUSTERS_SQL}),
        ids as (select {_UID_SQL} as uid, doc_id from documents),
        mem as (
          select c.cluster_id, c.id, i.doc_id
          from clus c join ids i on i.uid = c.id
        ),
        csz as (select cluster_id, count(*) as n_members from mem group by 1),
        bmem as (
          select m.cluster_id, m.id, m.doc_id, s.n_members
          from mem m join csz s using (cluster_id)
          where s.n_members >= 2 and s.n_members <= 1000
        ),
        prs as (
          select l.cluster_id, l.n_members, l.id as id_l, r.id as id_r,
                 l.doc_id as dl, r.doc_id as dr
          from bmem l join bmem r
            on l.cluster_id = r.cluster_id and l.id < r.id
        ),
        sh as (select doc_id, unnest({_SHINGLES}) as s from documents),
        dsh as (select distinct doc_id, s from sh),
        sizes as (select doc_id, count(*) as n from dsh group by doc_id),
        cm as (
          select p.id_l, p.id_r, count(*) as c
          from prs p
          join dsh a on a.doc_id = p.dl
          join dsh b on b.doc_id = p.dr and b.s = a.s
          group by 1, 2
        ),
        jac as (
          select p.cluster_id, p.n_members, p.id_l, p.id_r,
                 round(coalesce(cm.c, 0)::double
                       / (sl.n + sr.n - coalesce(cm.c, 0)), 6) as jaccard
          from prs p
          left join cm on cm.id_l = p.id_l and cm.id_r = p.id_r
          join sizes sl on sl.doc_id = p.dl
          join sizes sr on sr.doc_id = p.dr
        )
        select cluster_id,
               max(n_members)::bigint as n_members,
               count(*)::bigint as n_pairs,
               min(jaccard) as min_jaccard,
               max(jaccard) as max_jaccard,
               sum(case when jaccard < {JACCARD_T} then 1 else 0 end)::bigint
                 as n_weak_pairs,
               max(case when jaccard < {JACCARD_T} then 1 else 0 end) = 1
                 as has_weak_link
        from jac group by cluster_id
    """


# Twin of _aug_retry_turns: base at tid*3; one retry copy for
# num%3==0 & tid%4==1; two copies (run of 3) for num%3==1 & tid%5==2.
_AUG_RETRY_SQL = f"""
  with tr as ({_TURNS_BASE_SQL})
  select conv_id, tid * 3 as turn_idx, role, text from tr
  union all
  select conv_id, tid * 3 + 1, role, text from tr
  where num % 3 = 0 and tid % 4 = 1
  union all
  select conv_id, tid * 3 + 1, role, text from tr
  where num % 3 = 1 and tid % 5 = 2
  union all
  select conv_id, tid * 3 + 2, role, text from tr
  where num % 3 = 1 and tid % 5 = 2
"""

# Shared island encoding for the retry/loop oracles: the (role,text)
# key, its lag, and the running change-count (island id).
_RETRY_KEYED_SQL = f"""
  keyed as (
    select conv_id, turn_idx, role, text,
           coalesce(role, '') || chr(31) || coalesce(text, '') as ck,
           lag(coalesce(role, '') || chr(31) || coalesce(text, ''))
             over (partition by conv_id order by turn_idx) as pk
    from ({_AUG_RETRY_SQL})
  )
"""


def _turn_retry_collapse_oracle_sql() -> str:
    return f"""
        with {_RETRY_KEYED_SQL},
        kept as (
          select conv_id, turn_idx, role, text
          from keyed where pk is null or ck != pk
        )
        select conv_id, turn_idx,
               (row_number() over (partition by conv_id order by turn_idx)
                - 1)::int as new_turn_idx,
               role, text
        from kept
    """


def _turn_loop_stats_oracle_sql() -> str:
    return f"""
        with {_RETRY_KEYED_SQL},
        isl as (
          select conv_id,
                 sum(case when pk is null or ck != pk then 1 else 0 end)
                   over (partition by conv_id order by turn_idx
                         rows between unbounded preceding and current row)
                   as island
          from keyed
        ),
        runs as (
          select conv_id, island, count(*)::bigint as run_len
          from isl group by 1, 2
        )
        select conv_id,
               sum(run_len)::bigint as n_turns,
               max(run_len)::bigint as max_run,
               sum(case when run_len >= 2 then 1 else 0 end)::bigint
                 as n_loop_runs,
               sum(case when run_len >= 2 then run_len else 0 end)::bigint
                 as n_loop_turns,
               round(sum(case when run_len >= 2 then run_len else 0 end)
                     / sum(run_len)::double, 6) as loop_turn_frac,
               max(run_len) >= 2 as is_looping
        from runs group by conv_id
    """


def _prefix_dup_oracle_sql() -> str:
    # Twin of _aug_prefix_conversations + prefix_dup_conversations: the
    # md5 chain over per-turn md5(role||US||text) reproduces the Spark
    # side bit-for-bit (both engines emit lowercase hex).
    return f"""
        with tr as ({_TURNS_BASE_SQL}),
        aug as (
          select conv_id, tid as turn_idx, role, text from tr
          union all
          select conv_id || '-copy', tid, role, text from tr where num % 6 = 0
          union all
          select conv_id || '-fork', tid, role, text from tr
          where num % 4 = 0 and tid < 5
        ),
        t as (
          select conv_id,
                 row_number() over (partition by conv_id order by turn_idx)
                   as depth,
                 md5(coalesce(role, '') || chr(31) || coalesce(text, '')) as h
          from aug
        ),
        pref as (
          select conv_id, depth,
                 md5(string_agg(h, '')
                     over (partition by conv_id order by depth
                           rows between unbounded preceding and current row))
                   as chain
          from t
        ),
        fullc as (
          select conv_id, max(depth)::int as conv_turns,
                 max_by(chain, depth) as full_hash
          from pref group by 1
        ),
        cand as (
          select f.conv_id as dup_conv, p.conv_id as host_conv,
                 f.conv_turns as shared_turns
          from fullc f
          join pref p
            on f.full_hash = p.chain and f.conv_turns = p.depth
           and f.conv_id != p.conv_id
        )
        select c.dup_conv, c.host_conv,
               c.shared_turns::int as shared_turns,
               h.conv_turns::int as host_turns,
               c.shared_turns = h.conv_turns as full_equal
        from cand c join fullc h on c.host_conv = h.conv_id
        where c.shared_turns < h.conv_turns
           or (c.shared_turns = h.conv_turns and c.dup_conv > c.host_conv)
    """


def oracle_sql() -> dict[str, str]:
    from rust_gd_spark.operators.sampling import weighted_sample_sql

    return {
        "exact_dedup": """
            select doc_id, md5(coalesce(text, '')) as content_key,
                   min(doc_id) over (partition by md5(coalesce(text, '')))
                     as canonical_id,
                   count(*) over (partition by md5(coalesce(text, '')))
                     as group_size
            from documents
        """,
        "ngram_jaccard_pairs": _JACCARD_SQL,
        "minhash_lsh_pairs": _JACCARD_SQL,
        "minhash_bbit_pairs": f"select id_l, id_r from ({_JACCARD_SQL})",
        "bbit_estimate_audit": _bbit_estimate_oracle_sql(),
        "snm_candidates": _snm_candidates_oracle_sql(),
        "snm_pairs": _snm_pairs_oracle_sql(),
        "lsh_param_plan": _lsh_param_plan_oracle_sql(),
        "compaction_plan": _compaction_plan_oracle_sql(),
        "source_overlap": _source_overlap_oracle_sql(),
        "containment_pairs": _containment_oracle_sql(),
        "incremental_near_dups": f"""
            with corpus as (
              select doc_id, text from documents where doc_id % 10 != 0
            ),
            batch as (
              select doc_id, text from documents where doc_id % 10 = 0
              union all
              select doc_id + 30000000, text || ' zqx' from documents
              where doc_id % 10 = 5 and length(text) > 500
            ),
            csh as (select distinct doc_id, unnest({_SHINGLES}) as s from corpus),
            bsh as (select distinct doc_id, unnest({_SHINGLES}) as s from batch),
            csz as (select doc_id, count(*) as n from csh group by 1),
            bsz as (select doc_id, count(*) as n from bsh group by 1),
            common as (
              select b.doc_id as batch_id, c.doc_id as corpus_id,
                     count(*) as nc
              from bsh b join csh c on b.s = c.s
              group by 1, 2
            )
            select m.batch_id, m.corpus_id
            from common m
            join bsz on bsz.doc_id = m.batch_id
            join csz on csz.doc_id = m.corpus_id
            where m.nc::double / (bsz.n + csz.n - m.nc) >= {JACCARD_T}
        """,
        "source_overlap_near_dup": f"""
            with pairs as (select id_l, id_r from ({_JACCARD_SQL})),
            m as (select doc_id, source from documents)
            select least(ml.source, mr.source) as source_a,
                   greatest(ml.source, mr.source) as source_b,
                   count(*)::bigint as n_dup_pairs
            from pairs p
            join m ml on ml.doc_id = p.id_l
            join m mr on mr.doc_id = p.id_r
            group by 1, 2
        """,
        "minhash_lsh_pairs_oph": _JACCARD_SQL,
        "bloom_dedup_newbatch": """
            with corpus as (
              select * from documents where doc_id % 10 <> 0
            ),
            newbatch as (
              select doc_id, coalesce(text, '') as t
              from documents where doc_id % 10 = 0
              union all
              select doc_id + 10000000 as doc_id, coalesce(text, '') as t
              from corpus where doc_id % 7 = 1
            )
            select n.doc_id as doc_id, md5(n.t) as content_key
            from newbatch n
            where md5(n.t) not in (
              select md5(coalesce(text, '')) from corpus
            )
        """,
        "decontam_ngrams": f"""
            with sh as (
              select doc_id, unnest({_SHINGLES}) as s from documents
            ),
            d as (select distinct doc_id, s from sh),
            ref as (select distinct s from d where doc_id % 20 = 0),
            sizes as (select doc_id, count(*) as n from d group by doc_id),
            hits as (
              select d.doc_id, count(*) as c
              from d join ref using (s) group by d.doc_id
            )
            select s.doc_id as id,
                   s.n as n_grams,
                   coalesce(h.c, 0) as n_contaminated,
                   round(coalesce(h.c, 0)::double / greatest(s.n, 1), 6)
                     as contamination_frac,
                   coalesce(h.c, 0)::double / greatest(s.n, 1) >= 0.5
                     as is_contaminated
            from sizes s left join hits h using (doc_id)
        """,
        "decontam_fuzzy": f"""
            with sh as (
              select doc_id, unnest({_SHINGLES}) as s from documents
            ),
            d as (select distinct doc_id, s from sh),
            sizes as (select doc_id, count(*) as n from d group by doc_id),
            refd as (select * from d where doc_id % 20 = 0),
            refsizes as (
              select doc_id, n from sizes where doc_id % 20 = 0
            ),
            common as (
              select l.doc_id as id, r.doc_id as rid, count(*) as c
              from d l join refd r on l.s = r.s
              group by 1, 2
            ),
            jac as (
              select c.id, c.rid,
                     c.c::double / (sl.n + sr.n - c.c) as j
              from common c
              join sizes sl on sl.doc_id = c.id
              join refsizes sr on sr.doc_id = c.rid
            ),
            hits as (
              select id, count(*) as n_matched_refs, max(j) as mx
              from jac where j >= {JACCARD_T} group by id
            )
            select doc_id as id,
                   coalesce(h.n_matched_refs, 0) as n_matched_refs,
                   round(coalesce(h.mx, 0.0), 6) as max_ref_jaccard,
                   coalesce(h.mx, 0.0) >= {JACCARD_T} as is_contaminated
            from documents left join hits h on doc_id = h.id
        """,
        "quality_classifier": _quality_classifier_oracle_sql(),
        "ngram_topk": f"""
            with sh as (
              select doc_id, unnest({_shingles_sql(2)}) as s from documents
            ),
            d as (select distinct doc_id, s from sh),
            freq as (
              select s as gram, count(*) as doc_freq from d group by s
            )
            select gram, doc_freq from freq
            order by doc_freq desc, gram asc limit 50
        """,
        "soft_dedup_weights": f"""
            with clus as ({_CLUSTERS_SQL}),
            sizes as (
              select cluster_id, count(*) as cluster_size
              from clus group by cluster_id
            )
            select c.id, c.cluster_id, s.cluster_size,
                   round(1.0 / s.cluster_size, 6) as weight
            from clus c join sizes s using (cluster_id)
        """,
        "soft_dedup_sample": f"""
            with clus as ({_CLUSTERS_SQL}),
            sizes as (
              select cluster_id, count(*) as cluster_size
              from clus group by cluster_id
            ),
            sd as (
              select c.id, c.cluster_id, s.cluster_size,
                     round(1.0 / s.cluster_size, 6) as weight
              from clus c join sizes s using (cluster_id)
            )
            select * from sd
            where {weighted_sample_sql('id', 'weight', 7)}
        """,
        "doc_text_stats": f"""
            select doc_id,
                   {ts.token_count_sql('text')} as token_cnt,
                   {ts.bpe_ish_token_count_sql('text')} as bpe_cnt,
                   round({ts.punct_ratio_sql('text')}, 6) as punct_ratio,
                   round({ts.stopword_ratio_sql('text')}, 6) as stopword_ratio,
                   round({ts.mean_word_len_sql('text')}, 6) as mean_word_len
            from documents
        """,
        "doc_quality_lang": f"""
            select doc_id,
                   round({ts.quality_score_sql('text')}, 6) as quality,
                   {ts.lang_id_sql('text')} as lang_guess,
                   {ts.doc_fingerprint_sql('text')} as fingerprint
            from documents
        """,
        "pii_redaction": _pii_oracle_sql(),
        "stratified_sample": _stratified_oracle_sql(),
        "mixture_plan": _mixture_plan_oracle_sql(),
        "doc_repetition": _doc_repetition_oracle_sql(),
        "boilerplate_lines": _boilerplate_oracle_sql(),
        "c4_clean": _c4_oracle_sql(),
        "sequence_packing": _sequence_packing_oracle_sql(),
        "doc_chunks": _doc_chunks_oracle_sql(),
        "snapshot_diff": _snapshot_diff_oracle_sql(),
        "tfidf_topk": _tfidf_oracle_sql(),
        "unigram_xent": _unigram_xent_oracle_sql(),
        "dsir_weights": _dsir_oracle_sql(),
        "exact_k_sample": _exact_k_oracle_sql(),
        "cdc_chunks": _cdc_chunks_oracle_sql(),
        "cdc_chunk_store": _cdc_chunk_store_oracle_sql(),
        "cdc_delta": _cdc_delta_oracle_sql(),
        "cdc_dedup_rewrite": _cdc_dedup_rewrite_oracle_sql(),
        "turn_retry_collapse": _turn_retry_collapse_oracle_sql(),
        "turn_loop_stats": _turn_loop_stats_oracle_sql(),
        "prefix_dup_conversations": _prefix_dup_oracle_sql(),
        "tool_masked_dups": _tool_masked_oracle_sql(),
        "xent_mixture_sample": _xent_mixture_oracle_sql(),
        "corpus_profile": _corpus_profile_oracle_sql(),
        "training_shuffle": _training_shuffle_oracle_sql(),
        "dedup_ratio_metric": """
            select count(*) as n_rows,
                   count(distinct md5(text)) as n_distinct,
                   round(1.0 - count(distinct md5(text))::double / count(*), 6)
                     as dup_fraction
            from documents
        """,
        "embedding_topk_cosine": _EMB_TOPK_SQL,
        "embedding_decontam": """
            with n as (
              select vec_id,
                     list_transform(embedding, x -> x::double /
                       sqrt(list_sum(list_transform(embedding,
                         y -> y::double * y::double)))) as v
              from embeddings
            ),
            bench as (select * from n where vec_id % 20 = 0),
            corpus as (select * from n where vec_id % 20 <> 0),
            sims as (
              select c.vec_id, b.vec_id as bench_id,
                     round(list_sum(list_transform(range(1, len(c.v) + 1),
                           i -> c.v[i] * b.v[i])), 6) as cosine
              from corpus c cross join bench b
            )
            select vec_id, bench_id, cosine as max_cosine,
                   (cosine >= 0.35) as contaminated
            from sims
            qualify row_number() over (
              partition by vec_id order by cosine desc, bench_id) = 1
        """,
        "embedding_topk_blocked": _EMB_TOPK_SQL,
        "embedding_topk_ivf": _EMB_TOPK_SQL,
        "embedding_topk_ivf_pruned_recall": _IVF_RECALL_SQL,
        "conversation_dups": _conversation_dups_oracle_sql(),
        "conversation_dup_clusters": _CONV_CLUSTERS_SQL,
        "leakage_safe_split": _leakage_split_oracle_sql(),
        "url_dedup": _url_dedup_oracle_sql(),
        "domain_filter": _domain_filter_oracle_sql(),
        "cluster_deltas": _cluster_deltas_oracle_sql(),
        "dedup_funnel": _dedup_funnel_oracle_sql(),
        "key_skew_profile": _key_skew_oracle_sql(),
        "turn_template_spans": _template_spans_oracle_sql(),
        "canned_response_dups": _canned_response_oracle_sql(),
        "cluster_quality_audit": _cluster_quality_audit_oracle_sql(),
        "bag_jaccard_pairs": _bag_jaccard_oracle_sql(),
        "decontam_attribution": _decontam_attribution_oracle_sql(),
        "recrawl_groups": _recrawl_oracle_sql(),
        "ngram_novelty": f"""
            with d0 as (
              select doc_id, unnest({_SHINGLES}) as s from documents
            ),
            d as (select distinct doc_id, s from d0),
            gdf as (select s, count(*) as df from d group by s),
            per as (
              select d.doc_id, count(*) as n_grams,
                     sum(case when g.df = 1 then 1 else 0 end) as n_novel
              from d join gdf g using (s) group by d.doc_id
            )
            select doc_id as id, n_grams::bigint as n_grams,
                   n_novel::bigint as n_novel,
                   round(n_novel::double / greatest(n_grams, 1), 6)
                     as novelty_frac
            from per
        """,
        "conversation_sessions": _conversation_sessions_oracle_sql(),
        "template_span_removal": _template_removal_oracle_sql(),
        "quality_threshold_plan": f"""
            with qs as (
              select round({ts.quality_score_sql('text')}, 6) as q
              from documents
            ),
            dist as (select q, count(*) as c from qs group by q),
            cum as (
              select q,
                     sum(c) over (order by q desc rows between
                       unbounded preceding and current row) as cum,
                     sum(c) over () as n_docs
              from dist
            ),
            kept as (select * from cum where cum >= n_docs * 0.7),
            best as (select max(q) as threshold from kept)
            select b.threshold, c.n_docs::bigint as n_docs,
                   c.cum::bigint as n_kept,
                   round(c.cum::double / c.n_docs, 6) as keep_frac,
                   0.7 as target_keep_frac
            from best b join cum c on c.q = b.threshold
        """,
        "dup_threshold_sensitivity": _dup_threshold_sensitivity_oracle_sql(),
        "dup_burst_windows": _dup_burst_oracle_sql(),
        "source_length_outliers": _length_outliers_oracle_sql(),
        "lang_agreement": _lang_agreement_oracle_sql(),
        "snm_recall_audit": _snm_recall_oracle_sql(),
        "role_alternation_audit": _role_alternation_oracle_sql(),
        "length_histogram": _length_histogram_oracle_sql(),
        "pii_incidence": _pii_incidence_oracle_sql(),
        "ingest_hygiene": _ingest_hygiene_oracle_sql(),
        "packing_stats": _packing_stats_oracle_sql(),
        "embedding_hygiene": _embedding_hygiene_oracle_sql(),
        "conv_turns_histogram": _conv_turns_histogram_oracle_sql(),
        "dedup_rate_by_source": """
            with pk as (
              select source, md5(coalesce(text, '')) as k, count(*) as c
              from documents group by 1, 2
            )
            select source, sum(c)::bigint as n_docs,
                   count(*)::bigint as n_distinct,
                   (sum(c) - count(*))::bigint as n_dup_docs,
                   round((sum(c) - count(*))::double / greatest(sum(c), 1), 6)
                     as dup_ratio
            from pk group by source
        """,
        "jaccard_topk_neighbors": f"""
            with sh as (
              select doc_id, unnest({_SHINGLES}) as s from documents
            ),
            d as (select distinct doc_id, s from sh),
            sizes as (select doc_id, count(*) as n from d group by doc_id),
            common as (
              select l.doc_id as id_l, r.doc_id as id_r, count(*) as c
              from d l join d r on l.s = r.s and l.doc_id < r.doc_id
              group by 1, 2
            ),
            j as (
              select c.id_l, c.id_r,
                     round(c.c::double / (sl.n + sr.n - c.c), 6) as jaccard
              from common c
              join sizes sl on sl.doc_id = c.id_l
              join sizes sr on sr.doc_id = c.id_r
              where c.c::double / (sl.n + sr.n - c.c) >= 0.1
            ),
            sym as (
              select id_l as id, id_r as neighbor_id, jaccard from j
              union all
              select id_r, id_l, jaccard from j
            )
            select id, neighbor_id, jaccard, rank from (
              select id, neighbor_id, jaccard,
                     row_number() over (partition by id
                       order by jaccard desc, neighbor_id asc)::int as rank
              from sym
            ) where rank <= 5
        """,
        "embedding_ann_lsh": """
            with n as (
              select vec_id,
                     list_transform(embedding, x -> x::double /
                       sqrt(list_sum(list_transform(embedding, y -> y::double * y::double))))
                       as v
              from embeddings
            )
            select l.vec_id as vec_l, r.vec_id as vec_r,
                   round(list_sum(list_transform(range(1, len(l.v) + 1),
                         i -> l.v[i] * r.v[i])), 6) as cosine
            from n l join n r on l.vec_id < r.vec_id
            where round(list_sum(list_transform(range(1, len(l.v) + 1),
                        i -> l.v[i] * r.v[i])), 6) >= 0.35
        """,
        "embedding_ann_highsim": """
            with aug as (
              select vec_id, list_transform(embedding, x -> x::double) as v0
              from embeddings
              union all
              select a.vec_id + 1000000,
                     list_transform(range(1, len(a.embedding) + 1),
                       i -> 0.95 * (a.embedding[i]::double)
                            + 0.3 * (b.embedding[i]::double))
              from embeddings a join embeddings b on b.vec_id = a.vec_id + 1
              where a.vec_id % 5 = 0
            ),
            n as (
              select vec_id,
                     list_transform(v0, x -> x /
                       sqrt(list_sum(list_transform(v0, y -> y * y)))) as v
              from aug
            )
            select l.vec_id as vec_l, r.vec_id as vec_r,
                   round(list_sum(list_transform(range(1, len(l.v) + 1),
                         i -> l.v[i] * r.v[i])), 6) as cosine
            from n l join n r on l.vec_id < r.vec_id
            where round(list_sum(list_transform(range(1, len(l.v) + 1),
                        i -> l.v[i] * r.v[i])), 6) >= 0.9
        """,
        "substring_pairs": _SUBSTRING_SQL,
        "gd_roundtrip": """
            select printf('conv-%04d', (doc_id % 50)::int) as conv_id,
                   count(*)::int as n_turns,
                   sum(8 + octet_length(encode(text)))::bigint as orig_bytes,
                   true as roundtrip_ok
            from documents group by 1
        """,
        "gd_roundtrip_aligned": """
            select printf('conv-%04d', (doc_id % 50)::int) as conv_id,
                   count(*)::int as n_turns,
                   sum(8 + octet_length(encode(text)))::bigint as orig_bytes,
                   true as roundtrip_ok
            from documents group by 1
        """,
        "gd_chunk_stats": """
            with turn as (
              select printf('conv-%04d', (doc_id % 50)::int) as conv_id,
                     octet_length(encode(text))::bigint as b,
                     greatest(1, (octet_length(encode(text)) + 127) // 128)::bigint as c
              from documents
            )
            select conv_id, sum(c)::bigint as n_chunks,
                   sum(c * 128 - b)::int as pad_bytes,
                   sum(b)::bigint as orig_bytes
            from turn group by 1
        """,
        "transcript_clusters": _CLUSTERS_SQL,
        "cluster_representatives": _CLUSTER_REPS_SQL,
        "incremental_clusters": _INC_CLUSTERS_SQL,
        "training_data_prep": _PREP_SQL,
        "embedding_dedup_clusters": _EMB_CLUSTERS_SQL,
        # NOTE: this oracle windows over CHARACTERS (DuckDB substr/length;
        # this build has no BLOB substring), while conversation_repetition
        # computes UTF-8 BYTE windows. They coincide on the ASCII-only
        # fixture corpus (verified: octet_length == length for every sf
        # documents.parquet row); a non-ASCII fixture would need a
        # byte-capable oracle, not an operator change.
        "conv_repetition": """
            with conv as (
              select printf('conv-%04d', (doc_id % 50)::int) as conv_id,
                     string_agg(text, chr(10) order by doc_id) as t
              from documents group by 1
            ),
            wins as (
              select conv_id, substr(t, i, 64) as g
              from conv, unnest(range(1, length(t) - 62)) as u(i)
              where length(t) >= 64
            ),
            rep as (
              select conv_id, count(*) as n
              from (select conv_id, g from wins
                    group by conv_id, g having count(*) >= 2)
              group by conv_id
            )
            select c.conv_id, length(c.t)::bigint as conv_bytes,
                   coalesce(r.n, 0)::bigint as n_rep_grams
            from conv c left join rep r using (conv_id)
        """,
        "multimodal_features": """
            select doc_id as asset_id,
                   (['image','audio','video'])[(doc_id % 3 + 1)::int] as kind,
                   (3 * octet_length(encode(text)))::bigint as n_bytes,
                   round(case when length(text) = 0 then 0.0
                         else (length(text) - length(replace(text, 'a', '')))::double
                              / octet_length(encode(text)) end, 6) as f_a
            from documents
        """,
        "embedding_cosine_pairs": """
            with n as (
              select vec_id,
                     list_transform(embedding, x -> x::double /
                       sqrt(list_sum(list_transform(embedding, y -> y::double * y::double))))
                       as v
              from embeddings
            )
            select l.vec_id as vec_l, r.vec_id as vec_r,
                   round(list_sum(list_transform(range(1, len(l.v) + 1),
                         i -> l.v[i] * r.v[i])), 6) as cosine
            from n l join n r on l.vec_id < r.vec_id
            where round(list_sum(list_transform(range(1, len(l.v) + 1),
                        i -> l.v[i] * r.v[i])), 6) >= 0.35
        """,
        "window_reassembly": """
            select user_id,
                   string_agg(event_type, ',' order by ts, event_id) as event_seq,
                   count(*) as n_events
            from events group by user_id
        """,
        "window_rank": """
            select user_id, event_id, round(value, 6) as value,
                   row_number() over (partition by user_id
                                      order by value desc, event_id) as rnk
            from events qualify rnk <= 3
        """,
        "join_agg_segment": """
            select c_mktsegment,
                   count(*) as n_orders,
                   round(sum(o_totalprice), 2) as total_price
            from orders join customer on o_custkey = c_custkey
            group by c_mktsegment
        """,
        "event_window_stats": """
            select cast(floor(epoch(ts) / 3600) as bigint) * 3600
                       as window_start_s,
                   cast(floor(epoch(ts) / 3600) as bigint) * 3600 + 3600
                       as window_end_s,
                   event_type,
                   count(*) as n_events,
                   count(distinct user_id) as n_users,
                   round(sum(value), 6) as sum_value
            from events
            group by 1, 2, 3
        """,
        "event_quantiles": """
            select event_type, count(*) as n_events,
                   round(quantile_cont(value, 0.5), 6) as p50,
                   round(quantile_cont(value, 0.9), 6) as p90,
                   round(quantile_cont(value, 0.99), 6) as p99
            from events group by event_type
        """,
        "event_type_pivot": """
            select user_id,
                   count(*) filter (where event_type = 'click') as n_click,
                   count(*) filter (where event_type = 'view') as n_view,
                   count(*) filter (where event_type = 'purchase') as n_purchase,
                   count(*) filter (where event_type = 'signup') as n_signup,
                   count(*) filter (where event_type = 'error') as n_error
            from events group by user_id
        """,
        "event_rollup": """
            with e as (
                select event_type,
                       cast(hour(ts) % 2 = 0 as int) as even_hour, value
                from events
            )
            select event_type, even_hour,
                   count(*) as n_events,
                   round(sum(value), 4) as sum_value,
                   grouping(event_type, even_hour) as gid
            from e group by rollup (event_type, even_hour)
        """,
        "range_join_events": f"""
            select l.event_id as error_id,
                   l.user_id,
                   epoch_us(l.ts) as ts_us,
                   r.event_id as click_id,
                   epoch_us(r.ts) - epoch_us(l.ts) as dt_us
            from (select event_id, user_id, ts from events
                  where event_type = 'error') l
            join (select user_id, ts, event_id from events
                  where event_type = 'click') r
              on l.user_id = r.user_id
             and abs(epoch_us(l.ts) - epoch_us(r.ts)) <= {RANGE_DELTA_US}
        """,
        "lineitem_pricing": """
            with c as (
              select l_returnflag, l_linestatus, l_quantity,
                     cast(round(l_extendedprice * 100, 0) as bigint) as base_c,
                     cast(round(l_extendedprice * (1 - l_discount) * 100, 0)
                          as bigint) as disc_c,
                     cast(round(l_extendedprice * (1 - l_discount)
                                * (1 + l_tax) * 100, 0) as bigint) as charge_c,
                     cast(round(l_discount * 100, 0) as bigint) as disc_pts
              from lineitem
              where l_shipdate <= '1998-09-02'
            )
            select l_returnflag, l_linestatus,
                   cast(sum(l_quantity) as bigint) as sum_qty,
                   round(sum(base_c) / 100.0, 2) as sum_base_price,
                   round(sum(disc_c) / 100.0, 2) as sum_disc_price,
                   round(sum(charge_c) / 100.0, 2) as sum_charge,
                   round(cast(sum(l_quantity) as bigint) / count(*), 6) as avg_qty,
                   round(sum(base_c) / 100.0 / count(*), 6) as avg_price,
                   round(sum(disc_pts) / 100.0 / count(*), 6) as avg_disc,
                   count(*) as count_order
            from c
            group by 1, 2
        """,
        "asof_join_events": """
            select l.event_id,
                   l.user_id,
                   epoch_us(l.ts) as ts_us,
                   r.event_id as purchase_id,
                   epoch_us(r.ts) as purchase_ts_us,
                   round(r.value, 6) as purchase_value
            from (select event_id, ts, user_id from events
                  where event_type = 'click') l
            asof left join (select user_id, ts, event_id, value from events
                            where event_type = 'purchase') r
              on l.user_id = r.user_id and l.ts >= r.ts
        """,
        "session_windows": """
            with brk as (
                select user_id, ts, value,
                       case when ts - lag(ts) over (
                                partition by user_id order by ts
                            ) > interval 30 minute
                            then 1 else 0 end as is_brk
                from events
            ), sess as (
                select user_id, ts, value,
                       sum(is_brk) over (
                           partition by user_id order by ts
                           rows unbounded preceding
                       ) as sess_id
                from brk
            )
            select user_id,
                   epoch_us(min(ts)) as session_start_us,
                   epoch_us(max(ts)) + 1800000000 as session_end_us,
                   count(*) as n_events,
                   round(sum(value), 6) as sum_value
            from sess
            group by user_id, sess_id
        """,
    }
