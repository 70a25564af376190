"""SimHash near-exact duplicate detection, DataFrame-native.

The reference's RS test injects noise ONLY into deviation (parity) positions
and still round-trips (`/root/reference/src/lib.rs:163-175`): small,
localized perturbations leave the base unchanged. SimHash generalizes that:
texts within a few character edits land within a few bits in a 64-bit
fingerprint — the fingerprint is the "base", the flipped bits the
"deviation".

Pipeline:

    char n-grams (JVM-side substr/xxhash64) →
    64-bit SimHash (ONE vectorized pandas UDF) →
    band split (4 × 16 bits ⇒ Hamming distance ≤ 3 guaranteed caught) →
    bucket-pair generation on (band_idx, band_val) [ONE shuffle, capped,
      audited — _buckets.py] →
    verify: bit_count(fp_l XOR fp_r) ≤ max_dist  (JVM-side, BEFORE the
      pair dedup — 16-bit bands collide quadratically in corpus size, so
      nothing may materialize the raw collision stream)

Scale: 65536 buckets/band means bucket occupancy grows linearly and raw
in-bucket pairs quadratically with corpus size; the cap+audit guard bounds
any single bucket, and the documented alternative for extreme scale is
Manku et al.'s sorted-rotation scheme (WWW'07) — same fingerprints,
different candidate generation; the verify stage is unchanged.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T


def char_ngram_df(
    df: DataFrame, id_col: str = "uid", text_col: str = "text", k: int = 8
) -> DataFrame:
    """``(id, grams array<long>)`` — distinct hashed char k-grams, JVM-side.

    Texts shorter than k contribute the whole text as one gram.
    """
    txt = F.col(text_col)
    n = F.length(txt)
    grams = F.when(
        n >= k,
        F.transform(F.sequence(F.lit(1), n - k + 1), lambda i: txt.substr(i, F.lit(k))),
    ).otherwise(F.array(txt))
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(F.transform(grams, lambda g: F.xxhash64(g))).alias("grams"),
    )


def simhash_fingerprints(grams_df: DataFrame) -> DataFrame:
    """``(id, fp long)`` — 64-bit SimHash over the gram hash set.

    One vectorized pandas UDF; per row an (n_grams × 64) bit tally in numpy.
    """

    from ._vectorize import iter_segments

    _BUDGET = 1 << 14  # 16k grams x 64 u8 = 1 MB bit matrix, cache-resident

    @F.pandas_udf(T.LongType())
    def fp_udf(col: pd.Series) -> pd.Series:
        # Segment-vectorized in bounded chunks: unpackbits the gram hashes
        # into a (chunk × 64) uint8 bit matrix (8× less memory traffic than
        # a uint64 shift matrix — this kernel is bandwidth-bound), tally per
        # row with np.add.reduceat. No per-row Python loop.
        shifts = np.arange(64, dtype=np.uint64)
        out = np.zeros(len(col), dtype=np.int64)
        for idx, flat, starts in iter_segments(col, budget=_BUDGET):
            u = flat.astype(np.uint64)
            bits = np.unpackbits(
                u.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )  # little-endian: column j == bit j of the hash
            ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
            seg_lens = np.diff(np.append(starts, len(flat)))
            fp_bits = (2 * ones > seg_lens[:, None]).astype(np.uint64)
            out[idx] = (
                (fp_bits << shifts[None, :]).sum(axis=1, dtype=np.uint64).astype(np.int64)
            )
        return pd.Series(out)

    return grams_df.select("id", fp_udf("grams").alias("fp"))


_CHUNK_BYTES = 1 << 18  # text bytes hashed per kernel call


def simhash_text_fps(texts, k: int = 8) -> np.ndarray:
    """int64 SimHash fingerprints of raw texts (NULL = ''), one per text —
    the kernel of ``simhash_fingerprints_from_text`` and of the fused
    sketch pass."""
    from .substring import _HashLevels, _rolling_hashes

    shifts = np.arange(64, dtype=np.uint64)
    out = np.zeros(len(texts), dtype=np.int64)
    enc = [(t or "").encode("utf-8") for t in texts]
    row = 0
    i, n_rows = 0, len(enc)
    while i < n_rows:
        j, tot = i, 0
        while j < n_rows and (tot == 0 or tot + len(enc[j]) <= _CHUNK_BYTES):
            tot += len(enc[j])
            j += 1
        chunk = enc[i:j]
        flat_b = np.frombuffer(b"".join(chunk), dtype=np.uint8)
        H = _HashLevels(flat_b).window_hashes(k) if len(flat_b) >= k else None
        uniq: list[np.ndarray] = []
        pos = 0
        for b in chunk:
            n = len(b)
            if n < k:  # whole (short) text as the single gram
                uniq.append(_rolling_hashes(b, k))
            else:
                uniq.append(np.unique(H[pos : pos + n - k + 1]))
            pos += n
        lens = np.fromiter((len(u) for u in uniq), np.int64, len(uniq))
        flat = np.concatenate(uniq)
        starts = np.zeros(len(uniq), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        bits = np.unpackbits(
            flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        ones = np.add.reduceat(bits, starts, axis=0, dtype=np.int64)
        fp_bits = (2 * ones > lens[:, None]).astype(np.uint64)
        out[row : row + len(uniq)] = (
            (fp_bits << shifts[None, :]).sum(axis=1, dtype=np.uint64).astype(np.int64)
        )
        row += len(uniq)
        i = j
    return out


def simhash_fingerprints_from_text(
    df: DataFrame, id_col: str = "uid", text_col: str = "text", k: int = 8
) -> DataFrame:
    """``(id, fp long)`` — fused char-k-gram extraction + SimHash, ONE UDF.

    The two-step form (``char_ngram_df`` → ``simhash_fingerprints``)
    materializes ~n gram STRINGS per row JVM-side and ships the hashed
    ``array<long>`` through Arrow — 8× the text bytes. This kernel hashes
    k-grams with one doubling-table pass over the chunk's concatenated
    utf-8 bytes (polynomial rolling hash — a fixed uniform family, which is
    all SimHash needs from its gram hash; fingerprints are NOT numerically
    identical to the xxhash64-gram path, but banding/verify semantics are
    unchanged), dedups grams per row, and bit-tallies with the same
    unpackbits kernel. The pipeline's fused sketch pass runs the same kernel
    (``simhash_text_fps``); the two-step form stays for gram-level
    inspection.
    """

    @F.pandas_udf(T.LongType())
    def fp_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(simhash_text_fps(texts, k))

    return df.select(F.col(id_col).alias("id"), fp_udf(text_col).alias("fp"))


def simhash_bands(fp_df: DataFrame, bands: int = 4) -> DataFrame:
    """Split the 64-bit fingerprint into ``bands`` equal slices.

    Pigeonhole: two fps within Hamming distance ``bands - 1`` share at
    least one band verbatim.
    """
    width = 64 // bands
    mask = (1 << width) - 1
    band_arr = F.array(
        *[
            F.shiftrightunsigned(F.col("fp"), i * width).bitwiseAND(F.lit(mask))
            for i in range(bands)
        ]
    )
    return fp_df.select(
        "id", "fp", F.posexplode(band_arr).alias("band_idx", "band_val")
    )


def simhash_candidate_pairs(
    bands_df: DataFrame,
    max_bucket_size: int = 2000,
    neighbor_window: int | None = None,
    materialize: bool = True,
    salt_oversized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Bucket pairs on (band_idx, band_val) carrying both fps.

    16-bit band values collide by chance at a rate quadratic in corpus
    size, so the raw pair stream is NOT deduplicated here — the cheap
    JVM-side Hamming filter in ``verify_hamming`` runs first and the dedup
    shuffle sees only survivors. ONE shuffle of the band table
    (``_buckets.bucket_pairs``); oversized buckets are salted
    (``salt_oversized=True``) or excluded (``False``), and audited.
    """
    from ._buckets import bucket_pairs

    return bucket_pairs(
        bands_df,
        ["band_idx", "band_val"],
        payload_cols=["fp"],
        max_bucket_size=max_bucket_size,
        neighbor_window=neighbor_window,
        # False when the band table derives cheaply from an already-staged
        # fp table (the pipeline stages fps); True when fps are computed
        # inline (standalone simhash_near_dup_pairs).
        materialize=materialize,
        salt_oversized=salt_oversized,
    )


def simhash_rotation_candidate_pairs(
    fp_df: DataFrame,
    tables: int = 8,
    prefix_bits: int = 8,
    window: int = 8,
    max_bucket_size: int = 200_000,
    salt_oversized: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """Manku-style sorted-rotation candidates (Manku, Jain, Sarma —
    "Detecting Near-Duplicates for Web Crawling", WWW'07) — the documented
    extreme-scale alternative to fixed banding, now implemented.

    ``tables`` evenly-spaced bit-rotations of the fingerprint; table t
    buckets on the top ``prefix_bits`` of ``rotl(fp, t·64/tables)`` and
    pairs each member with its next ``window`` neighbors in rotated-value
    order (``bucket_pairs`` with ``order_col`` — ONE shuffle, capped,
    audited, salt-and-keep on oversized buckets).

    Bucket-containment guarantee: a bit position lands inside the prefix
    for exactly ``tables·prefix_bits/64`` of the rotations, so two
    fingerprints at Hamming distance d share the FULL prefix in at least
    ``tables − d·tables·prefix_bits/64`` tables — positive for every
    ``d < 64/prefix_bits`` (defaults: every pair with d ≤ 7 co-buckets in
    ≥ 1 table; fixed 4×16 banding only guarantees d ≤ 3). Adjacency within
    ``window`` of the rotated-sort is the heuristic half of the scheme —
    close fingerprints sort together — redundant across tables and checked
    by the planted-pair recall test. Within a bucket all members share the
    top bits, so the signed struct sort equals the unsigned rotated order.

    Returns ``(pairs(id_l, id_r, fp_l, fp_r), audit)`` with ids
    canonicalized (id_l < id_r); verify with ``verify_hamming``.
    """
    from ._buckets import bucket_pairs

    step = 64 // tables
    rot = F.array(
        *[
            F.col("fp")
            if t == 0
            else F.shiftleft("fp", t * step).bitwiseOR(
                F.shiftrightunsigned("fp", 64 - t * step)
            )
            for t in range(tables)
        ]
    )
    posting = fp_df.select(
        "id", "fp", F.posexplode(rot).alias("tbl", "rk")
    ).withColumn("bucket", F.shiftrightunsigned("rk", 64 - prefix_bits))
    raw, audit = bucket_pairs(
        posting,
        ["tbl", "bucket"],
        payload_cols=["fp"],
        max_bucket_size=max_bucket_size,
        neighbor_window=window,
        order_col="rk",
        salt_oversized=salt_oversized,
    )
    # rotated-order pairing does not order ids; canonicalize (fp follows
    # its id, but every consumer is symmetric in l/r)
    canon = raw.select(
        F.least("id_l", "id_r").alias("id_l"),
        F.greatest("id_l", "id_r").alias("id_r"),
        F.when(F.col("id_l") < F.col("id_r"), F.col("fp_l"))
        .otherwise(F.col("fp_r"))
        .alias("fp_l"),
        F.when(F.col("id_l") < F.col("id_r"), F.col("fp_r"))
        .otherwise(F.col("fp_l"))
        .alias("fp_r"),
    )
    return canon, audit


def simhash_rotation_pairs(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    k: int = 8,
    max_dist: int = 6,
    tables: int = 8,
    prefix_bits: int = 8,
    window: int = 8,
) -> DataFrame:
    """End-to-end near-exact pairs via sorted rotations — reaches
    ``max_dist`` up to ``64/prefix_bits − 1`` (default 7), beyond the
    fixed-banding guarantee of 3, with linear-in-corpus candidate volume
    (``tables·window`` pairs per row max)."""
    fps = simhash_fingerprints_from_text(df, id_col, text_col, k=k)
    pairs, _ = simhash_rotation_candidate_pairs(
        fps, tables=tables, prefix_bits=prefix_bits, window=window
    )
    return verify_hamming(pairs, max_dist=max_dist)


def verify_hamming(pairs: DataFrame, max_dist: int = 3) -> DataFrame:
    """``(id_l, id_r, hamming_dist)`` with distance ≤ max_dist — JVM-side
    popcount over XOR (the reference's syndrome-weight check, generalized:
    `hamming/mod.rs:48-57`)."""
    dist = F.bit_count(F.col("fp_l").bitwiseXOR(F.col("fp_r")))
    return (
        pairs.withColumn("hamming_dist", dist)
        .filter(F.col("hamming_dist") <= max_dist)
        .select("id_l", "id_r", "hamming_dist")
        .dropDuplicates(["id_l", "id_r"])
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    k: int = 8,
    bands: int = 4,
    max_dist: int = 3,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """End-to-end SimHash near-exact pairs. With bands=4, every pair within
    Hamming distance 3 is guaranteed a candidate (before the skew cap)."""
    grams = char_ngram_df(df, id_col, text_col, k=k)
    fps = simhash_fingerprints(grams)
    banded = simhash_bands(fps, bands=bands)
    pairs, _ = simhash_candidate_pairs(banded, max_bucket_size=max_bucket_size)
    return verify_hamming(pairs, max_dist=max_dist)
