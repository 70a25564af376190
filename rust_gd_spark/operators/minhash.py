"""MinHash / LSH near-duplicate detection, DataFrame-native.

Pipeline (SURVEY.md §3.4):

    normalize → shingle (JVM-side, whole-stage codegen) →
    MinHash signature (ONE Arrow-vectorized pandas UDF) →
    LSH band explode (posexplode) →
    bucket-pair generation on (band_idx, band_hash)  [ONE shuffle of the
      band table: groupBy + capped in-bucket pair explosion, _buckets.py] →
    exact-Jaccard verify via array_intersect      [no extra explode shuffle]

Scale notes (the parts that matter at 10^12 turns):

* Shingle hashing is ``xxhash64`` — JVM-side, stays inside whole-stage
  codegen; Python sees only the compact ``array<long>`` per row.
* The signature UDF is batched: one numpy matmul-shaped min-reduction per
  Arrow batch, never per row.
* Candidate generation shuffles the band table ONCE (groupBy band key,
  singleton buckets pruned by a compact count-agg before any member list is
  collected — see ``_buckets.bucket_pairs``). Boilerplate text (the
  reference's Jugemu/"padpadpad" corpus, `src/lib.rs:104-105`) creates
  mega-buckets; buckets larger than ``max_bucket_size`` are salted (hashed
  into chained ~cap-sized sub-buckets) or excluded from the O(m²)
  expansion, per ``salt_oversized``, and audited either way — never
  silent (see ``lsh_candidate_pairs`` return). The pipelines post the
  same ``(band_idx, band_hash)`` keys as path 0 of the one posting table
  of ``pipeline.bucket_candidates`` instead of calling the wrapper.
* Verification joins the (small) candidate-pair table back to per-doc
  shingle arrays — 2 hash joins, broadcast when the pair table is small.

This generalizes the reference's GD dictionary probe (`src/dict.rs:38-63`):
the "base" is the band hash (what near-duplicates share), the "deviation" is
the residual difference that exact-Jaccard verification quantifies.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MERSENNE_P = (1 << 61) - 1
_MAX_HASH = np.uint64((1 << 61) - 1)

# --- one-permutation hashing (OPH) constants -------------------------------
# splitmix64 finalizer constants (public domain, Steele et al.) — the OPH
# rehash must decorrelate the shingle hash's low bits before bucketing.
_SM_A = np.uint64(0x9E3779B97F4A7C15)
_SM_B = np.uint64(0xBF58476D1CE4E5B9)
_SM_C = np.uint64(0x94D049BB133111EB)
_OPH_SENT = np.uint64(0xFFFFFFFFFFFFFFFF)  # empty-bucket sentinel
_OPH_OFF = np.uint64(0x165667B19E3779F9)   # densification distance offset


def normalize_text(col):
    """lower → strip non-alphanumerics → collapse whitespace.

    Mirrors the reference's error-alignment knob (`DESIGN.md:62-109`): it
    decides which variation is 'deviation' (ignored) vs 'base' (matched).
    Kept deliberately simple + ANSI-SQL-expressible for oracle parity.
    NULL text coalesces to '' so NULL and empty rows shingle identically —
    matching the DuckDB oracle's coalesce-to-empty handling.
    """
    c = F.lower(F.coalesce(col, F.lit("")))
    c = F.regexp_replace(c, r"[^a-z0-9]+", " ")
    return F.trim(c)


def tokenize(col):
    return F.split(normalize_text(col), r"\s+")


_SH_B = np.uint64(1_000_003)  # polynomial base for shingle span hashes


def _prefix_poly(flat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(H, powB)`` for byte array ``flat``: H[i] = poly hash of flat[:i]
    (Horner, base _SH_B, mod 2^64 wrap), powB[k] = _SH_B^k. The Horner
    recurrence is sequential, but (p, h) ∘ (p', h') = (p·p', h·p' + h') is
    associative — a Hillis-Steele doubling scan gives H in log₂(n)
    vectorized passes, no per-byte Python."""
    n = len(flat)
    h = flat.astype(np.uint64)
    p = np.full(n, _SH_B, dtype=np.uint64)
    shift = 1
    while shift < n:
        h[shift:] = h[:-shift] * p[shift:] + h[shift:]
        p[shift:] = p[:-shift] * p[shift:]
        shift <<= 1
    H = np.empty(n + 1, dtype=np.uint64)
    H[0] = 0
    H[1:] = h
    powB = np.empty(n + 1, dtype=np.uint64)
    powB[0] = 1
    np.cumprod(np.full(n, _SH_B, dtype=np.uint64), out=powB[1:])
    return H, powB


def _shingle_hash_batch(
    texts: list[str], w: int, counted: bool = False
) -> list[np.ndarray]:
    """Distinct sorted w-gram span hashes per NORMALIZED text.

    ``counted=True`` returns per-row ``(values, counts)`` tuples instead —
    the MULTISET of shingles (same distinct values, plus each one's
    occurrence count), for bag-Jaccard semantics.

    One concatenated byte buffer per call: prefix poly hashes (log-passes),
    token boundaries from the single-space structure of normalized text,
    then every shingle hash as H[end] − H[start]·B^(end−start) — a fully
    vectorized gather across ALL rows at once. A w-gram's hash is the hash
    of its byte span "tok_i … tok_{i+w-1}" (single-spaced), an injective
    encoding of the w-gram, so Jaccard over these sets equals Jaccard over
    the string w-grams (what the DuckDB oracle computes). Rows shorter than
    w tokens contribute their whole trimmed text as a single shingle;
    empty rows hash to the constant 0.
    """
    enc = [t.encode("utf-8") for t in texts]
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=len(enc))
    row_off = np.concatenate([[0], np.cumsum(lens)])
    flat = np.frombuffer(b"".join(enc), dtype=np.uint8)
    n = len(flat)
    H, powB = _prefix_poly(flat)

    span = lambda s, e: H[e] - H[s] * powB[e - s]  # noqa: E731

    if n == 0:
        if counted:
            return [
                (np.zeros(1, dtype=np.int64), np.ones(1, dtype=np.int32))
                for _ in enc
            ]
        return [np.zeros(1, dtype=np.int64) for _ in enc]

    # token boundaries: normalized text is single-spaced and trimmed, so a
    # token starts at a non-space whose predecessor is a space or a row
    # start, and ends before a space or row end.
    nonspace = flat != 0x20
    prev_ns = np.empty(n, dtype=bool)
    prev_ns[0] = False
    prev_ns[1:] = nonspace[:-1]
    next_ns = np.empty(n, dtype=bool)
    next_ns[-1] = False
    next_ns[:-1] = nonspace[1:]
    is_row_start = np.zeros(n + 1, dtype=bool)
    is_row_start[row_off[:-1]] = True
    t_start = np.where(nonspace & (~prev_ns | is_row_start[:n]))[0]
    t_end = np.where(nonspace & (~next_ns | is_row_start[1 : n + 1]))[0] + 1
    t_row = np.searchsorted(row_off, t_start, side="right") - 1

    # per-row token counts -> which rows take the w-gram path
    m = np.bincount(t_row, minlength=len(enc))
    out_vals: list[np.ndarray] = []
    out_rows: list[np.ndarray] = []
    if len(t_start) >= w:
        same_row = t_row[: len(t_row) - w + 1] == t_row[w - 1 :]
        s = t_start[: len(t_start) - w + 1][same_row]
        e = t_end[w - 1 :][same_row]
        out_vals.append(span(s, e))
        out_rows.append(t_row[: len(t_row) - w + 1][same_row])
    short = np.where(m < w)[0]
    if len(short):
        s = row_off[short]
        e = row_off[short + 1]
        out_vals.append(span(s, e))
        out_rows.append(short)

    vals = np.concatenate(out_vals) if out_vals else np.empty(0, dtype=np.uint64)
    rows = np.concatenate(out_rows) if out_rows else np.empty(0, dtype=np.int64)
    # global (row, value) sort + dedup, then split into per-row arrays
    order = np.lexsort((vals, rows))
    rows, vals = rows[order], vals[order]
    keep = np.empty(len(vals), dtype=bool)
    keep[:1] = True
    keep[1:] = (rows[1:] != rows[:-1]) | (vals[1:] != vals[:-1])
    if counted:
        # run length of each (row, value) group = occurrence count
        idx = np.where(keep)[0]
        gcnt = np.diff(np.append(idx, len(vals))).astype(np.int32)
        rows, vals = rows[keep], vals[keep].view(np.int64)
        counts = np.bincount(rows, minlength=len(enc))
        splits = np.cumsum(counts)[:-1]
        return list(zip(np.split(vals, splits), np.split(gcnt, splits)))
    rows, vals = rows[keep], vals[keep].view(np.int64)
    counts = np.bincount(rows, minlength=len(enc))
    return np.split(vals, np.cumsum(counts)[:-1])


def shingle_hashes(
    texts: list[str], w: int, chunk_bytes: int = 1 << 20
) -> list[np.ndarray]:
    """``_shingle_hash_batch`` over byte-bounded chunks of ``texts`` (one
    sorted distinct hash array per NORMALIZED text): ``chunk_bytes``
    bounds the kernel's scratch (~5 arrays × 8n) whatever the batch size.
    The kernel of ``shingle_df`` and of the fused sketch pass."""
    out: list[np.ndarray] = []
    i, n_rows = 0, len(texts)
    while i < n_rows:
        j, tot = i, 0
        while j < n_rows and (tot == 0 or tot + len(texts[j]) <= chunk_bytes):
            tot += len(texts[j])
            j += 1
        out.extend(_shingle_hash_batch(texts[i:j], w))
        i = j
    return out


def shingle_df(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    w: int = 5,
    hashed: bool = True,
    chunk_bytes: int = 1 << 20,
) -> DataFrame:
    """Per-row distinct w-shingles: ``(id, shingles array<long|string>)``.

    ``hashed=True`` (the scale path): normalization stays JVM-side
    (codegen scalar expressions), then ONE Arrow-vectorized pandas UDF
    computes all shingle hashes per batch via prefix polynomial hashing —
    see ``_shingle_hash_batch``. The previous all-JVM formulation
    (``transform(sequence, xxhash64(slice(...)))``) ran in Catalyst's
    expression INTERPRETER (higher-order functions don't participate in
    whole-stage codegen) and measured ~10× slower with a long
    parallelism-invariant JIT-warmup tail. Jaccard over distinct shingles
    is invariant under any injective shingle hash, which is why the DuckDB
    string-shingle oracle still matches.

    Documents shorter than ``w`` tokens contribute their full trimmed text
    as a single shingle (so short rows still participate).
    """
    if hashed:
        @F.pandas_udf(T.ArrayType(T.LongType()))
        def shingle_udf(norm: pd.Series) -> pd.Series:
            return pd.Series(shingle_hashes(list(norm), w, chunk_bytes))

        return df.select(
            F.col(id_col).alias("id"),
            shingle_udf(normalize_text(F.col(text_col))).alias("shingles"),
        )
    toks = tokenize(F.col(text_col))
    n = F.size(toks)
    grams = F.when(
        n >= w,
        F.transform(
            F.sequence(F.lit(0), n - w),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, w)),
        ),
    ).otherwise(F.array(F.concat_ws(" ", toks)))
    return df.select(
        F.col(id_col).alias("id"),
        F.array_distinct(grams).alias("shingle_strs"),
    )


def _oph_signatures_chunk(
    flat: np.ndarray, starts: np.ndarray, num_perm: int
) -> np.ndarray:
    """Fast-similarity-sketching MinHash signatures for one segment chunk.

    One-permutation hashing (Li, Owen, Zhang NIPS'12) extended to the
    multi-round *fast similarity sketching* scheme (Dahlgaard, Knudsen,
    Thorup FOCS'17): instead of k independent (a_j·h+b_j) passes — an
    O(m·k) matrix whose memory traffic made the signature stage the
    measured non-scaling bottleneck of the whole pipeline (BASELINE.md
    round-3 profile: ~80 s at 4 AND 16 executors) — round t rehashes each
    shingle once (splitmix64 of ``shingle ^ t·C``), routes it to bucket
    ``g mod k`` with value ``(t << 47) | g_hi``, and each bucket keeps its
    min; a row keeps taking rounds until all k of its buckets are filled.
    Because the round number occupies the value's high bits, rounds past a
    bucket's first fill never change its min, so the per-row adaptive
    stopping is exact. Expected O(m + k·log k) work per row, far below
    k-perm's O(m·k) for the long-document rows that dominate bytes.

    Estimator property: P[sig_j(A) = sig_j(B)] = J(A,B) per slot for ALL
    set sizes — slot j's value is the globally-earliest (round, hash) pair
    that lands on j, and by exchangeability over elements that pair lies
    in A∩B with probability exactly J. This is the FOCS'17 fix for both
    failure modes of single-round OPH densification on small sets: the
    ICML'14 rotation scheme's arc-length bias (round-3 VERDICT: est 0.86
    at true J=0.5) AND the bucket-collision information loss that even
    optimal densification (Shrivastava ICML'17) cannot recover (two
    shingles sharing a bucket in the only round ⇒ est ∈ {0,1}); later
    rounds re-expose every shingle. See tests/test_property.py::
    test_oph_estimator_tracks_jaccard. The LSH banding math is unchanged
    and the downstream exact-Jaccard verify keeps precision exact.

    Rows with zero shingles are the caller's concern (``iter_segments``
    skips them); they get deterministic sentinel-derived garbage, never a
    hang.
    """
    assert num_perm & (num_perm - 1) == 0, "oph requires power-of-two num_perm"
    n_rows = len(starts)
    lens = np.diff(np.append(starts, len(flat)))
    k = num_perm
    mask_k = np.uint64(k - 1)

    sig = np.full(n_rows * k, _OPH_SENT, dtype=np.uint64)
    row_of = np.repeat(np.arange(n_rows, dtype=np.int64), lens)
    active = lens > 0
    uflat = flat.astype(np.uint64)

    # Geometric round blocks (1, 2, 4, …, capped) bound the Python-loop
    # iteration count at O(log rounds) while overshooting the per-row
    # coupon-collector stopping time (~k·ln k / m rounds) by ≤ 2×; rounds
    # past a row's fill time are no-ops on its mins. Round budget 2^14:
    # P(a 1-shingle row unfilled) ≈ k·e^(-16384/k) ≈ 3e-54 at k=128.
    t0 = 0
    blk = 1
    _MAXR = 1 << 14
    while active.any() and t0 < _MAXR:
        blk = min(blk, _MAXR - t0)
        am = active[row_of]
        sh = uflat[am]
        rows = row_of[am]
        t = np.arange(t0, t0 + blk, dtype=np.uint64)
        x = sh[:, None] ^ (t[None, :] * _OPH_OFF)
        x = (x + np.uint64(1)) * _SM_A
        x ^= x >> np.uint64(29)
        x *= _SM_B
        x ^= x >> np.uint64(32)
        keys = (rows[:, None] * k + (x & mask_k).astype(np.int64)).ravel()
        vals = ((t[None, :] << np.uint64(47)) | (x >> np.uint64(17))).ravel()
        # A pair hitting an already-filled key can never win (earlier round
        # ⇒ smaller top bits), so scatter only pairs aimed at empty keys —
        # the scatter volume across ALL blocks is then O(n_rows·k), not
        # O(pairs): each scattered pair either fills a key or ties a
        # within-block duplicate.
        empty = sig[keys] == _OPH_SENT
        if empty.any():
            np.minimum.at(sig, keys[empty], vals[empty])
            aidx = np.nonzero(active)[0]
            done = (
                (sig.reshape(n_rows, k)[aidx] != _OPH_SENT).sum(axis=1) == k
            )
            active[aidx[done]] = False
        t0 += blk
        blk = min(blk * 2, 4096)

    sig = sig.reshape(n_rows, k)
    # zero-shingle rows (caller contract violation) or the ~e^-128 budget
    # miss: deterministic sentinel-offset fill, never a hang or a NaN.
    still = sig == _OPH_SENT
    if still.any():
        cols = np.arange(k, dtype=np.uint64)[None, :]
        sig = np.where(still, (_OPH_SENT - np.uint64(1)) ^ (cols * _OPH_OFF), sig)
    return sig & _MAX_HASH


_KPERM_BUDGET = 1 << 11  # 2048 shingles x 128 perms x 8B = 2 MB, cache-resident


def kperm_coefficients(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """The k-permutation family ``(a, b)``, drawn once from a seeded RNG on
    the driver and captured in the UDF closure (the reference broadcasts
    its generator matrix the same way, `rs/mod.rs:25-60` → SURVEY.md A12)."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, MERSENNE_P, size=num_perm, dtype=np.uint64)
    b = rng.integers(0, MERSENNE_P, size=num_perm, dtype=np.uint64)
    return a, b


def kperm_signatures(
    col: pd.Series, a: np.ndarray, b: np.ndarray, scratch: dict
) -> np.ndarray:
    """``(len(col), num_perm)`` uint64 k-permutation MinHash signatures of
    a column of shingle-hash arrays.

    Segment-vectorized in bounded chunks: (chunk_shingles × num_perm) hash
    matrix + np.minimum.reduceat — no per-row Python loop, no per-batch
    gigabyte allocations. The multiply wraps mod 2^64 then masks to 61
    bits: not the textbook (a·h+b) mod p family, but a fixed, uniform,
    deterministic one — all MinHash needs. ``scratch`` holds the hash
    matrix across calls (python workers are long-lived): fresh large
    allocations page-fault at ~30 MB/s in sandboxed containers, reuse runs
    at memory bandwidth.
    """
    from ._vectorize import iter_segments

    num_perm = len(a)
    sig = np.full((len(col), num_perm), _MAX_HASH, dtype=np.uint64)
    for idx, flat, starts in iter_segments(col, budget=_KPERM_BUDGET):
        v = scratch.get("v")
        if v is None or v.shape[0] < len(flat):
            v = scratch["v"] = np.empty(
                (max(len(flat), _KPERM_BUDGET), num_perm), dtype=np.uint64
            )
        v = v[: len(flat)]
        np.multiply(flat.astype(np.uint64)[:, None], a[None, :], out=v)
        np.add(v, b[None, :], out=v)
        np.bitwise_and(v, _MAX_HASH, out=v)
        sig[idx] = np.minimum.reduceat(v, starts, axis=0)
    return sig


def fold_bands(sig: np.ndarray, bands: int, rows: int) -> np.ndarray:
    """``(n, bands)`` int64 band hashes: each band's ``rows`` signature
    values folded by a polynomial hash (base _SH_B, mod 2^64 wrap)."""
    m = sig.reshape(len(sig), bands, rows)
    h = m[:, :, 0].copy()
    for j in range(1, rows):
        np.multiply(h, _SH_B, out=h)
        np.add(h, m[:, :, j], out=h)
    return h.view(np.int64)


def kperm_band_hashes(
    col: pd.Series, a: np.ndarray, b: np.ndarray, bands: int, rows: int,
    scratch: dict,
) -> np.ndarray:
    """``(len(col), bands)`` int64 fused MinHash band hashes — the kernel of
    ``minhash_band_hashes`` and of the fused sketch pass."""
    return fold_bands(kperm_signatures(col, a, b, scratch), bands, rows)


def minhash_signatures(
    shingles: DataFrame, num_perm: int = 128, seed: int = 1,
    scheme: str = "kperm",
) -> DataFrame:
    """``(id, sig array<long>[num_perm])`` via one vectorized pandas UDF.

    ``scheme="kperm"``: sig_j = min over shingle hashes h of
    ((a_j * h + b_j) mod (2^61 - 1)), a/b drawn once from a seeded RNG on
    the driver and captured in the UDF closure (the reference broadcasts
    its generator matrix the same way, `rs/mod.rs:25-60` → SURVEY.md A12).

    ``scheme="oph"``: densified one-permutation hashing — O(m) per doc
    instead of O(m·num_perm); see ``_oph_signatures_chunk``. Only the
    ``minhash_lsh_pairs_oph`` driver query uses it; the pipeline runs kperm.
    ``seed`` is unused (the single permutation is the fixed splitmix64
    rehash).
    """
    if scheme == "oph":
        from ._vectorize import iter_segments

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def oph_sig_udf(col: pd.Series) -> pd.Series:
            out = np.full(
                (len(col), num_perm), np.int64(_MAX_HASH), dtype=np.int64
            )
            for idx, flat, starts in iter_segments(col, budget=1 << 16):
                out[idx] = _oph_signatures_chunk(
                    flat, starts, num_perm
                ).view(np.int64)
            return pd.Series(list(out))

        return shingles.select("id", oph_sig_udf("shingles").alias("sig"))
    if scheme != "kperm":
        raise ValueError(f"unknown minhash scheme {scheme!r}")
    a, b = kperm_coefficients(num_perm, seed)
    scratch: dict = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sig_udf(col: pd.Series) -> pd.Series:
        return pd.Series(list(kperm_signatures(col, a, b, scratch).view(np.int64)))

    return shingles.select("id", sig_udf("shingles").alias("sig"))


def minhash_band_hashes(
    shingles: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    rows: int = 4,
    seed: int = 1,
    scheme: str = "kperm",
) -> DataFrame:
    """``(id, bands array<long>[bands])`` — MinHash signature + LSH band
    hashing FUSED in one vectorized kernel.

    ``scheme="oph"`` swaps the k-permutation signature matrix for densified
    one-permutation hashing (``_oph_signatures_chunk``) — same banding
    semantics over a signature computed with ~14× less memory traffic; the
    scale path for the pipeline's measured bandwidth-bound stage.

    The two-step form (``minhash_signatures`` → ``lsh_bands``) ships the
    full ``num_perm``-long signature through Arrow/checkpoint and computes
    band hashes with ``transform(sequence, xxhash64(slice(sig)))`` — a
    higher-order expression Catalyst executes in its INTERPRETER (HOFs do
    not enter whole-stage codegen), and ``bucket_pairs`` re-derives that
    band table on every scan. Fusing moves the band hash into the same
    numpy pass that owns the signature matrix: the staged table shrinks
    ``num_perm/bands``× (32 longs → one per band) and the band explode
    becomes a bare codegen ``posexplode``. Bucketing semantics are
    identical — a band hash is a deterministic injective-up-to-collision
    digest of the band's signature slice either way. The two-step form
    stays for signature-level inspection/tests.
    """
    assert bands * rows == num_perm

    if scheme == "oph":
        from ._vectorize import iter_segments

        @F.pandas_udf(T.ArrayType(T.LongType()))
        def oph_band_udf(col: pd.Series) -> pd.Series:
            sig = np.full((len(col), num_perm), _MAX_HASH, dtype=np.uint64)
            for idx, flat, starts in iter_segments(col, budget=1 << 16):
                sig[idx] = _oph_signatures_chunk(flat, starts, num_perm)
            return pd.Series(list(fold_bands(sig, bands, rows)))

        return shingles.select("id", oph_band_udf("shingles").alias("bands"))
    if scheme != "kperm":
        raise ValueError(f"unknown minhash scheme {scheme!r}")

    a, b = kperm_coefficients(num_perm, seed)
    scratch: dict = {}

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def band_udf(col: pd.Series) -> pd.Series:
        return pd.Series(list(kperm_band_hashes(col, a, b, bands, rows, scratch)))

    return shingles.select("id", band_udf("shingles").alias("bands"))


def explode_band_hashes(band_df: DataFrame) -> DataFrame:
    """``(id, band_idx, band_hash)`` from the fused band table — one
    codegen ``posexplode``, nothing interpreted."""
    return band_df.select(
        "id", F.posexplode("bands").alias("band_idx", "band_hash")
    )


def lsh_bands(signatures: DataFrame, bands: int = 32, rows: int = 4) -> DataFrame:
    """Explode signatures into ``(id, band_idx, band_hash)``.

    band_hash = xxhash64 over the band's slice of the signature — JVM-side.
    """
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda i: F.xxhash64(F.slice(F.col("sig"), i * rows + 1, rows), i),
    )
    return signatures.select(
        "id", F.posexplode(band_arr).alias("band_idx", "band_hash")
    )


def lsh_candidate_pairs(
    bands_df: DataFrame,
    max_bucket_size: int = 2000,
    neighbor_window: int | None = None,
    salt_oversized: bool = False,
    oversized=None,
    history: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Bucket pairs on (band_idx, band_hash) → distinct pairs (id_l < id_r).

    ONE shuffle (groupBy band key + in-bucket pair explosion, see
    ``_buckets.bucket_pairs``) instead of window-count + self-join — the
    posting table is shuffled once, not three times. Returns
    ``(pairs, skew_audit)``; buckets with more than ``max_bucket_size``
    members are salted (``salt_oversized``) or excluded from the O(m²)
    expansion, and reported in ``skew_audit(band_idx, band_hash,
    bucket_size, action)`` — never dropped silently. A 2000-member bucket
    alone would emit 2M pairs. ``oversized`` and ``history`` (stored
    postings, paired against ``bands_df`` only) go to ``bucket_pairs``.
    """
    from ._buckets import bucket_pairs

    raw, audit = bucket_pairs(
        bands_df,
        ["band_idx", "band_hash"],
        max_bucket_size=max_bucket_size,
        neighbor_window=neighbor_window,
        materialize=False,  # 32×-exploded band table: recompute beats storing
        salt_oversized=salt_oversized,
        oversized=oversized,
        history=history,
    )
    return raw.dropDuplicates(["id_l", "id_r"]), audit


def verify_jaccard(
    pairs: DataFrame, shingles: DataFrame, threshold: float = 0.8
) -> DataFrame:
    """Exact Jaccard on candidate pairs via two hash joins + array_intersect.

    ``(id_l, id_r, jaccard)`` with jaccard >= threshold. No explode; the
    per-doc shingle arrays ride along the join. JVM-side set intersection.
    """
    sl = shingles.select(F.col("id").alias("id_l"), F.col("shingles").alias("sh_l"))
    sr = shingles.select(F.col("id").alias("id_r"), F.col("shingles").alias("sh_r"))
    j = pairs.join(sl, "id_l").join(sr, "id_r")
    inter = F.size(F.array_intersect("sh_l", "sh_r"))
    union = F.size("sh_l") + F.size("sh_r") - inter
    return (
        j.select(
            "id_l",
            "id_r",
            (inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")).alias(
                "jaccard"
            ),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    w: int = 5,
    num_perm: int = 128,
    bands: int = 32,
    rows: int = 4,
    threshold: float = 0.8,
    max_bucket_size: int = 2000,
    seed: int = 1,
    scheme: str = "kperm",
) -> DataFrame:
    """End-to-end MinHash/LSH near-dup pairs, exact-Jaccard verified.

    With (bands=32, rows=4): P[miss | J=0.8] = (1 - 0.8^4)^32 ≈ 5e-8
    (``scheme="oph"``: same banding math over the densified-OPH signature,
    whose per-slot collision probability is likewise ≈ J).
    """
    # shingles feed three consumers (signatures + both verify sides);
    # eager materialization computes the shingling exactly once.
    sh = shingle_df(df, id_col, text_col, w=w).localCheckpoint(eager=True)
    # checkpoint the fused band-hash table: bucket_pairs scans its input
    # twice (count agg + prune join) and the signature kernel is this
    # operator's dominant cost — the band explode re-derives cheaply.
    bh = minhash_band_hashes(
        sh, num_perm=num_perm, bands=bands, rows=rows, seed=seed, scheme=scheme
    ).localCheckpoint(eager=True)
    bandsdf = explode_band_hashes(bh)
    pairs, _ = lsh_candidate_pairs(bandsdf, max_bucket_size=max_bucket_size)
    # materialize the (small) candidate table before the verify joins
    pairs = pairs.localCheckpoint(eager=True)
    return verify_jaccard(pairs, sh, threshold=threshold)


def exact_jaccard_pairs(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    w: int = 5,
    threshold: float = 0.5,
    max_df: int | None = None,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """EXACT all-pairs w-shingle Jaccard >= threshold via inverted index.

    Not O(n²): explode shingles → self-join on shingle hash → count common
    per pair → join per-doc set sizes. ``max_df`` optionally drops shingles
    present in more than max_df docs (stopword shingles — the classic
    scale guard; None = exact). This is the oracle-verifiable exact
    operator; MinHash/LSH is its approximation.

    ``shingles``: optional precomputed ``(id, shingles)`` table (the
    ``shingle_df`` shape) — callers that also verify other candidate
    families against the same corpus pass one shared (checkpointed)
    table so the shingle kernel runs once, not per consumer.
    """
    # Pin the shingle table when this operator builds it: sizes and the
    # posting explode BOTH read it, and the shingle kernel is a pandas-UDF
    # subtree — never an exchange-reuse candidate — so unpinned it ran
    # once per consumer (interleaved: jaccard_topk_neighbors 0.54x,
    # dup_threshold_sensitivity 0.63x with the pin). Callers that pass a
    # shared ``shingles`` table have already pinned it themselves. This is
    # the calibration-tier exact operator, so the pinned table is bounded
    # by the corpus slice it is pointed at, not the full 100 TB corpus.
    sh = (
        shingles
        if shingles is not None
        else shingle_df(df, id_col, text_col, w=w).localCheckpoint(eager=True)
    )
    sizes = sh.select("id", F.size("shingles").alias("n_sh"))
    posting = sh.select("id", F.explode("shingles").alias("s"))
    if max_df is not None:
        rare = posting.groupBy("s").agg(F.count("*").alias("df")).filter(
            F.col("df") <= max_df
        )
        posting = posting.join(rare.select("s"), "s")
    l = posting.alias("l")
    r = posting.alias("r")
    common = (
        l.join(r, "s")
        .filter(F.col("l.id") < F.col("r.id"))
        .groupBy(F.col("l.id").alias("id_l"), F.col("r.id").alias("id_r"))
        .agg(F.count("*").alias("n_common"))
    )
    out = (
        common.join(sizes.select(F.col("id").alias("id_l"), F.col("n_sh").alias("n_l")), "id_l")
        .join(sizes.select(F.col("id").alias("id_r"), F.col("n_sh").alias("n_r")), "id_r")
        .select(
            "id_l",
            "id_r",
            (
                F.col("n_common").cast("double")
                / (F.col("n_l") + F.col("n_r") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def jaccard_topk_neighbors(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    w: int = 5,
    k: int = 5,
    threshold: float = 0.1,
    max_df: int | None = None,
) -> DataFrame:
    """Per-document top-k most-similar neighbors by exact w-shingle Jaccard.

    The analysis sibling of threshold dedup: instead of "is this a
    duplicate", "what are this document's nearest relatives and how
    close" — the input for manual dedup-threshold calibration, cluster
    exploration, and duplicate-provenance review. Output::

        (id, neighbor_id, jaccard, rank)

    ``rank`` is 1-based per id, ordered by (jaccard desc, neighbor_id
    asc) — a TOTAL order over 6-dp-rounded scores, so ranks are
    partition-order independent and twin-reproducible. Pairs below
    ``threshold`` never rank (they are not in the candidate set — at
    corpus scale the threshold is what keeps the pair table bounded).

    Plan: ``exact_jaccard_pairs`` (inverted index, ``max_df`` stopword
    guard) → symmetrize (each pair serves both endpoints) →
    ``row_number`` per id — Spark plans the per-id top-k as
    WindowGroupLimit (rank pushdown), so no per-id full sort survives.
    """
    # Pin the pair table before symmetrizing: both union branches read it.
    # AQE exchange reuse already covers the expensive posting self-join,
    # but the post-exchange derivation (size joins + jaccard filter) still
    # ran once per branch — the pin trims those tail stages (downstream
    # job task counts 8/9/10 -> 2/3/4 in the job audit, ~7% interleaved).
    # It holds only (id_l, id_r, jaccard) rows, which the threshold bounds
    # at corpus scale.
    pairs = exact_jaccard_pairs(
        df, id_col, text_col, w=w, threshold=threshold, max_df=max_df
    ).select(
        "id_l", "id_r", F.round("jaccard", 6).alias("jaccard")
    ).localCheckpoint(eager=True)
    sym = pairs.select(
        F.col("id_l").alias("id"), F.col("id_r").alias("neighbor_id"), "jaccard"
    ).unionByName(
        pairs.select(
            F.col("id_r").alias("id"), F.col("id_l").alias("neighbor_id"),
            "jaccard",
        )
    )
    from pyspark.sql import Window

    wspec = Window.partitionBy("id").orderBy(
        F.col("jaccard").desc(), F.col("neighbor_id").asc()
    )
    return (
        sym.withColumn("rank", F.row_number().over(wspec))
        .filter(F.col("rank") <= k)
    )
