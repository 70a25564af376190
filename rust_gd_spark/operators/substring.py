"""Long-verbatim-substring dedup via winnowing fingerprints.

SURVEY.md §7 S3: the reference's chunk dictionary catches *aligned* repeats
(`src/gd_byte_unit.rs:42-65` fixed chunk grid); a copied span at an
arbitrary offset defeats it. Winnowing (Schleimer, Wilkerson, Aiken —
SIGMOD'03, local document fingerprinting) is the scale-correct fix: content-
defined sampling of rolling k-gram hashes such that ANY common substring of
length ≥ k + w − 1 between two documents yields at least one shared
fingerprint — no alignment assumption.

Pipeline:

    winnow fingerprints (ONE vectorized pandas UDF, numpy rolling hash +
      sliding-window argmin) →
    inverted-index self-join on fingerprint (skew-capped, audited) →
    verify: exact longest-common-substring length ≥ min_len via binary
      search over rolling-hash sets (pandas UDF over candidate pairs only)

Defaults k=64, w=137 ⇒ guarantee for spans ≥ 200 BYTES (FIXTURES.md §1;
all lengths in this module are UTF-8 byte counts — see
``substring_near_dup_pairs``).

Scale: fingerprint density is ~2/(w+1) per char — a 10 KB doc yields ~150
fingerprints, so the posting list shuffle is ~100× smaller than full k-gram
posting. Mega-fingerprints (boilerplate) are capped + audited like LSH
bands. Verification touches only candidate pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

_B = np.uint64(1_000_003)  # rolling-hash base (mod 2^64 natural wrap)


def _rolling_hashes(data: bytes, k: int) -> np.ndarray:
    """uint64 polynomial hashes of every k-byte window; len = n-k+1.
    k vectorized passes (h = h*B + byte), no per-window Python loop."""
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = len(b)
    if n < k:
        h = 0
        for x in b.tolist():  # python ints: no numpy scalar-overflow warnings
            h = (h * int(_B) + x) & 0xFFFFFFFFFFFFFFFF
        return np.array([h], dtype=np.uint64)
    m = n - k + 1
    h = np.zeros(m, dtype=np.uint64)
    for j in range(k):
        h = h * _B + b[j : j + m]
    return h


def _winnow(hashes: np.ndarray, w: int) -> np.ndarray:
    """Rightmost-min-per-window winnowing; distinct selected hash values."""
    if len(hashes) == 0:
        return hashes
    if len(hashes) <= w:
        return np.unique([hashes.min()])
    win = np.lib.stride_tricks.sliding_window_view(hashes, w)
    # rightmost minimum: argmin over reversed window
    rev = win[:, ::-1]
    pos = (w - 1) - rev.argmin(axis=1) + np.arange(win.shape[0])
    return np.unique(hashes[np.unique(pos)])


def _sliding_min(h: np.ndarray, w: int) -> np.ndarray:
    """Min over every length-w window, O(n): block prefix/suffix minima."""
    m = len(h)
    if m <= w:
        return h.min(keepdims=True)
    nw = m - w + 1
    pad = (-m) % w
    hp = np.concatenate([h, np.full(pad, np.uint64(0xFFFFFFFFFFFFFFFF))])
    blocks = hp.reshape(-1, w)
    pref = np.minimum.accumulate(blocks, axis=1).ravel()
    suff = np.minimum.accumulate(blocks[:, ::-1], axis=1)[:, ::-1].ravel()
    return np.minimum(suff[:nw], pref[w - 1 : w - 1 + nw])


_CHUNK_BYTES = 1 << 18  # text bytes hashed per kernel call


def winnow_text_fps(texts, k: int = 64, w: int = 137) -> list[list[int]]:
    """Distinct winnowing fingerprints per raw text (NULL = '', which has
    none) — the kernel of ``winnow_fingerprints`` and of the fused sketch
    pass."""
    out: list = []
    enc = [(t or "").encode("utf-8") for t in texts]
    i, n_rows = 0, len(enc)
    while i < n_rows:
        j, tot = i, 0
        while j < n_rows and (tot == 0 or tot + len(enc[j]) <= _CHUNK_BYTES):
            tot += len(enc[j])
            j += 1
        chunk = enc[i:j]
        flat = np.frombuffer(b"".join(chunk), dtype=np.uint8)
        H = _HashLevels(flat).window_hashes(k) if len(flat) >= k else None
        pos = 0
        for b in chunk:
            n = len(b)
            if n == 0:
                out.append([])
            elif n < k:
                out.append(_rolling_hashes(b, k).astype(np.int64).tolist())
            else:
                hs = H[pos : pos + n - k + 1]
                out.append(np.unique(_sliding_min(hs, w)).astype(np.int64).tolist())
            pos += n
        i = j
    return out


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    k: int = 64,
    w: int = 137,
) -> DataFrame:
    """``(id, fps array<long>)`` — winnowing fingerprint set per row.

    Batched kernel: each chunk's texts are CONCATENATED and hashed with one
    O(N log k) doubling-table pass (boundary-crossing windows simply aren't
    selected), then per-text window minima come from the O(n) block
    prefix/suffix trick. The per-row formulation (k Horner passes + an
    O(n·w) sliding argmin) costs ~10× more memory traffic. The selected
    fingerprint VALUE set is identical: the set of per-window minima equals
    the set of values at winnowing-selected positions.
    """

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def fp_udf(texts: pd.Series) -> pd.Series:
        return pd.Series(winnow_text_fps(texts, k, w))

    return df.select(F.col(id_col).alias("id"), fp_udf(text_col).alias("fps"))


def substring_candidate_pairs(
    fps: DataFrame,
    max_posting_size: int = 2000,
    neighbor_window: int | None = None,
    salt_oversized: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Inverted-index bucket pairs on shared fingerprints → distinct pairs.

    ONE shuffle of the posting table (``_buckets.bucket_pairs``).
    Fingerprints present in more than ``max_posting_size`` docs are salted
    (``salt_oversized=True``) or excluded (``False``), and audited either
    way (boilerplate guard, same policies as LSH bands). The posting
    explode is not pinned: both callers pass an already pinned ``fps``
    (the pipeline's ``sketches`` stage, ``substring_near_dup_pairs``' winnow
    table), and the explode re-derives from it in codegen.
    """
    from ._buckets import bucket_pairs

    posting = fps.select("id", F.explode("fps").alias("fp"))
    raw, audit = bucket_pairs(
        posting,
        ["fp"],
        max_bucket_size=max_posting_size,
        neighbor_window=neighbor_window,
        materialize=False,
        salt_oversized=salt_oversized,
    )
    return raw.dropDuplicates(["id_l", "id_r"]), audit


class _HashLevels:
    """Sparse doubling table of polynomial window hashes.

    ``levels[j][i]`` = hash of the 2^j-byte window at ``i``; built with
    O(log n) vectorized passes. ``window_hashes(L)`` then combines the set
    bits of L (h(x∥y) = h(x)·B^len(y) + h(y), mod-2^64 wrap) in O(popcount)
    passes — so every binary-search probe in the LCS verify is O(log) numpy
    dispatches instead of the O(L) passes a naive rolling hash costs.
    """

    __slots__ = ("n", "levels", "pows")

    def __init__(self, data):
        if isinstance(data, np.ndarray):
            b = data.astype(np.uint64)
        else:
            b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
        self.n = len(b)
        self.levels = [b]
        self.pows = [_B]
        while (1 << len(self.levels)) <= self.n:
            k = 1 << (len(self.levels) - 1)
            prev, p = self.levels[-1], self.pows[-1]
            self.levels.append(prev[: len(prev) - k] * p + prev[k:])
            self.pows.append(np.uint64((int(p) * int(p)) & 0xFFFFFFFFFFFFFFFF))

    def window_hashes(self, L: int) -> np.ndarray | None:
        """Hashes of every L-byte window, or None if L > n."""
        if L <= 0 or L > self.n:
            return None
        m = self.n - L + 1
        acc: np.ndarray | None = None
        offset = 0
        for j in range(len(self.levels) - 1, -1, -1):
            if (L >> j) & 1:
                piece = self.levels[j][offset : offset + m]
                acc = piece.copy() if acc is None else acc * self.pows[j] + piece
                offset += 1 << j
        return acc


def _lcs_length_ge(
    a: bytes, b: bytes, min_len: int, memo: dict | None = None
) -> int:
    """Longest common substring length if ≥ min_len else 0.

    Binary search over length L with hash-set intersection; the doubling
    tables are built once per TEXT and reused by every probe — ``memo``
    (keyed by the text) shares tables across pairs in a batch, which is the
    expensive case exactly: boilerplate texts recur in thousands of pairs.
    64-bit hashes make collisions negligible, and each candidate is
    confirmed byte-exactly.
    """
    if min_len <= 0 or min(len(a), len(b)) < min_len:
        return 0
    if memo is None:
        la, lb = _HashLevels(a), _HashLevels(b)
    else:
        la = memo.get(a)
        if la is None:
            la = memo[a] = _HashLevels(a)
        lb = memo.get(b)
        if lb is None:
            lb = memo[b] = _HashLevels(b)

    def common_at(L: int) -> bool:
        ha = la.window_hashes(L)
        hb = lb.window_hashes(L)
        if ha is None or hb is None:
            return False
        _, ia, ib = np.intersect1d(ha, hb, return_indices=True)
        # byte-exact confirmation of a witness
        for x, y in zip(ia[:8], ib[:8]):
            if a[x : x + L] == b[y : y + L]:
                return True
        return False

    if not common_at(min_len):
        return 0
    lo, hi = min_len, min(len(a), len(b))
    while lo < hi:
        mid = (lo + hi + 1) // 2
        if common_at(mid):
            lo = mid
        else:
            hi = mid - 1
    return lo


def _common_at_least(a: bytes, b: bytes, min_len: int, memo: dict) -> int:
    """min_len if a byte-exact common substring of that length exists else 0
    — the single-probe form of ``_lcs_length_ge``."""
    if min_len <= 0 or min(len(a), len(b)) < min_len:
        return 0
    la = memo.get(a)
    if la is None:
        la = memo[a] = _HashLevels(a)
    lb = memo.get(b)
    if lb is None:
        lb = memo[b] = _HashLevels(b)
    ha = la.window_hashes(min_len)
    hb = lb.window_hashes(min_len)
    _, ia, ib = np.intersect1d(ha, hb, return_indices=True)
    for x, y in zip(ia[:8], ib[:8]):
        if a[x : x + min_len] == b[y : y + min_len]:
            return min_len
    return 0


def verify_common_substring(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    min_len: int = 200,
    exact_length: bool = True,
) -> DataFrame:
    """``(id_l, id_r, common_len)`` for pairs whose exact longest common
    substring is ≥ min_len. Texts join onto the (small) candidate table.

    ``exact_length=False`` answers only the THRESHOLD question (common_len
    reported as min_len): one hash-set probe per pair instead of a full
    binary search — ~10× cheaper on long documents where most candidates
    pass (e.g. conversations sharing whole turns). The clustering pipeline
    uses this mode; the threshold decision itself stays exact."""
    txt = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("t"))
    j = (
        pairs.join(txt.withColumnRenamed("id", "id_l").withColumnRenamed("t", "t_l"), "id_l")
        .join(txt.withColumnRenamed("id", "id_r").withColumnRenamed("t", "t_r"), "id_r")
    )

    @F.pandas_udf(T.IntegerType())
    def lcs_udf(tl: pd.Series, tr: pd.Series) -> pd.Series:
        memo: dict = {}  # per-batch text → _HashLevels (boilerplate recurs)
        if exact_length:
            vals = [
                _lcs_length_ge((x or "").encode(), (y or "").encode(), min_len, memo)
                for x, y in zip(tl, tr)
            ]
        else:
            vals = [
                _common_at_least(
                    (x or "").encode(), (y or "").encode(), min_len, memo
                )
                for x, y in zip(tl, tr)
            ]
        return pd.Series(vals, dtype="int32")

    # The kernel IS deterministic; the flag only stops Catalyst from
    # duplicating the eval — pushing `common_len >= min_len` down creates a
    # SECOND ArrowEvalPython of this (most expensive per-row) UDF, doubling
    # the whole verify stage (measured 2x on the 2M-turn corpus profile).
    lcs_udf = lcs_udf.asNondeterministic()

    return (
        j.withColumn("common_len", lcs_udf("t_l", "t_r"))
        .filter(F.col("common_len") >= min_len)
        .select("id_l", "id_r", "common_len")
    )


def substring_near_dup_pairs(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    min_len: int = 200,
    w: int | None = None,
    k: int | None = None,
    max_posting_size: int = 2000,
    exact_length: bool = True,
) -> DataFrame:
    """End-to-end: pairs sharing a verbatim substring of ≥ min_len BYTES.

    Length semantics: all lengths (``min_len``, ``common_len``) are UTF-8
    BYTE counts — fingerprints and the LCS verify operate on
    ``text.encode()``. For ASCII text bytes == characters; for non-ASCII
    text a byte threshold admits shorter character spans (a multi-byte
    span of min_len bytes is < min_len characters). Callers thresholding
    in characters should scale ``min_len`` by their worst-case bytes/char.

    Winnowing guarantee: with k-gram length k and window w chosen so that
    k + w − 1 ≤ min_len, every qualifying pair shares ≥ 1 fingerprint —
    candidate recall is exact (the cap + audit on mega-postings is the
    only drop, and it is reported). ``exact_length=False`` reports
    common_len = min_len for every qualifying pair (threshold decision
    only, ~10× cheaper; the pair SET is identical).
    """
    if k is None:
        k = max(16, min_len // 3)
    if w is None:
        w = min_len - k + 1
    assert k + w - 1 <= min_len
    # Pin the winnow fingerprint table: bucket_pairs scans its input
    # twice (count agg + prune join) and the winnow kernel is a pandas-UDF
    # subtree exchange reuse never covers — unpinned it ran per scan
    # (0.75x interleaved with the pin). Same rule the pipeline applies to
    # its band-hash table; ~1 fingerprint row per w bytes of text held.
    fps = winnow_fingerprints(df, id_col, text_col, k=k, w=w).localCheckpoint(
        eager=True
    )
    pairs, _ = substring_candidate_pairs(fps, max_posting_size=max_posting_size)
    # materialize the (small) candidate table before the verify joins
    pairs = pairs.localCheckpoint(eager=True)
    return verify_common_substring(
        pairs, df, id_col, text_col, min_len=min_len, exact_length=exact_length
    )
