"""Spark layer over the GD kernel.

Two paths, both DataFrame-native:

1. **Faithful per-conversation round-trip** (`gd_conversation_roundtrip`):
   each conversation is one GD stream — turn texts are serialized in stable
   turn order into a byte buffer, GD-deduped, GD-duped with a fresh
   dictionary, and compared per turn. This is the Spark analogue of the
   reference's `assert_eq!(duped, words)` tests (`src/lib.rs:130,183,230`);
   conversations parallelize across executors (the reference's
   `spawn_blocking` chunk parallelism, `gd_byte_unit.rs:67-76`, becomes
   Spark task parallelism).

   Serialization contract (this path only): a conversation's turns are
   packed as repeated ``[u32 turn_idx][u32 byte length][utf-8 bytes]``
   records in turn order — lossless and order-stable, so per-turn text
   equality is checkable.

2. **Scalable decompose/dictionary/reconstruct** (`gd_decompose` →
   `pipeline.write_gd_outputs` → `pipeline.read_gd_outputs` →
   `gd_reconstruct`): each turn's UTF-8 bytes are chunked on their own, so
   a repeated turn decomposes into the same bases wherever it occurs.
   Chunks become rows `(conv_id, turn_idx, chunk_idx, base, deviation,
   last_chunk_pad)`; the reference's stateful LRU dictionary probe
   (`src/dict.rs:38-63`) becomes a join against a distinct-base table.
   That table is the archive's committed `bases` file (`BASES_SCHEMA`):
   each distinct base gets a dense id counted within its file, and the
   `deviations` (`DEVIATIONS_SCHEMA`) hold that id in place of the base.
   Reconstruction is the inverse join + batched re-encode + per-turn
   reassembly. No global state and no global counter (ids count within
   each file, so nothing serializes): one shuffle by conv_id, one by base.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from .core import make_gd


def serialize_turns(turn_idx: list[int], texts: list[str]) -> bytes:
    """Pack turns as repeated [u32 turn_idx][u32 len][utf-8 bytes]."""
    out = bytearray()
    for i, t in zip(turn_idx, texts):
        b = t.encode("utf-8")
        out.extend(struct.pack(">II", i, len(b)))
        out.extend(b)
    return bytes(out)


def deserialize_turns(buf: bytes) -> tuple[list[int], list[str]]:
    idxs: list[int] = []
    texts: list[str] = []
    ptr = 0
    while ptr + 8 <= len(buf):
        i, n = struct.unpack(">II", buf[ptr : ptr + 8])
        ptr += 8
        idxs.append(i)
        texts.append(buf[ptr : ptr + n].decode("utf-8"))
        ptr += n
    return idxs, texts


def _conv_spread(df: DataFrame) -> DataFrame:
    """Explicit conv-hash width at the core count for the round-trip kernel.

    The per-conversation GF(2^8) kernel is CPU-dense; AQE's byte-based
    coalescing sizes the conv shuffle for bytes per task (8 tasks on 32
    cores measured — a 0.6 s straggler job). The explicit repartition
    satisfies the downstream groupBy clustering (no second exchange) and
    is scale-free: defaultParallelism is the cluster's core count, which
    is what a compute-bound stage wants. Applied ONLY to the kernel whose
    output feeds no further shuffle (gd_conversation_roundtrip returns one
    row per conv). gd_decompose's output is an archive: its conv_id
    repartition stays at AQE's width, which sizes the archive files.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_parts, "conv_id")


_RS_CACHE: dict = {}


def _rs_cached(n: int, k: int, precoding=None):
    """Per-executor-process ReedSolomon cache: the generator matrix (and
    T^-1 when error alignment is installed) is built once per
    (n, k, T) per Python worker, not once per pandas group."""
    from .rs import ReedSolomon

    tkey = None if precoding is None else np.asarray(
        precoding, dtype=np.uint8
    ).tobytes()
    key = (n, k, tkey)
    if key not in _RS_CACHE:
        code = ReedSolomon(n, k)
        if precoding is not None:
            code.set_precoding(np.asarray(precoding, dtype=np.uint8))
        _RS_CACHE[key] = code
    return _RS_CACHE[key]


# ---------------------------------------------------------------------------
# Path 1: faithful per-conversation GD round-trip
# ---------------------------------------------------------------------------

ROUNDTRIP_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("n_turns", T.IntegerType()),
        T.StructField("orig_bytes", T.LongType()),
        T.StructField("deduped_bytes", T.LongType()),
        T.StructField("dedup_ratio", T.DoubleType()),
        T.StructField("roundtrip_ok", T.BooleanType()),
    ]
)


def gd_conversation_roundtrip(
    transcripts: DataFrame,
    kind: str = "rs",
    dict_size: int = 255,
    precoding=None,
    **params,
) -> DataFrame:
    """Per-conversation GD dedup + dup + per-turn equality check.

    Returns one row per conversation with dedup metrics and the round-trip
    verdict. ``params`` are the code params (n=, k= for rs; deg= for
    hamming). ``precoding``: optional n×n error-alignment matrix T (RS
    only) — the Spark surface of the reference's third entry point
    (`src/lib.rs:73-78`); the encode side applies T, the decode side T^-1,
    and the round-trip equality check covers both (mirrors the RS(4,3)+T
    test, `src/lib.rs:197-239`).
    """
    if not params:
        params = {"n": 128, "k": 124}
    if precoding is not None:
        # plain nested lists serialize into the UDF closure
        precoding = np.asarray(precoding, dtype=np.uint8).tolist()

    def run(group: pd.DataFrame) -> pd.DataFrame:
        group = group.sort_values("turn_idx")
        texts = group["text"].tolist()
        idxs = group["turn_idx"].astype(int).tolist()
        buf = serialize_turns(idxs, texts)
        gd_dedup = make_gd(kind, dict_size, precoding=precoding, **params)
        gd_dup = make_gd(kind, dict_size, precoding=precoding, **params)
        deduped = gd_dedup.dedup(buf)
        restored = gd_dup.dup(deduped)
        ok = deserialize_turns(restored) == (idxs, texts)
        return pd.DataFrame(
            {
                "conv_id": [group["conv_id"].iloc[0]],
                "n_turns": [len(texts)],
                "orig_bytes": [len(buf)],
                "deduped_bytes": [len(deduped.data)],
                "dedup_ratio": [len(deduped.data) / max(len(buf), 1)],
                "roundtrip_ok": [ok],
            }
        )

    return (
        _conv_spread(transcripts.select("conv_id", "turn_idx", "text"))
        .groupBy("conv_id")
        .applyInPandas(run, schema=ROUNDTRIP_SCHEMA)
    )


# ---------------------------------------------------------------------------
# Path 2: scalable decompose / dictionary-join / reconstruct
# ---------------------------------------------------------------------------

CHUNK_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("chunk_idx", T.LongType()),
        T.StructField("base", T.BinaryType()),
        T.StructField("deviation", T.BinaryType()),
        T.StructField("last_chunk_pad", T.IntegerType()),
    ]
)

# the two archive tables: the dictionary, and the chunks with each base
# replaced by its id in that dictionary
_BASE_ID = T.StructField("base_id", T.LongType())
BASES_SCHEMA = T.StructType([_BASE_ID, CHUNK_SCHEMA["base"]])
DEVIATIONS_SCHEMA = T.StructType(
    [_BASE_ID if f.name == "base" else f for f in CHUNK_SCHEMA.fields]
)


def gd_decompose(
    transcripts: DataFrame, n: int = 128, k: int = 124, precoding=None
) -> DataFrame:
    """Chunk + RS-decompose every turn into base/deviation rows.

    Each turn's UTF-8 bytes are cut on their own n-byte grid, with the
    last chunk zero-padded on the left (`core._chunk_bytes`), so
    ``chunk_idx`` restarts at 0 in every turn. The kernel is row-local: one batched decode per
    Arrow batch. The input is repartitioned by conv_id at AQE's width, so
    every conversation's rows land in one partition (one archive file).
    ``precoding``: optional n×n error-alignment matrix T — decompose then
    operates on c·T (`rs/mod.rs:105-114`), moving 'fluctuating' symbol
    positions into the deviation so more bases coincide
    (`DESIGN.md:62-109`).
    """
    if precoding is not None:
        precoding = np.asarray(precoding, dtype=np.uint8).tolist()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        code = _rs_cached(n, k, precoding)
        for pdf in batches:
            raw = [t.encode("utf-8") for t in pdf["text"]]
            lens = np.fromiter(map(len, raw), dtype=np.int64, count=len(raw))
            # every turn takes at least one chunk: an empty turn is one
            # all-pad chunk (pad == n), so it survives the round trip
            n_chunks = np.maximum(1, -(-lens // n))
            pads = n_chunks * n - lens
            cuts = (n_chunks - 1) * n  # where each turn's last chunk starts
            buf = b"".join(
                r[:c] + bytes(p) + r[c:] for r, c, p in zip(raw, cuts.tolist(), pads.tolist())
            )
            bases, devs = code.decode(np.frombuffer(buf, dtype=np.uint8).reshape(-1, n))
            ends = np.cumsum(n_chunks)
            chunk_idx = np.arange(n_chunks.sum()) - np.repeat(ends - n_chunks, n_chunks)
            last_pad = np.zeros(len(chunk_idx), dtype=np.int32)
            last_pad[ends - 1] = pads
            yield pd.DataFrame(
                {
                    "conv_id": np.repeat(pdf["conv_id"].to_numpy(), n_chunks),
                    "turn_idx": np.repeat(pdf["turn_idx"].to_numpy(np.int32), n_chunks),
                    "chunk_idx": chunk_idx.astype(np.int64),
                    "base": [row.tobytes() for row in bases],
                    "deviation": [row.tobytes() for row in devs],
                    "last_chunk_pad": last_pad,
                }
            )

    return (
        transcripts.select("conv_id", "turn_idx", "text")
        .repartition("conv_id")
        .mapInPandas(run, schema=CHUNK_SCHEMA)
    )


def gd_dedup_metrics(chunks: DataFrame, dict_size: int = 255, n: int = 128, k: int = 124) -> DataFrame:
    """Dedup-ratio metric replicating the reference's bit-cost accounting
    (`gd_byte_unit.rs:78-98`): first occurrence of a base costs
    1 + 8k + 8(n-k) bits, later occurrences cost 1 + id_bitlen + 8(n-k).

    Global (cross-conversation) dictionary semantics — the batch
    generalization of the reference's single-process dict; unbounded, so no
    LRU evictions (documented divergence, SURVEY.md §4.1).
    """
    id_bitlen = dict_size.bit_length()
    base_bits, dev_bits = 8 * k, 8 * (n - k)
    first = F.row_number().over(
        Window.partitionBy("base").orderBy("conv_id", "turn_idx", "chunk_idx")
    )
    costed = chunks.withColumn("occ", first).withColumn(
        "bit_cost",
        F.when(F.col("occ") == 1, F.lit(1 + base_bits + dev_bits)).otherwise(
            F.lit(1 + id_bitlen + dev_bits)
        ),
    )
    return costed.agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("base").alias("n_distinct_bases"),
        (F.sum("bit_cost") / F.lit(8)).alias("deduped_bytes"),
        (F.count("*") * n).alias("orig_bytes"),
        (F.sum("bit_cost") / (F.count("*") * n * 8)).alias("dedup_ratio"),
    )


TURNS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
    ]
)


def gd_reconstruct(
    chunks: DataFrame, n: int = 128, k: int = 124, precoding=None
) -> DataFrame:
    """Inverse of gd_decompose: re-encode chunks (applying T^-1 last when
    error alignment is installed, `rs/mod.rs:147-152`) with one batched
    encode per conversation, then cut the codewords at turn boundaries,
    strip each turn's last-chunk pad and decode its UTF-8 bytes back to
    (conv_id, turn_idx, text) rows."""
    if precoding is not None:
        precoding = np.asarray(precoding, dtype=np.uint8).tolist()

    def run(group: pd.DataFrame) -> pd.DataFrame:
        code = _rs_cached(n, k, precoding)
        group = group.sort_values(["turn_idx", "chunk_idx"])
        bases = np.frombuffer(b"".join(group["base"]), dtype=np.uint8).reshape(-1, k)
        devs = np.frombuffer(b"".join(group["deviation"]), dtype=np.uint8).reshape(
            -1, n - k
        )
        flat = code.encode(bases, devs).tobytes()
        turn_idx = group["turn_idx"].to_numpy(np.int32)
        # one (start, end) chunk span per turn, in turn order
        ends = np.flatnonzero(np.diff(turn_idx, append=turn_idx[-1] + 1)) + 1
        starts = np.concatenate([[0], ends[:-1]])
        pads = group["last_chunk_pad"].to_numpy()[ends - 1]
        texts = [
            (flat[s * n : (e - 1) * n] + flat[(e - 1) * n + p : e * n]).decode("utf-8")
            for s, e, p in zip(starts.tolist(), ends.tolist(), pads.tolist())
        ]
        return pd.DataFrame(
            {
                "conv_id": [group["conv_id"].iloc[0]] * len(texts),
                "turn_idx": turn_idx[starts],
                "text": texts,
            }
        )

    return chunks.groupBy("conv_id").applyInPandas(run, schema=TURNS_SCHEMA)
