"""Spark GD layer tests: per-turn text equality under stable turn ordering
(the BASELINE.json per-row invariant) on both GD paths."""

import pyspark.sql.functions as F

from rust_gd_spark.gd.spark import (
    deserialize_turns,
    gd_conversation_roundtrip,
    gd_decompose,
    gd_dedup_metrics,
    gd_reconstruct,
    serialize_turns,
)


def test_serialize_roundtrip():
    idxs = [0, 1, 5, 7]
    texts = ["hello", "", "寿限無(じゅげむ)", "x" * 1000]
    assert deserialize_turns(serialize_turns(idxs, texts)) == (idxs, texts)


def test_conversation_roundtrip_rs(spark, transcripts_df):
    res = gd_conversation_roundtrip(
        transcripts_df, kind="rs", dict_size=255, n=128, k=124
    ).cache()
    n_conv = res.count()
    assert n_conv == 60
    assert res.filter(~F.col("roundtrip_ok")).count() == 0
    # metrics sane
    row = res.agg(F.sum("orig_bytes"), F.sum("deduped_bytes")).first()
    assert row[0] > 0 and row[1] > 0


def test_conversation_roundtrip_hamming(spark, transcripts_df):
    sample = transcripts_df.filter(F.col("conv_id") < "conv-00000010")
    res = gd_conversation_roundtrip(sample, kind="hamming", dict_size=511, deg=8)
    assert res.filter(~F.col("roundtrip_ok")).count() == 0


def test_decompose_reconstruct_identity(spark, transcripts_df):
    """The scalable path: decompose -> chunk rows -> reconstruct == input."""
    chunks = gd_decompose(transcripts_df, n=64, k=60).cache()
    assert chunks.count() > 0
    restored = gd_reconstruct(chunks, n=64, k=60)
    orig = transcripts_df.select("conv_id", "turn_idx", "text")
    assert orig.exceptAll(restored).count() == 0
    assert restored.exceptAll(orig).count() == 0


def test_archive_integrity(spark, transcripts_df, tmp_path):
    """The committed bases file is the dictionary: one base per id (the
    check_inner_integrity analogue), every deviation's id is in it, and on
    this one-partition fixture the ids are exactly 0..D-1."""
    from rust_gd_spark.pipeline import write_gd_outputs

    out = str(tmp_path / "gdout")
    chunks = gd_decompose(transcripts_df, n=64, k=60)
    write_gd_outputs(chunks, out, run_id="g1")
    bases = spark.read.parquet(f"{out}/g1/bases")
    devs = spark.read.parquet(f"{out}/g1/deviations")
    ids = sorted(r.base_id for r in bases.collect())
    assert len(set(ids)) == len(ids) == chunks.select("base").distinct().count()
    assert ids == list(range(len(ids)))
    assert devs.join(bases, "base_id", "left_anti").isEmpty()
    assert devs.count() == chunks.count()


def test_dedup_metrics(spark, transcripts_df):
    chunks = gd_decompose(transcripts_df, n=64, k=60)
    m = gd_dedup_metrics(chunks, dict_size=255, n=64, k=60).first()
    assert m["n_chunks"] > m["n_distinct_bases"] > 0  # fixture has duplicates
    assert 0 < m["dedup_ratio"] <= 1.2


def _alignment_matrix(n: int, seed: int = 5):
    """Deterministic nonsingular n×n over GF(2^8): unit upper-triangular
    (ones on the diagonal, seeded random strictly above) — triangular with
    nonzero diagonal is always invertible."""
    import numpy as np

    rng = np.random.default_rng(seed)
    t = np.triu(rng.integers(0, 256, size=(n, n), dtype=np.uint8), k=1)
    np.fill_diagonal(t, 1)
    return t


def test_conversation_roundtrip_rs_with_alignment(spark, transcripts_df):
    """Spark surface of the reference's error-alignment entry point
    (`src/lib.rs:73-78`), mirroring the RS+T round-trip test
    (`src/lib.rs:197-239`) at conversation granularity."""
    t = _alignment_matrix(8)
    sample = transcripts_df.filter(F.col("conv_id") < "conv-00000010")
    res = gd_conversation_roundtrip(
        sample, kind="rs", dict_size=255, precoding=t.tolist(), n=8, k=6
    )
    assert res.filter(~F.col("roundtrip_ok")).count() == 0


def test_decompose_reconstruct_with_alignment(spark, transcripts_df):
    t = _alignment_matrix(64)
    sample = transcripts_df.filter(F.col("conv_id") < "conv-00000010")
    chunks = gd_decompose(sample, n=64, k=60, precoding=t.tolist()).cache()
    restored = gd_reconstruct(chunks, n=64, k=60, precoding=t.tolist())
    orig = sample.select("conv_id", "turn_idx", "text")
    assert orig.exceptAll(restored).count() == 0
    assert restored.exceptAll(orig).count() == 0
    # aligned decompose must differ from unaligned (T actually applied)
    plain = gd_decompose(sample, n=64, k=60)
    a = {(r.conv_id, r.turn_idx, r.chunk_idx): r.base for r in chunks.collect()}
    b = {(r.conv_id, r.turn_idx, r.chunk_idx): r.base for r in plain.collect()}
    assert any(a[key] != b[key] for key in a)


def test_edge_case_turns_survive_archive(spark, tmp_path):
    """Decompose -> write -> read -> reconstruct keeps an empty turn (one
    all-pad chunk, not zero rows), a multi-byte character cut by a chunk
    boundary, and gives identical turns in different conversations the
    same bases."""
    from rust_gd_spark.pipeline import read_gd_outputs, write_gd_outputs

    n, k = 64, 60
    same = "the same turn in two conversations " * 5
    rows = [
        ("conv-a", 0, ""),
        ("conv-a", 1, "x" * 62 + "寿" + "y" * 10),  # bytes 62..64 straddle chunk 0/1
        ("conv-a", 2, same),
        ("conv-b", 0, same),
    ]
    tr = spark.createDataFrame(rows, "conv_id string, turn_idx int, text string")
    out = str(tmp_path / "gdout")
    write_gd_outputs(gd_decompose(tr, n=n, k=k), out, run_id="edge")
    chunks = read_gd_outputs(spark, out, run_id="edge").cache()

    empty = chunks.filter("conv_id = 'conv-a' and turn_idx = 0").collect()
    assert [(r.chunk_idx, r.last_chunk_pad) for r in empty] == [(0, n)]
    restored = gd_reconstruct(chunks, n=n, k=k)
    assert sorted(restored.collect()) == sorted(tr.collect())

    ids = (
        spark.read.parquet(f"{out}/edge/deviations")
        .filter("(conv_id = 'conv-a' and turn_idx = 2) or conv_id = 'conv-b'")
        .collect()
    )
    by_turn: dict = {}
    for r in sorted(ids, key=lambda r: r.chunk_idx):
        by_turn.setdefault(r.conv_id, []).append(r.base_id)
    assert len(by_turn["conv-a"]) == 3
    assert by_turn["conv-a"] == by_turn["conv-b"]


def test_hamming_rejects_alignment(spark):
    import pytest as _pytest

    from rust_gd_spark.gd.core import make_gd

    with _pytest.raises(ValueError, match="not supported for Hamming"):
        make_gd("hamming", 511, precoding=[[1]], deg=8)
