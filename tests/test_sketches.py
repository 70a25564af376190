"""The fused sketch pass (``pipeline.sketches``) against the standalone
operators it replaces, row by row: a fingerprint that diverged would show
up only as silent recall loss downstream."""

import pytest

from rust_gd_spark.operators import minhash, simhash, substring
from rust_gd_spark.pipeline import DedupConfig, sketches, with_turn_uid

CFG = DedupConfig()
# winnow k-gram and window the pipeline derives from min_substring_len
WK = max(16, CFG.min_substring_len // 3)
WW = CFG.min_substring_len - WK + 1

EDGE_ROWS = [
    ("edge:null", None),
    ("edge:empty", ""),
    ("edge:few-tokens", "just three words"),           # < w tokens
    ("edge:few-bytes", "tiny"),                        # < char_k bytes
    ("edge:under-winnow-k", "short but longer than eight bytes"),  # < WK bytes
    ("edge:punct-only", "!!! ??? ..."),                # normalizes to ''
    ("edge:non-ascii",
     "Grüße aus Köln — naïve café déjà vu, 東京の天気は晴れ, "
     "Ελληνικά κείμενα και emoji 🙂 mixed into a longer transcript turn "
     "so that every kernel sees multi-byte characters across its windows"),
]


@pytest.fixture(scope="module")
def corpus(spark, transcripts_df):
    turns = with_turn_uid(transcripts_df).select("uid", "text")
    edges = spark.createDataFrame(EDGE_ROWS, "uid string, text string")
    return turns.unionByName(edges)


def _by_id(df, col):
    return {r["id"]: r[col] for r in df.select("id", col).collect()}


def test_fused_pass_matches_standalone_kernels(corpus):
    fused = sketches(corpus, CFG, "uid", "text").collect()
    assert len(fused) == corpus.count()
    sh = minhash.shingle_df(corpus, "uid", "text", w=CFG.w)
    expected = {
        "shingles": _by_id(sh, "shingles"),
        "bands": _by_id(
            minhash.minhash_band_hashes(sh, CFG.num_perm, CFG.bands, CFG.rows, CFG.seed),
            "bands",
        ),
        "fp": _by_id(
            simhash.simhash_fingerprints_from_text(corpus, "uid", "text", k=CFG.char_k),
            "fp",
        ),
        "fps": _by_id(substring.winnow_fingerprints(corpus, "uid", "text", k=WK, w=WW), "fps"),
    }
    for row in fused:
        for col, exp in expected.items():
            assert row[col] == exp[row["id"]], (row["id"], col)
    got = {r["id"]: r for r in fused}
    # the edge rows reach every kernel branch
    assert got["edge:null"]["shingles"] == got["edge:empty"]["shingles"] == [0]
    assert got["edge:null"]["fps"] == got["edge:empty"]["fps"] == []
    assert len(got["edge:few-tokens"]["shingles"]) == 1
    assert len(got["edge:under-winnow-k"]["fps"]) == 1
    assert len(got["edge:non-ascii"]["fps"]) > 1


def test_only_enabled_outputs_and_one_python_pass(corpus):
    mh_only = sketches(
        corpus, DedupConfig(enable_simhash=False, enable_substring=False), "uid", "text"
    )
    assert mh_only.columns == ["id", "shingles", "bands"]
    text_only = sketches(corpus, DedupConfig(enable_minhash=False), "uid", "text")
    assert text_only.columns == ["id", "fp", "fps"]
    plan = sketches(corpus, CFG, "uid", "text")._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
