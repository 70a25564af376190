"""Tests of the benchmark's own code (no Spark session needed).

    python3 -m pytest perfbench -q
"""

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402


def _turns(seed):
    return gen.turns_corpus(seed, n_conv=30, turns_per_conv=10, template_share=0.1)


def test_same_seed_same_input():
    assert gen.corpus_bytes(_turns(7)) == gen.corpus_bytes(_turns(7))


def test_other_seed_other_input():
    assert gen.corpus_bytes(_turns(7)) != gen.corpus_bytes(_turns(8))


def _truth(corpus, texts):
    """The planted clustering and its qualifying pairs (no SimHash path)."""
    th = check.Thresholds(max_hamming=None)
    q = check.qualifying_pairs(corpus.planted, texts, th)
    family = dict(zip(corpus.ids, corpus.family))
    return dict(family), family, q


def test_checker_accepts_planted_clusters():
    c = _turns(3)
    texts = dict(zip(c.ids, c.turns.text))
    clusters, family, q = _truth(c, texts)
    assert q, "the corpus plants qualifying pairs"
    s = check.score_clusters(clusters, family, texts, q)
    assert s.ok and s.recall == 1.0 and s.purity == 1.0


def test_checker_rejects_split_clusters():
    c = _turns(3)
    texts = dict(zip(c.ids, c.turns.text))
    clusters, family, q = _truth(c, texts)
    for _, dup in q[: max(1, len(q) // 10)]:
        clusters[dup] = f"split-{dup}"
    s = check.score_clusters(clusters, family, texts, q)
    assert not s.ok and s.recall < check.RECALL_MIN


def test_checker_rejects_merged_clusters():
    c = _turns(3)
    texts = dict(zip(c.ids, c.turns.text))
    clusters, family, q = _truth(c, texts)
    # glue two planted families into one cluster, as a shared span would
    a, b = sorted(set(family.values()))[:2]
    merged = {uid: ("glued" if family[uid] in (a, b) else cid) for uid, cid in clusters.items()}
    s = check.score_clusters(merged, family, texts, q)
    assert s.recall == 1.0 and s.purity < 1.0
    s = check.score_clusters({uid: "one" for uid in clusters}, family, texts, q)
    assert not s.ok and s.purity < check.PURITY_MIN


def test_checker_rejects_missing_rows():
    c = _turns(3)
    texts = dict(zip(c.ids, c.turns.text))
    clusters, family, q = _truth(c, texts)
    clusters.pop(c.ids[0])
    assert not check.score_clusters(clusters, family, texts, q).ok


def test_reconstruction_check():
    t = _turns(4).turns
    expected = dict(zip(zip(t.conv_id, t.turn_idx.astype(int)), t.text))
    got = [(k[0], k[1], v) for k, v in expected.items()]
    assert check.score_reconstruction(expected, got).ok

    mutated = list(got)
    conv, idx, text = mutated[5]
    mutated[5] = (conv, idx, text[:-1] + ("x" if text[-1] != "x" else "y"))
    s = check.score_reconstruction(expected, mutated)
    assert not s.ok and s.recall < 1.0 and s.purity < 1.0

    assert not check.score_reconstruction(expected, got[1:]).ok
    assert not check.score_reconstruction(expected, got + got[:1]).ok


def test_common_substring():
    a = "x" * 10 + "abcdefghij" * 13
    assert check.common_substring_at_least(a, "yy" + "abcdefghij" * 12 + "zz", 120)
    assert not check.common_substring_at_least(a, "abcdefghij" * 11, 120)


def test_printed_metrics_are_declared():
    """result_line refuses any metric set other than BENCHMARK.json's."""
    import pytest

    sys.path.insert(0, os.path.dirname(HERE))
    import run

    bench = run.declared()
    for section in ("end_to_end", "per_layer"):
        names = [m["name"] for m in bench[section]]
        line = json.loads(run.result_line(bench[section], {n: 1.5 for n in names}, 2, 0))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert list(line["metrics"]) == names
        with pytest.raises(ValueError):
            run.result_line(bench[section], {n: 1.0 for n in names[1:]}, 1, 0)
        with pytest.raises(ValueError):
            run.result_line(bench[section], {**{n: 1.0 for n in names}, "extra": 1.0}, 1, 0)


def test_layer_patches_cover_declared_metrics():
    """Every ``<layer>.<metric>_s`` timing declared has a span feeding it."""
    sys.path.insert(0, os.path.dirname(HERE))
    import layers
    import run

    spans = {name for _, _, name, _ in layers.PATCHES}
    for m in run.declared()["per_layer"]:
        if m["name"].endswith("_s") and not m["name"].startswith(("session.", "streaming.", "trace.")):
            assert m["name"][:-2] in spans, m["name"]
