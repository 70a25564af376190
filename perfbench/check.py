"""Output checks, independent of the program's candidate generation.

A planted pair *qualifies* when it meets one of the workload's path
thresholds, computed here from the raw texts:

* exact: byte-equal texts;
* Jaccard: Python w-shingles under the pipeline's ``normalize_text`` rules
  (lower, non-alphanumerics to spaces, trim, whitespace split; a text of
  fewer than w tokens is one shingle);
* SimHash: Hamming distance of fingerprints the caller computed with
  ``simhash_fingerprints_from_text`` (the only program function used);
* substring: a byte-exact common substring of at least ``min_len`` bytes.

Recall is the share of qualifying planted pairs whose two rows share a
cluster; purity is the share of rows whose cluster holds one planted
family.
"""

from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass

RECALL_MIN = 0.99
PURITY_MIN = 0.99

_NON_ALNUM = re.compile(r"[^a-z0-9]+")


@dataclass(frozen=True)
class Thresholds:
    """The path thresholds a workload's dedup config applies."""

    w: int = 5
    jaccard: float = 0.5
    max_hamming: int | None = 3  # None: path not run
    min_substring_len: int | None = 120  # None: path not run


def shingles(text: str, w: int) -> frozenset[str]:
    toks = _NON_ALNUM.sub(" ", (text or "").lower()).strip().split()
    if len(toks) < w:
        return frozenset({" ".join(toks)})
    return frozenset(" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    inter = len(a & b)
    return inter / max(len(a) + len(b) - inter, 1)


def common_substring_at_least(a: str, b: str, min_len: int) -> bool:
    x, y = a.encode(), b.encode()
    if len(x) > len(y):
        x, y = y, x
    if len(x) < min_len:
        return False
    grams = {x[i:i + min_len] for i in range(len(x) - min_len + 1)}
    return any(y[j:j + min_len] in grams for j in range(len(y) - min_len + 1))


def hamming(fa: int, fb: int) -> int:
    return bin((fa ^ fb) & 0xFFFFFFFFFFFFFFFF).count("1")


def qualifying_pairs(
    planted: list[tuple[str, str, str]],
    texts: dict[str, str],
    th: Thresholds,
    fps: dict[str, int] | None = None,
) -> list[tuple[str, str]]:
    """Planted pairs that meet at least one of ``th``'s path thresholds."""
    if th.max_hamming is not None and fps is None:
        raise ValueError("SimHash qualification needs fingerprints")
    out = []
    for a, b, _kind in planted:
        ta, tb = texts[a], texts[b]
        if (
            ta == tb
            or jaccard(shingles(ta, th.w), shingles(tb, th.w)) >= th.jaccard
            or (th.max_hamming is not None and hamming(fps[a], fps[b]) <= th.max_hamming)
            or (
                th.min_substring_len is not None
                and common_substring_at_least(ta, tb, th.min_substring_len)
            )
        ):
            out.append((a, b))
    return out


@dataclass
class ClusterScore:
    recall: float
    purity: float
    kept_bytes: int
    problems: list[str]

    @property
    def ok(self) -> bool:
        return not self.problems


def score_clusters(
    clusters: dict[str, object],
    family: dict[str, str],
    texts: dict[str, str],
    qualifying: list[tuple[str, str]],
) -> ClusterScore:
    """Score ``id -> cluster_id`` against the planted truth.

    ``kept_bytes`` is what keeping the longest member of each cluster
    stores, in UTF-8 bytes.
    """
    problems = []
    if set(clusters) != set(family):
        problems.append(
            f"cluster ids differ from input: {len(set(family) - set(clusters))} missing, "
            f"{len(set(clusters) - set(family))} unknown"
        )
    hit = sum(1 for a, b in qualifying if a in clusters and clusters.get(a) == clusters.get(b))
    recall = hit / len(qualifying) if qualifying else 1.0
    fams = defaultdict(set)
    kept = defaultdict(int)
    for uid, cid in clusters.items():
        fams[cid].add(family.get(uid))
        kept[cid] = max(kept[cid], len(texts.get(uid, "").encode()))
    pure = sum(1 for cid in clusters.values() if len(fams[cid]) == 1)
    purity = pure / len(clusters) if clusters else 0.0
    if recall < RECALL_MIN:
        problems.append(f"pair_recall {recall:.4f} < {RECALL_MIN}")
    if purity < PURITY_MIN:
        problems.append(f"cluster_purity {purity:.4f} < {PURITY_MIN}")
    return ClusterScore(recall, purity, sum(kept.values()), problems)


@dataclass
class TurnScore:
    recall: float  # input turns reconstructed byte-exact
    purity: float  # conversations whose every reconstructed turn is exact
    problems: list[str]

    @property
    def ok(self) -> bool:
        return not self.problems


def score_reconstruction(
    expected: dict[tuple[str, int], str], got: list[tuple[str, int, str]]
) -> TurnScore:
    """Per-turn text equality under stable turn order (GD round trip)."""
    seen: dict[tuple[str, int], str] = {}
    dup_keys = 0
    for conv_id, turn_idx, text in got:
        key = (conv_id, int(turn_idx))
        dup_keys += key in seen
        seen[key] = text
    exact = {k for k, t in expected.items() if seen.get(k) == t}
    bad_convs = {k[0] for k in expected if k not in exact}
    bad_convs |= {k[0] for k in seen if k not in expected}
    convs = {k[0] for k in expected}
    recall = len(exact) / len(expected) if expected else 0.0
    purity = 1.0 - len(bad_convs & convs) / len(convs) if convs else 0.0
    problems = []
    if len(exact) != len(expected):
        problems.append(f"{len(expected) - len(exact)} turns not reconstructed exactly")
    if set(seen) - set(expected) or dup_keys:
        problems.append(f"{len(set(seen) - set(expected))} extra and {dup_keys} repeated turns")
    return TurnScore(recall, purity, problems)
