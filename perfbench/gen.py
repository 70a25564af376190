"""Seeded planted-truth transcript generator owned by the benchmark.

Every row carries the family it was planted in, and every planted
duplicate records its source, so the checker can score cluster output
without trusting the program's candidate generation.

The turn mix follows the repository's fixture mix (15% exact, 20%
near-token, 10% near-char, 10% substring, 10% boilerplate, 35% unique)
plus one templated family: canned tool responses that differ only in
their call id and a three-word tail. The template family is what pushes
SimHash and winnowing buckets past ``max_bucket_size`` on the batch
workload.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

# 2,000 pseudo-words: a vocabulary large enough that two unrelated
# sentences share a 5-word shingle or a 120-byte span only by accident.
_SYLLABLES = ["ka", "ri", "to", "mu", "se", "na", "lo", "vi", "de", "pa",
              "qu", "zo", "be", "fi", "gu", "ha", "je", "ko", "ly", "wo"]
VOCAB = [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES[:5]]

BOILERPLATE_CORE = "jugemu jugemu gokou no surikire kaijarisuigyo no suigyoumatsu"

TEMPLATE_TEXT = (
    "tool response: the request completed successfully. status ok. the "
    "service returned the cached result set for the requested window with "
    "no warnings, no retries and no partial shards. all downstream "
    "consumers were notified and the audit log entry was written. please "
    "reference the following call identifier when filing a follow up"
)

MIX = [
    ("exact", 0.15),
    ("near_token", 0.20),
    ("near_char", 0.10),
    ("substring", 0.10),
    ("boilerplate", 0.10),
    ("unique", 0.35),
]

ROLES = ["user", "assistant", "tool"]
EPOCH = pd.Timestamp("2026-01-01T00:00:00Z")


@dataclass
class Corpus:
    """Generated input plus its planted truth.

    ``turns``: ``(conv_id, turn_idx, role, text, tool, ts)`` rows, in ts order.
    ``ids``: the ids the pipeline clusters (turn uids ``conv_id:turn_idx``),
    with ``family`` giving each one's planted family.
    ``planted``: ``(id_src, id_dup, kind)`` for every planted duplicate.
    """

    turns: pd.DataFrame
    ids: list[str]
    family: list[str]
    planted: list[tuple[str, str, str]]


def _sentence(rng: np.random.Generator, lo: int = 12, hi: int = 40) -> str:
    words = rng.integers(0, len(VOCAB), int(rng.integers(lo, hi)))
    return " ".join(VOCAB[int(w)] for w in words)


def _near_token(rng: np.random.Generator, text: str) -> str:
    # one word edit per 20 words: unedited runs average ~140 bytes, so most
    # variants also share a 120-byte span with their source
    out = text.split()
    for _ in range(max(1, len(out) // 20)):
        pos = int(rng.integers(0, len(out)))
        word = VOCAB[int(rng.integers(0, len(VOCAB)))]
        if rng.integers(0, 2):
            out.insert(pos, word)
        else:
            out[pos] = word
    return " ".join(out)


def _near_char(rng: np.random.Generator, text: str) -> str:
    chars = list(text)
    for _ in range(int(rng.integers(1, 4))):
        chars[int(rng.integers(0, len(chars)))] = chr(ord("a") + int(rng.integers(0, 26)))
    return "".join(chars)


def _substring(rng: np.random.Generator, text: str) -> str:
    span_len = min(len(text), 150 + int(rng.integers(0, 100)))
    start = int(rng.integers(0, max(1, len(text) - span_len)))
    return f"{_sentence(rng, 6, 14)} {text[start:start + span_len]} {_sentence(rng, 6, 14)}"


def turns_corpus(
    seed: int, n_conv: int, turns_per_conv: int, template_share: float
) -> Corpus:
    """Multi-turn transcripts: the fixture mix plus a template family.

    Each turn is a template turn with probability ``template_share``,
    otherwise a draw from ``MIX``. Duplicates copy or edit an earlier
    unique turn, so families are stars around their first member.
    """
    rng = np.random.default_rng(seed)
    kinds = [k for k, _ in MIX]
    probs = np.array([p for _, p in MIX]) * (1.0 - template_share)
    kinds.append("template")
    probs = np.append(probs, template_share)
    draws = rng.choice(len(kinds), size=n_conv * turns_per_conv, p=probs / probs.sum())

    rows, family, planted = [], [], []
    sources: list[tuple[str, str]] = []  # (uid, text) of unique turns
    first_of: dict[str, str] = {}  # family -> uid of its first member
    flat = 0
    for ci in range(n_conv):
        conv_id = f"conv-{seed:04d}-{ci:06d}"
        for ti in range(turns_per_conv):
            uid = f"{conv_id}:{ti}"
            kind = kinds[draws[flat]]
            if kind in ("exact", "near_token", "near_char", "substring") and not sources:
                kind = "unique"
            if kind == "unique":
                text, fam = _sentence(rng), uid
                sources.append((uid, text))
            elif kind == "boilerplate":
                text = (BOILERPLATE_CORE + " ") * int(rng.integers(3, 7)) + "padpadpad" * int(
                    rng.integers(1, 4)
                )
                fam = "boilerplate"
            elif kind == "template":
                # a three-word tail keeps template-vs-template Jaccard near
                # 0.8, so MinHash band keys stay under max_bucket_size while
                # the shared prefix overfills winnowing and SimHash buckets
                text = f"{TEMPLATE_TEXT} call_{seed:04x}{flat:08x} for {_sentence(rng, 3, 4)}"
                fam = "template"
            else:
                src_uid, src_text = sources[int(rng.integers(0, len(sources)))]
                fam = src_uid
                text = {
                    "exact": lambda t: t,
                    "near_token": lambda t: _near_token(rng, t),
                    "near_char": lambda t: _near_char(rng, t),
                    "substring": lambda t: _substring(rng, t),
                }[kind](src_text)
                planted.append((src_uid, uid, kind))
            if fam in ("boilerplate", "template"):
                if fam in first_of:
                    planted.append((first_of[fam], uid, kind))
                else:
                    first_of[fam] = uid
            role = ROLES[ti % 3]
            tool = f"tool-{int(rng.integers(0, 8))}" if role == "tool" else None
            ts = EPOCH + pd.Timedelta(seconds=ci * 3600 + ti * 10)
            rows.append((conv_id, ti, role, text, tool, ts))
            family.append(fam)
            flat += 1

    turns = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    turns["turn_idx"] = turns["turn_idx"].astype("int32")
    uids = (turns.conv_id + ":" + turns.turn_idx.astype(str)).tolist()
    return Corpus(turns=turns, ids=uids, family=family, planted=planted)


def corpus_bytes(corpus: Corpus) -> bytes:
    """Canonical serialization, for byte-identity checks of generated input."""
    return corpus.turns.to_csv(index=False).encode() + repr(
        (corpus.ids, corpus.family, corpus.planted)
    ).encode()
