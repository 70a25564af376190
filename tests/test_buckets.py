"""Unit tests for the shared one-shuffle bucket-pair generator
(operators/_buckets.py): pair completeness, id ordering, payloads, the
skew cap + audit contract, and the neighbor_window band-graph bound."""

import itertools

import pytest
from pyspark.sql import Observation, functions as F

from rust_gd_spark.operators._buckets import bucket_pairs


@pytest.fixture(scope="module")
def posting(spark):
    # bucket "a": 4 members; "b": 2; "c": 1 (singleton); "d": 5 (hot)
    rows = (
        [(i, "a") for i in range(4)]
        + [(10, "b"), (11, "b")]
        + [(20, "c")]
        + [(30 + i, "d") for i in range(5)]
    )
    return spark.createDataFrame(rows, "id long, k string")


def _pairs_set(df):
    return {(r.id_l, r.id_r) for r in df.collect()}


def test_all_pairs_and_ordering(spark, posting):
    pairs, audit = bucket_pairs(posting, ["k"], max_bucket_size=10)
    got = _pairs_set(pairs)
    expect = set(itertools.combinations(range(4), 2)) | {(10, 11)}
    expect |= set(itertools.combinations(range(30, 35), 2))
    assert got == expect
    assert all(l < r for l, r in got)
    assert audit.count() == 0


def test_cap_excludes_and_audits(spark, posting):
    pairs, audit = bucket_pairs(posting, ["k"], max_bucket_size=4)
    got = _pairs_set(pairs)
    # bucket d (5 members) excluded entirely, audited with its true size
    assert got == set(itertools.combinations(range(4), 2)) | {(10, 11)}
    rows = audit.collect()
    assert len(rows) == 1 and rows[0].k == "d" and rows[0].bucket_size == 5


def test_neighbor_window_chain_connectivity(spark, posting):
    pairs, _ = bucket_pairs(
        posting, ["k"], max_bucket_size=10, neighbor_window=1
    )
    got = _pairs_set(pairs)
    # window=1 => consecutive chain per sorted bucket
    assert got == {(0, 1), (1, 2), (2, 3), (10, 11),
                   (30, 31), (31, 32), (32, 33), (33, 34)}


def test_payload_columns(spark):
    df = spark.createDataFrame(
        [(1, "x", 100), (2, "x", 200)], "id long, k string, fp long"
    )
    pairs, _ = bucket_pairs(df, ["k"], payload_cols=["fp"], max_bucket_size=10)
    r = pairs.collect()[0]
    assert (r.id_l, r.id_r, r.fp_l, r.fp_r) == (1, 2, 100, 200)


def test_multiple_buckets_same_pair_not_deduped(spark):
    # same pair via two keys -> two rows (callers dedup after verify)
    df = spark.createDataFrame(
        [(1, "x"), (2, "x"), (1, "y"), (2, "y")], "id long, k string"
    )
    pairs, _ = bucket_pairs(df, ["k"], max_bucket_size=10)
    assert pairs.count() == 2
    assert pairs.dropDuplicates(["id_l", "id_r"]).count() == 1


def _connectivity(pairs_set, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs_set:
        if a not in parent or b not in parent:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {find(n) for n in nodes}


def test_salt_oversized_preserves_connectivity(spark):
    # one hot bucket of 12 members, cap 4 -> 3 hash sub-buckets + rep chain
    rows = [(i, "hot") for i in range(12)] + [(100, "b"), (101, "b")]
    df = spark.createDataFrame(rows, "id long, k string")
    pairs, audit = bucket_pairs(df, ["k"], max_bucket_size=4, salt_oversized=True)
    got = _pairs_set(pairs)
    # the hot bucket's 12 members must form ONE connected component
    comps = _connectivity(got, set(range(12)))
    assert len(comps) == 1, comps
    # no single explosion exceeded ~cap members: pair count is O(size), not C(12,2)
    hot_pairs = {p for p in got if p[0] < 100}
    assert len(hot_pairs) < 66  # C(12,2) = 66 would mean the cap was ignored
    a = audit.collect()
    assert len(a) == 1 and a[0].k == "hot" and a[0].bucket_size == 12
    assert a[0].action == "salted"
    # untouched small bucket still emits its pair
    assert (100, 101) in got


def test_salt_oversized_with_neighbor_window(spark):
    rows = [(i, "hot") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, k string")
    pairs, audit = bucket_pairs(
        df, ["k"], max_bucket_size=5, neighbor_window=2, salt_oversized=True
    )
    got = _pairs_set(pairs)
    comps = _connectivity(got, set(range(20)))
    assert len(comps) == 1
    # band-graph bound holds inside sub-buckets: edges are O(size * window)
    assert len(got) <= 20 * 2 + 20
    assert audit.collect()[0].action == "salted"


def test_dropped_action_in_audit(spark, posting):
    _, audit = bucket_pairs(posting, ["k"], max_bucket_size=4)
    assert audit.collect()[0].action == "dropped"


# history: stored postings probed by a batch (the stream's bands store)
@pytest.fixture(scope="module")
def batch_and_history(spark):
    batch = spark.createDataFrame(
        [(5, "x"), (1, "x"), (9, "y")], "id long, k string"
    )
    # id 5 is in both; key "z" is history only
    history = spark.createDataFrame(
        [(3, "x"), (0, "x"), (5, "x"), (2, "y"), (4, "y"), (8, "z"), (6, "z")],
        "id long, k string",
    )
    return batch, history


def test_history_pairs_new_with_new_and_history_only(spark, batch_and_history):
    batch, history = batch_and_history
    pairs, audit = bucket_pairs(
        batch, ["k"], max_bucket_size=10, history=history
    )
    rows = [(r.id_l, r.id_r) for r in pairs.collect()]
    assert all(l < r for l, r in rows)
    # new x new, new x history; no (5, 5) self pair from the shared id
    assert set(rows) == {(1, 5), (0, 1), (1, 3), (0, 5), (3, 5), (2, 9), (4, 9)}
    # never history x history: (0, 3), (2, 4), (6, 8)
    assert audit.count() == 0


def test_history_over_cap_is_dropped_batch_still_paired(spark):
    batch = spark.createDataFrame(
        [(10, "h"), (11, "h"), (12, "h"), (20, "x")], "id long, k string"
    )
    history = spark.createDataFrame(
        [(1, "h"), (2, "h"), (3, "h"), (21, "x")], "id long, k string"
    )
    obs = Observation()
    pairs, audit = bucket_pairs(
        batch, ["k"], max_bucket_size=4, salt_oversized=True, oversized=obs,
        history=history,
    )
    # key h: 6 postings > cap 4 -> its history is excluded, the batch's
    # own 3 members are still paired; key x pairs with its history
    assert _pairs_set(pairs) == {(10, 11), (10, 12), (11, 12), (20, 21)}
    a = audit.collect()
    assert [(r.k, r.bucket_size, r.action) for r in a] == [("h", 6, "dropped")]
    assert obs.get["n"] == 1


def test_history_over_cap_batch_over_cap_salted(spark):
    batch = spark.createDataFrame(
        [(10 + i, "h") for i in range(12)], "id long, k string"
    )
    history = spark.createDataFrame(
        [(1, "h"), (2, "h"), (3, "h")], "id long, k string"
    )
    obs = Observation()
    pairs, audit = bucket_pairs(
        batch, ["k"], max_bucket_size=4, salt_oversized=True, oversized=obs,
        history=history,
    )
    got = _pairs_set(pairs)
    assert all(l < r and l >= 10 for l, r in got)  # no history member
    # the salt chain keeps the 12 batch members connected, O(size) pairs
    assert len(_connectivity(got, set(range(10, 22)))) == 1
    assert len(got) < 66
    rows = {(r.k, r.bucket_size, r.action) for r in audit.collect()}
    assert rows == {("h", 15, "dropped"), ("h", 12, "salted")}
    assert obs.get["n"] == 2


def test_history_payload_follows_swapped_ids(spark):
    batch = spark.createDataFrame([(5, "x", 50)], "id long, k string, fp long")
    history = spark.createDataFrame([(1, "x", 10)], "id long, k string, fp long")
    pairs, _ = bucket_pairs(
        batch, ["k"], payload_cols=["fp"], max_bucket_size=10, history=history
    )
    r = pairs.collect()
    assert [(x.id_l, x.id_r, x.fp_l, x.fp_r) for x in r] == [(1, 5, 10, 50)]
