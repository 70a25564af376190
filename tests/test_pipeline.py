"""End-to-end pipeline tests: cluster recall >= 0.99 vs a brute-force
oracle at identical config (BASELINE.json criterion), resume-from-
checkpoint, metrics shape."""

import os
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from rust_gd_spark.pipeline import (
    DedupConfig,
    dedup_metrics,
    near_dup_pipeline,
    reassemble_conversations,
    with_turn_uid,
)


@pytest.fixture(scope="module")
def turns_df(transcripts_df):
    return with_turn_uid(transcripts_df)


def _uf_clusters(nodes, pairs):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def _cluster_pairs(assign):
    from collections import defaultdict

    by = defaultdict(list)
    for n, c in assign.items():
        by[c].append(n)
    out = set()
    for mem in by.values():
        mem.sort()
        for i in range(len(mem)):
            for j in range(i + 1, len(mem)):
                out.add((mem[i], mem[j]))
    return out


def _py_shingles(text, w=5):
    toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split()
    if len(toks) < w:
        return frozenset({" ".join(toks)})
    return frozenset(" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1))


@pytest.fixture(scope="module")
def oracle_pairs(spark, turns_df, small_corpus):
    """Brute-force O(n²) duplicate pairs at the pipeline's config:
    exact text == | jaccard >= 0.7 | simhash hamming <= 3 | common
    substring >= 200. Independent of the pipeline's candidate generation
    (only gram hashing reuses Spark's xxhash64, by construction identical)."""
    from rust_gd_spark.operators import simhash as sh
    from rust_gd_spark.operators.substring import _rolling_hashes

    tr = small_corpus.transcripts
    uids = (tr.conv_id + ":" + tr.turn_idx.astype(str)).tolist()
    texts = tr.text.tolist()
    n = len(uids)

    pairs = set()
    # exact + jaccard
    sh_sets = [_py_shingles(t) for t in texts]
    # simhash fingerprints via the operator's gram hashes (Spark xxhash64)
    fp_rows = sh.simhash_fingerprints(
        sh.char_ngram_df(turns_df, "uid", "text", k=8)
    ).collect()
    fp = {r.id: np.uint64(r.fp & 0xFFFFFFFFFFFFFFFF) for r in fp_rows}
    # substring: 200-gram rolling hash posting lists
    from collections import defaultdict

    posting = defaultdict(set)
    for i, t in enumerate(texts):
        b = t.encode()
        if len(b) >= 200:
            for h in set(_rolling_hashes(b, 200).tolist()):
                posting[h].add(i)
    sub_cand = set()
    for ids in posting.values():
        ids = sorted(ids)
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                sub_cand.add((ids[x], ids[y]))

    for i in range(n):
        for j in range(i + 1, n):
            dup = texts[i] == texts[j]
            if not dup:
                a, b = sh_sets[i], sh_sets[j]
                inter = len(a & b)
                if inter and inter / (len(a) + len(b) - inter) >= 0.7:
                    dup = True
            if not dup and bin(int(fp[uids[i]]) ^ int(fp[uids[j]])).count("1") <= 3:
                dup = True
            if not dup and (i, j) in sub_cand:
                dup = True
            if dup:
                pairs.add(tuple(sorted((uids[i], uids[j]))))
    return uids, pairs


def test_cluster_recall_vs_oracle(spark, turns_df, oracle_pairs, tmp_path):
    uids, exp_pairs = oracle_pairs
    res = near_dup_pipeline(turns_df, "uid", "text", DedupConfig())
    got = {r.id: r.cluster_id for r in res.clusters.collect()}
    assert set(got) == set(uids)

    exp_assign = _uf_clusters(uids, exp_pairs)
    exp_cluster_pairs = _cluster_pairs(exp_assign)
    got_cluster_pairs = _cluster_pairs(got)

    assert exp_cluster_pairs, "oracle must find duplicate pairs"
    recall = len(exp_cluster_pairs & got_cluster_pairs) / len(exp_cluster_pairs)
    assert recall >= 0.99, recall
    # precision guard: verified paths only, so spurious merges must be rare
    precision = len(exp_cluster_pairs & got_cluster_pairs) / len(got_cluster_pairs)
    assert precision >= 0.95, precision


def test_pipeline_metrics(spark, turns_df):
    """Materialized stages report exact rows (observed on their own
    checkpoint); lazy stages report NULL."""
    res = near_dup_pipeline(turns_df, "uid", "text")
    by_stage = {r.stage: r.rows for r in res.metrics.collect()}
    assert {"exact_groups", "sketches", "minhash_pairs", "simhash_pairs",
            "substring_pairs", "pairs", "clusters"} <= set(by_stage)
    n = turns_df.count()
    n_reps = turns_df.select(F.coalesce("text", F.lit(""))).distinct().count()
    assert by_stage["exact_groups"] == n
    assert by_stage["sketches"] == n_reps
    assert by_stage["clusters"] == n
    for lazy in ("reps", "minhash_pairs", "simhash_pairs", "substring_pairs", "pairs"):
        assert by_stage[lazy] is None, lazy
    m = dedup_metrics(res.clusters).collect()[0]
    assert m.n_rows == n and 0 < m.n_clusters < n and 0 < m.dup_fraction < 1


def test_resume_from_checkpoint(spark, turns_df, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    r1 = near_dup_pipeline(turns_df, "uid", "text", checkpoint_dir=ckpt, run_id="r1")
    c1 = sorted((r.id, r.cluster_id) for r in r1.clusters.collect())
    assert not any(r.resumed for r in r1.metrics.collect())

    # delete the LAST two stage commits to simulate a mid-job kill
    import shutil

    for stage in ("pairs", "clusters"):
        shutil.rmtree(os.path.join(ckpt, "r1", stage))

    r2 = near_dup_pipeline(turns_df, "uid", "text", checkpoint_dir=ckpt, run_id="r1")
    c2 = sorted((r.id, r.cluster_id) for r in r2.clusters.collect())
    assert c1 == c2
    resumed = {r.stage: r.resumed for r in r2.metrics.collect()}
    assert resumed["sketches"] and resumed["minhash_pairs"]
    assert not resumed["pairs"] and not resumed["clusters"]


def test_resume_metrics_rows(spark, turns_df, tmp_path):
    """In resume mode a stage written to parquet reports its exact rows
    (lazy ones included: they are written too); a stage read back from a
    committed checkpoint reports NULL."""
    import shutil

    ckpt = str(tmp_path / "ckpt_rows")
    n = turns_df.count()
    r1 = near_dup_pipeline(turns_df, "uid", "text", checkpoint_dir=ckpt, run_id="rr")
    rows1 = {r.stage: r.rows for r in r1.metrics.collect()}
    assert rows1["exact_groups"] == n and rows1["clusters"] == n
    assert rows1["pairs"] == r1.pairs.count()

    shutil.rmtree(os.path.join(ckpt, "rr", "clusters"))
    r2 = near_dup_pipeline(turns_df, "uid", "text", checkpoint_dir=ckpt, run_id="rr")
    m2 = {r.stage: r for r in r2.metrics.collect()}
    assert m2["exact_groups"].resumed and m2["exact_groups"].rows is None
    assert m2["pairs"].resumed and m2["pairs"].rows is None
    assert not m2["clusters"].resumed and m2["clusters"].rows == n


def test_conversation_reassembly_stable_order(spark, transcripts_df):
    conv = reassemble_conversations(transcripts_df)
    row = conv.filter(F.col("uid") == "conv-00000000").collect()[0]
    src = (
        transcripts_df.filter(F.col("conv_id") == "conv-00000000")
        .orderBy("turn_idx")
        .collect()
    )
    assert row.text == "\n".join(r.text for r in src)
    assert conv.count() == transcripts_df.select("conv_id").distinct().count()


def test_audits_populated_on_resume(spark, turns_df, tmp_path):
    ckpt = str(tmp_path / "ckpt_audit")
    r1 = near_dup_pipeline(turns_df, "uid", "text", checkpoint_dir=ckpt, run_id="ra")
    assert set(r1.audits) == {"lsh_skew", "simhash_skew", "substring_skew"}
    # fully-resumed run: audits must be read back from parquet, not empty
    r2 = near_dup_pipeline(turns_df, "uid", "text", checkpoint_dir=ckpt, run_id="ra")
    assert all(r.resumed for r in r2.metrics.collect())
    assert set(r2.audits) == {"lsh_skew", "simhash_skew", "substring_skew"}
    for name, adf in r2.audits.items():
        assert "bucket_size" in adf.columns and "action" in adf.columns, name
        adf.count()  # readable


def test_write_read_gd_outputs_roundtrip(spark, transcripts_df, tmp_path):
    from rust_gd_spark.gd.spark import gd_decompose, gd_reconstruct
    from rust_gd_spark.pipeline import read_gd_outputs, write_gd_outputs

    out = str(tmp_path / "gdout")
    convs = [r.conv_id for r in
             transcripts_df.select("conv_id").distinct().limit(5).collect()]
    tr = transcripts_df.filter(F.col("conv_id").isin(convs))
    chunks = gd_decompose(tr, n=128, k=124)
    write_gd_outputs(chunks, out, run_id="g1")
    restored = gd_reconstruct(read_gd_outputs(spark, out, run_id="g1"), n=128, k=124)
    orig = tr.select("conv_id", "turn_idx", "text")
    assert restored.exceptAll(orig).isEmpty()
    assert orig.exceptAll(restored).isEmpty()


def test_read_gd_outputs_requires_manifest(spark, transcripts_df, tmp_path):
    """An archive whose manifest never landed (a write cut short) must raise,
    not be read back from whatever tables are on disk."""
    from rust_gd_spark.gd.spark import gd_decompose
    from rust_gd_spark.pipeline import read_gd_outputs, write_gd_outputs

    out = str(tmp_path / "gdout")
    tr = transcripts_df.limit(20)
    write_gd_outputs(gd_decompose(tr, n=128, k=124), out, run_id="g1")
    os.remove(os.path.join(out, "g1", "gd_manifest.json"))
    with pytest.raises(FileNotFoundError, match="gd_manifest.json"):
        read_gd_outputs(spark, out, run_id="g1")


def test_read_gd_outputs_rejects_conversation_packed_archive(spark, transcripts_df, tmp_path):
    """A manifest without the turn-aligned layout key (an archive of the
    older conversation-packed format) raises instead of being
    reconstructed as garbage."""
    import json

    from rust_gd_spark.gd.spark import gd_decompose
    from rust_gd_spark.pipeline import read_gd_outputs, write_gd_outputs

    out = str(tmp_path / "gdout")
    manifest = write_gd_outputs(gd_decompose(transcripts_df.limit(20)), out, run_id="g1")
    assert manifest["layout"] == "turn"
    del manifest["layout"]
    with open(os.path.join(out, "g1", "gd_manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    with pytest.raises(ValueError, match="'g1'"):
        read_gd_outputs(spark, out, run_id="g1")


def test_gd_archive_layout(spark, transcripts_df, tmp_path):
    """Both archive tables carry zstd pages on every column, the bases are
    ``(base_id, base)`` with delta-packed ids (Parquet v2 pages), and each
    conversation's deviation rows lie in one parquet file."""
    import glob

    import pyarrow.parquet as pq

    from rust_gd_spark.gd.spark import gd_decompose
    from rust_gd_spark.pipeline import write_gd_outputs

    out = str(tmp_path / "gdout")
    write_gd_outputs(gd_decompose(transcripts_df), out, run_id="g1")
    for f in glob.glob(os.path.join(out, "g1", "bases", "*.parquet")):
        pf = pq.ParquetFile(f)
        assert pf.schema_arrow.names == ["base_id", "base"]
        for g in range(pf.metadata.num_row_groups):
            assert "DELTA_BINARY_PACKED" in pf.metadata.row_group(g).column(0).encodings
    for table in ("bases", "deviations"):
        files = glob.glob(os.path.join(out, "g1", table, "*.parquet"))
        assert files, table
        for f in files:
            meta = pq.ParquetFile(f).metadata
            for g in range(meta.num_row_groups):
                rg = meta.row_group(g)
                assert {rg.column(c).compression for c in range(rg.num_columns)} == {"ZSTD"}
    files_of: dict = {}
    for f in glob.glob(os.path.join(out, "g1", "deviations", "*.parquet")):
        for conv in set(pq.read_table(f, columns=["conv_id"]).column("conv_id").to_pylist()):
            files_of.setdefault(conv, []).append(f)
    assert len(files_of) == transcripts_df.select("conv_id").distinct().count()
    assert all(len(fs) == 1 for fs in files_of.values())


def test_crashed_gd_rewrite_is_not_read(spark, transcripts_df, tmp_path, monkeypatch):
    """Base ids count within each archive's bases file, so old deviations
    read against a new dictionary would decode to wrong bytes. A rewrite
    that crashes after its bases landed must leave the archive unreadable,
    and a clean rewrite must then restore the new turns byte for byte."""
    from pyspark.sql.readwriter import DataFrameWriter

    from rust_gd_spark.gd.spark import gd_decompose, gd_reconstruct
    from rust_gd_spark.pipeline import read_gd_outputs, write_gd_outputs

    out = str(tmp_path / "gdout")
    convs = sorted(r.conv_id for r in transcripts_df.select("conv_id").distinct().collect())
    x = transcripts_df.filter(F.col("conv_id").isin(convs[:5]))
    y = transcripts_df.filter(F.col("conv_id").isin(convs[5:10]))
    write_gd_outputs(gd_decompose(x), out, run_id="g1")

    devs_path = os.path.join(out, "g1", "deviations")
    write = DataFrameWriter.parquet

    def failing(self, path, *args, **kwargs):
        if path == devs_path:
            raise OSError("injected crash")
        return write(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", failing)
    with pytest.raises(OSError, match="injected crash"):
        write_gd_outputs(gd_decompose(y), out, run_id="g1")
    monkeypatch.undo()
    # the crash came after the new dictionary replaced the old one
    on_disk = {r.base for r in spark.read.parquet(os.path.join(out, "g1", "bases")).collect()}
    assert on_disk == {r.base for r in gd_decompose(y).select("base").distinct().collect()}
    with pytest.raises(FileNotFoundError, match="gd_manifest.json"):
        read_gd_outputs(spark, out, run_id="g1")

    write_gd_outputs(gd_decompose(y), out, run_id="g1")
    restored = gd_reconstruct(read_gd_outputs(spark, out, run_id="g1"))
    assert sorted(restored.collect()) == sorted(y.select("conv_id", "turn_idx", "text").collect())


def test_read_gd_outputs_reads_content_hashed_archive(spark, transcripts_df, tmp_path):
    """An archive in the earlier turn-aligned form (xxhash64 ids, an
    ``n_refs`` column, v1 pages, ``"layout": "turn"``) still reads and
    reconstructs byte for byte."""
    import json

    from rust_gd_spark.gd.spark import gd_decompose, gd_reconstruct
    from rust_gd_spark.pipeline import read_gd_outputs

    out = str(tmp_path / "gdout")
    convs = sorted(r.conv_id for r in transcripts_df.select("conv_id").distinct().collect())
    tr = transcripts_df.filter(F.col("conv_id").isin(convs[:5]))
    with_id = gd_decompose(tr).withColumn("base_id", F.xxhash64("base"))
    paths = {t: os.path.join(out, "g0", t) for t in ("bases", "deviations")}
    (with_id.groupBy("base_id", "base").agg(F.count("*").alias("n_refs"))
     .write.option("compression", "zstd").option("parquet.writer.version", "v1")
     .parquet(paths["bases"]))
    (with_id.select("conv_id", "turn_idx", "chunk_idx", "base_id", "deviation", "last_chunk_pad")
     .write.option("compression", "zstd").option("parquet.writer.version", "v1")
     .parquet(paths["deviations"]))
    with open(os.path.join(out, "g0", "gd_manifest.json"), "w") as fh:
        json.dump({"run_id": "g0", "layout": "turn", "tables": paths}, fh)

    restored = gd_reconstruct(read_gd_outputs(spark, out, run_id="g0"))
    assert sorted(restored.collect()) == sorted(tr.select("conv_id", "turn_idx", "text").collect())


def test_path_toggles_disable_stages(spark, turns_df):
    res = near_dup_pipeline(
        turns_df, "uid", "text",
        DedupConfig(enable_simhash=False, enable_substring=False),
    )
    stages = {r.stage for r in res.metrics.collect()}
    assert "simhash_pairs" not in stages and "substring_pairs" not in stages
    assert "minhash_pairs" in stages
    paths = {r.path for r in res.pairs.select("path").distinct().collect()}
    assert paths <= {"exact", "minhash"}


def test_exact_only_pipeline(spark, turns_df):
    """Every near-dup path off: no chain to submit, exact clusters only."""
    res = near_dup_pipeline(
        turns_df, "uid", "text",
        DedupConfig(enable_minhash=False, enable_simhash=False, enable_substring=False),
    )
    paths = {r.path for r in res.pairs.select("path").distinct().collect()}
    assert paths <= {"exact"}
    assert res.clusters.count() == turns_df.count()
    assert "sketches" not in {r.stage for r in res.metrics.collect()}


def test_null_text_rows_survive(spark):
    """NULL text is in-contract (normalize_text coalesces NULL to '').
    md5(NULL) is NULL, and a null-unsafe equi-join on the content key
    silently dropped those rows from the clusters output — every input
    row must come back, NULL texts grouped with '' (one exact group)."""
    rows = [
        ("a", "the quick brown fox jumps over the lazy dog"),
        ("b", None),
        ("c", "the quick brown fox jumps over the lazy dog"),
        ("d", None),
        ("e", ""),
    ]
    df = spark.createDataFrame(rows, "uid string, text string")
    res = near_dup_pipeline(df, "uid", "text", DedupConfig())
    got = {r.id: r.cluster_id for r in res.clusters.collect()}
    assert set(got) == {"a", "b", "c", "d", "e"}
    # NULL and '' share one content key (the NULL doctrine) → one cluster
    assert got["b"] == got["d"] == got["e"]
    assert got["a"] == got["c"]


def test_canonical_clusters_relabel(spark, turns_df):
    from rust_gd_spark.pipeline import canonical_clusters

    res = near_dup_pipeline(turns_df, "uid", "text")
    canon = canonical_clusters(res.clusters)
    rows = canon.collect()
    by = {}
    for r in rows:
        by.setdefault(r.cluster_id, []).append(r.id)
    for label, members in by.items():
        assert label == min(members)
    # same partition as the raw labels
    raw = {r.id: r.cluster_id for r in res.clusters.collect()}
    canon_map = {r.id: r.cluster_id for r in rows}
    import itertools as _it

    sample = list(raw)[:200]
    for a, b in _it.combinations(sample, 2):
        assert (raw[a] == raw[b]) == (canon_map[a] == canon_map[b])


def test_cluster_representatives_semantics(spark):
    from rust_gd_spark.pipeline import cluster_representatives

    # hand-built clusters: c1 = {a,b,c} (b longest), c2 = tie on length
    # (d vs e, both 2 bytes → smallest id wins), c3 = NULL-text singleton
    clusters = spark.createDataFrame(
        [("a", "a"), ("b", "a"), ("c", "a"), ("d", "d"), ("e", "d"),
         ("f", "f")],
        "id string, cluster_id string",
    )
    src = spark.createDataFrame(
        [("a", "xx"), ("b", "xxxx"), ("c", "x"), ("d", "yy"), ("e", "zz"),
         ("f", None)],
        "uid string, text string",
    )
    out = {
        r.cluster_id: r
        for r in cluster_representatives(clusters, src, "uid", "text").collect()
    }
    assert out["a"].rep_id == "b" and out["a"].kept_bytes == 4
    assert out["a"].cluster_size == 3 and out["a"].total_bytes == 7
    assert out["d"].rep_id == "d"  # tie → smallest id
    assert out["f"].rep_id == "f" and out["f"].kept_bytes == 0


def test_cluster_representatives_pipeline(spark, turns_df):
    from rust_gd_spark.pipeline import canonical_clusters, cluster_representatives

    res = near_dup_pipeline(turns_df, "uid", "text")
    canon = canonical_clusters(res.clusters)
    reps = cluster_representatives(canon, turns_df, "uid", "text")
    # every cluster gets exactly one rep; sizes sum to the corpus
    n_rows = turns_df.count()
    rows = reps.collect()
    assert sum(r.cluster_size for r in rows) == n_rows
    assert len({r.cluster_id for r in rows}) == len(rows)
    # rep is a member and kept_bytes <= total_bytes
    members = {r.id: r.cluster_id for r in canon.collect()}
    for r in rows:
        assert members[r.rep_id] == r.cluster_id
        assert 0 <= r.kept_bytes <= r.total_bytes


@pytest.fixture(scope="module")
def hot_sketches(spark):
    """Sketches where every path has a bucket over the cap of 3: six
    variants of one long paragraph (shared MinHash bands, SimHash band
    values and winnow fingerprints), plus unrelated texts."""
    from rust_gd_spark.pipeline import sketches

    para = " ".join(f"token{i} shares the paragraph body number {i * 7}" for i in range(12))
    rows = [(i, f"{para} variant ending {i}") for i in range(6)]
    rows += [(10 + i, f"unrelated note {i} " * (5 + i)) for i in range(4)]
    cfg = DedupConfig(max_bucket_size=3, min_substring_len=120)
    df = spark.createDataFrame(rows, "id long, text string")
    return cfg, sketches(df, cfg).localCheckpoint(eager=True)


def test_shared_bucket_pass_matches_standalone_paths(spark, hot_sketches):
    """One posting table and one bucket pass give each path the candidate
    pairs and the audit rows its standalone wrapper gives on the same
    sketches."""
    from rust_gd_spark.operators import minhash, simhash, substring
    from rust_gd_spark.pipeline import bucket_candidates, path_audits

    cfg, sk = hot_sketches
    cap, nw = cfg.max_bucket_size, cfg.neighbor_window
    cands, audit = bucket_candidates(sk, cfg)
    got = {p: {(r.id_l, r.id_r) for r in cands.filter(F.col("path") == p).collect()}
           for p in range(3)}
    audits = path_audits(audit, cfg)

    expect = {
        0: minhash.lsh_candidate_pairs(
            minhash.explode_band_hashes(sk.select("id", "bands")), cap,
            neighbor_window=nw, salt_oversized=True),
        1: simhash.simhash_candidate_pairs(
            simhash.simhash_bands(sk.select("id", "fp"), bands=cfg.sim_bands), cap,
            neighbor_window=nw, materialize=False, salt_oversized=True),
        2: substring.substring_candidate_pairs(
            sk.select("id", "fps"), cap, neighbor_window=nw, salt_oversized=True),
    }
    for p, name in enumerate(("lsh_skew", "simhash_skew", "substring_skew")):
        pairs, want_audit = expect[p]
        assert got[p] == {(r.id_l, r.id_r) for r in pairs.collect()}, name
        rows = audits[name].collect()
        assert any(r.action == "salted" for r in rows), f"{name}: no hot bucket"
        assert audits[name].columns == want_audit.columns, name
        assert sorted(rows) == sorted(want_audit.collect()), name


def test_equal_keys_of_two_paths_never_pair(spark):
    """The same numeric key posted under MinHash (a band hash), SimHash (a
    band value) and winnowing (a fingerprint) keeps three buckets."""
    from rust_gd_spark.pipeline import bucket_candidates

    def fp(i):  # SimHash bands 0x1234+i, 0x5678+i, …: no band shared
        return 0x1234_5678_9ABC_DEF0 + i * 0x0001_0001_0001_0001

    rows = [
        (1, [], [7, 100], fp(1), []), (2, [], [7, 200], fp(2), []),  # MinHash band 0
        (3, [], [], 7, []), (4, [], [], 7, []),  # SimHash bands (7, 0, 0, 0)
        (5, [], [], fp(3), [7]), (6, [], [], fp(4), [7]),  # winnow fp
    ]
    sk = spark.createDataFrame(
        rows, "id long, shingles array<long>, bands array<long>, fp long, fps array<long>")
    cands, audit = bucket_candidates(sk, DedupConfig())
    got = {(r.path, r.id_l, r.id_r) for r in cands.collect()}
    assert got == {(0, 1, 2), (1, 3, 4), (2, 5, 6)}
    assert audit.count() == 0
