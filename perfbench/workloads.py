"""The workloads: staged input, one closed-loop job, output checks.

Each job reads its staged parquet input and ends with a committed write,
so a timed job is one whole run of the program from input to stored
result. The program is driven only through its public functions, called
through their modules so the traced run's patches see every call.
"""

from __future__ import annotations

import inspect
import os
import shutil
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F, types as T

from rust_gd_spark import pipeline, streaming
from rust_gd_spark.gd import spark as gd_spark
from rust_gd_spark.operators import simhash

import check
import gen

# The production headline config (all four paths, Jaccard 0.5, 120-byte
# substrings) with the bucket cap scaled down with the corpus: 5,000 turns
# instead of 100,000, so max_bucket_size 200 instead of 2,000. A 2,000+
# member family at this size made every job template-bound (salted
# SimHash/winnow buckets), far past the per-run time budget.
CFG = pipeline.DedupConfig(jaccard_threshold=0.5, min_substring_len=120, max_bucket_size=200)
FULL = check.Thresholds(
    w=CFG.w, jaccard=CFG.jaccard_threshold, max_hamming=CFG.max_hamming,
    min_substring_len=CFG.min_substring_len,
)
# process_batch runs at its defaults (Jaccard 0.7): it has only the exact
# and MinHash paths, and its 32x4 bands find a pair at Jaccard 0.5 with
# probability 0.87 only, which the other paths make up for in the batch
# pipeline.
STREAM = check.Thresholds(max_hamming=None, min_substring_len=None,
                          jaccard=inspect.signature(streaming.process_batch)
                          .parameters["threshold"].default)

# 5,000 turns. ~220 template turns overfill the winnowing and SimHash
# buckets past max_bucket_size (salted), while their MinHash band keys
# (~70% of the family share one) stay under it.
TURNS = dict(n_conv=250, turns_per_conv=20, template_share=0.044)
STREAM_BATCHES = 2

INPUT_SCHEMA = T.StructType([
    T.StructField("conv_id", T.StringType(), False),
    T.StructField("turn_idx", T.IntegerType(), False),
    T.StructField("role", T.StringType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("tool", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), False),
])


@dataclass
class Job:
    """Timings of one closed-loop job, in seconds."""

    wall_s: float             # input read → final result: the turns_per_s base
    commits: list[float]      # commit latency of each unit of work


@dataclass
class Score:
    recall: float
    purity: float
    stored_ratio: float
    problems: list[str] = field(default_factory=list)


def _stage(spark, turns: pd.DataFrame, path: str) -> None:
    spark.createDataFrame(turns, schema=INPUT_SCHEMA).write.mode("overwrite").parquet(path)


def data_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (no checksums or markers)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(dirpath, f))
            for f in files if not f.startswith((".", "_")) and not f.endswith(".json")
        )
    return total


def _timed(fn) -> float:
    t = time.perf_counter()
    fn()
    return time.perf_counter() - t


class _Workload:
    """Batch near-dup pipeline over the turns corpus; the job commits the
    cluster table."""

    name = ""
    thresholds = FULL
    corpus: gen.Corpus
    n_turns: int

    def __init__(self, work: str, scale: float = 1.0):
        self.inp = os.path.join(work, "input", self.name)
        self.scale = scale  # share of the conversations generated
        self.last_result = None  # PipelineResult of the last batch job
        self._qualifying = None

    def make(self, seed: int) -> gen.Corpus:
        params = {**TURNS, "n_conv": max(2, round(TURNS["n_conv"] * self.scale))}
        return gen.turns_corpus(seed, **params)

    def stage(self, spark, seed: int) -> None:
        """Generate the input from ``seed`` and write it where jobs read it."""
        self.corpus = self.make(seed)
        self.n_turns = len(self.corpus.turns)
        self.write_input(spark)

    def write_input(self, spark) -> None:
        _stage(spark, self.corpus.turns, self.inp)

    def texts(self) -> dict[str, str]:
        return dict(zip(self.corpus.ids, self.corpus.turns.text))

    def input_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts().values())

    def docs(self, spark):
        raise NotImplementedError

    def job(self, spark, out: str) -> Job:
        clusters = os.path.join(out, "clusters")
        t0 = time.perf_counter()
        res = pipeline.near_dup_pipeline(self.docs(spark), cfg=CFG, collect_stats=False)
        res.clusters.write.mode("overwrite").parquet(clusters)
        wall = time.perf_counter() - t0
        self.last_result = res
        return Job(wall_s=wall, commits=[wall])

    def kept_bytes(self, spark, out: str) -> int | None:
        """What keeping one representative per committed cluster stores,
        as the program's ``cluster_representatives`` computes it."""
        return int(
            pipeline.cluster_representatives(
                spark.read.parquet(os.path.join(out, "clusters")), self.docs(spark),
                "uid", "text",
            ).agg(F.sum("kept_bytes")).first()[0]
        )

    def qualifying(self, spark) -> list[tuple[str, str]]:
        if self._qualifying is None:
            texts = self.texts()
            fps = None
            if self.thresholds.max_hamming is not None:
                docs = spark.createDataFrame(
                    pd.DataFrame({"uid": list(texts), "text": list(texts.values())})
                )
                fps = dict(
                    simhash.simhash_fingerprints_from_text(docs, "uid", "text", k=CFG.char_k)
                    .toPandas().itertuples(index=False, name=None)
                )
            self._qualifying = check.qualifying_pairs(
                self.corpus.planted, texts, self.thresholds, fps
            )
        return self._qualifying

    def check(self, spark, out: str, job: Job) -> Score:
        cl = spark.read.parquet(os.path.join(out, "clusters")).toPandas()
        program_kept = self.kept_bytes(spark, out)
        family = dict(zip(self.corpus.ids, self.corpus.family))
        texts = self.texts()
        s = check.score_clusters(
            dict(zip(cl["id"], cl["cluster_id"])), family, texts, self.qualifying(spark)
        )
        problems = list(s.problems)
        if program_kept is not None and program_kept != s.kept_bytes:
            problems.append(f"kept_bytes {program_kept} != checker's {s.kept_bytes}")
        return Score(s.recall, s.purity, s.kept_bytes / self.input_bytes(), problems)


class TurnsMixed(_Workload):
    name = "turns_mixed"

    def docs(self, spark):
        return pipeline.with_turn_uid(spark.read.parquet(self.inp)).select("uid", "text")


def _gd_restore(spark, out: str, run_ids: list[str]) -> None:
    """Read the GD stores back, reconstruct and commit the turns."""
    chunks = pipeline.read_gd_outputs(spark, out, run_ids[0])
    for run_id in run_ids[1:]:
        chunks = chunks.unionByName(pipeline.read_gd_outputs(spark, out, run_id))
    gd_spark.gd_reconstruct(chunks).write.mode("overwrite").parquet(
        os.path.join(out, "reconstructed")
    )


def _gd_check(spark, corpus: gen.Corpus, out: str, run_ids: list[str]):
    """Per-turn equality of the reconstructed turns, and the store's bytes."""
    got = spark.read.parquet(os.path.join(out, "reconstructed")).toPandas()
    t = corpus.turns
    expected = dict(zip(zip(t.conv_id, t.turn_idx.astype(int)), t.text))
    score = check.score_reconstruction(expected, list(got.itertuples(index=False, name=None)))
    stored = sum(
        data_bytes(os.path.join(out, run_id, table))
        for run_id in run_ids for table in ("bases", "deviations")
    )
    return score, stored


class StreamIngest(_Workload):
    """The turns_mixed corpus in ts order as micro-batches. Each batch is
    deduped against the history (``process_batch``) and archived through
    GD; compaction clusters everything streamed (``compact_clusters``) and
    reads the archive back turn by turn."""

    name = "stream_ingest"
    thresholds = STREAM

    def write_input(self, spark):
        turns = self.corpus.turns  # generated in ts order
        # whole conversations per batch: each GD store holds complete ones
        conv_no = turns.conv_id.factorize()[0] * STREAM_BATCHES // turns.conv_id.nunique()
        self.batches = []
        for i in range(STREAM_BATCHES):
            path = f"{self.inp}-batch{i}"
            _stage(spark, turns[conv_no == i], path)
            self.batches.append(path)
        self.run_ids = [f"gd-batch{i}" for i in range(STREAM_BATCHES)]

    def state_dir(self, out: str) -> str:
        return os.path.join(out, "state")

    def _batch(self, spark, path: str, state: str, out: str, run_id: str) -> None:
        batch = spark.read.parquet(path)
        streaming.process_batch(pipeline.with_turn_uid(batch), state, collect_stats=False)
        pipeline.write_gd_outputs(gd_spark.gd_decompose(batch), out, run_id)

    def job(self, spark, out: str) -> Job:
        state = self.state_dir(out)
        shutil.rmtree(state, ignore_errors=True)
        commits = [
            _timed(lambda p=p, r=r: self._batch(spark, p, state, out, r))
            for p, r in zip(self.batches, self.run_ids)
        ]

        def compact():
            streaming.compact_clusters(spark, state).write.mode("overwrite").parquet(
                os.path.join(out, "clusters")
            )
            _gd_restore(spark, out, self.run_ids)

        return Job(wall_s=sum(commits) + _timed(compact), commits=commits)

    def kept_bytes(self, spark, out):
        return None  # the archive, not a representative set, is what is kept

    def check(self, spark, out: str, job: Job) -> Score:
        score = super().check(spark, out, job)
        rec, stored = _gd_check(spark, self.corpus, out, self.run_ids)
        score.problems.extend(rec.problems)
        score.stored_ratio = stored / self.input_bytes()
        return score


WORKLOADS = {w.name: w for w in (TurnsMixed, StreamIngest)}
