"""Connected components over candidate-pair edges — the clustering stage.

Large-star/small-star alternation (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC'14; PAPERS.md): converges in O(log n) rounds,
each round two shuffles, no driver-side state — unlike naive label
propagation whose round count is the graph diameter.

DataFrame-native formulation deliberately avoids ``collect_list`` neighbor
arrays (a hot node's neighborhood would blow a single task at 10^12 scale);
each round is groupBy-min + join, both AQE-skew-splittable:

    large-star: for every node u, attach its strictly-larger neighbors to
                m(u) = min(N(u) ∪ {u})
    small-star: orient edges high→low; attach u and its smaller neighbors
                to m(u) = min over those neighbors

Checkpointing: every star round truncates lineage. The default is
``localCheckpoint`` (executor-memory blocks — fastest, but a lost executor
loses its blocks and fails the job). Passing ``checkpoint_dir`` switches
every truncation to RELIABLE ``df.checkpoint()`` into that directory (HDFS/S3/NFS on a real cluster):
a lost executor's partitions are re-read from the checkpoint files instead
of recomputed-from-nothing, so the CC stage resumes mid-iteration — the
north_rule's "resumes from checkpoint after executor loss" clause, tested
end-to-end by tools/test_checkpoint_resume.sh (SIGKILL of a standalone
worker mid-CC). SURVEY.md §4.3.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F


def _canon(edges: DataFrame) -> DataFrame:
    """Undirected canonical form: (src < dst), deduped, no self-loops."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _large_star(edges: DataFrame) -> DataFrame:
    sym = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mins = sym.groupBy("src").agg(F.min("dst").alias("mn")).select(
        "src", F.least("mn", "src").alias("m")
    )
    return (
        sym.filter(F.col("dst") > F.col("src"))
        .join(mins, "src")
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    nbr_edges = oriented.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_edges = mins.select(F.col("src"), F.col("m").alias("dst"))
    return nbr_edges.union(self_edges)


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count("*").alias("n"),
        F.sum(F.pmod(F.xxhash64("src", "dst"), F.lit(2**31 - 1))).alias("h"),
    ).collect()[0]
    return int(row.n), int(row.h or 0)


def _driver_unionfind(pdf) -> "pd.DataFrame":  # noqa: F821
    """Path-compressed union-find over a collected edge frame; component =
    min node id, identical to the distributed fixpoint's contract."""
    import numpy as np
    import pandas as pd

    src = pdf["src"].to_numpy()
    dst = pdf["dst"].to_numpy()
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    parent = np.arange(len(nodes), dtype=np.int64)

    def find(i: int) -> int:
        root = i
        while parent[root] != root:
            root = parent[root]
        while parent[i] != root:  # path compression
            parent[i], i = root, parent[i]
        return root

    m = len(src)
    for a, b in zip(inv[:m], inv[m:]):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union toward the smaller node id so roots stay canonical-ish;
            # the exact min is recomputed below either way
            parent[max(ra, rb)] = min(ra, rb)
    # dtype pinned: an EMPTY edge set (all-singleton corpus) makes the
    # comprehension produce a float64 array that breaks fancy indexing
    roots = np.array([find(i) for i in range(len(nodes))], dtype=np.int64)
    comp_min = np.full(len(nodes), np.iinfo(np.int64).max, dtype=np.int64)
    np.minimum.at(comp_min, roots, nodes)
    return pd.DataFrame({"node": nodes, "component": comp_min[roots]})


def connected_components(
    edges: DataFrame,
    max_iter: int = 50,
    small_graph_rows: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """``(node long, component long)`` for every node appearing in ``edges``;
    component = min node id of the connected component.

    ``small_graph_rows`` (or env ``GD_CC_SMALL_GRAPH_ROWS``; default
    2_000_000) is an ADAPTIVE threshold, same philosophy as
    ``spark.sql.autoBroadcastJoinThreshold``: if the deduped edge set
    fits the bound (LIMIT probe over the already-checkpointed canonical
    edge set — driver memory capped at bound+1 rows ≈ 32 MB at the
    default), the whole iteration collapses to one numpy union-find;
    otherwise the probe falls through to the distributed fixpoint — which
    REUSES the same checkpoint as its round-0 state, so at 100 TB the
    probe costs one limit-scan of the checkpoint, never a second
    evaluation of the upstream edge plan. The win is fixed latency, not
    data volume: at small/interactive scale the distributed path is ~20
    one-task barrier jobs for a graph of a few thousand edges. Pass ``0``
    to pin the distributed fixpoint (tests/test_components.py and the
    ``incremental_clusters`` driver query do, so both paths stay
    oracle-checked and outputs are equality-tested).

    The fixpoint runs one large-star/small-star round per barrier: the
    round's checkpoint and its convergence signature share one job.
    Chaining several rounds per barrier was measured (800k-component
    graph, local[8], warm) at ~38% slower for two rounds: a converged
    round still shuffles the full edge set, while barriers are cheap in
    one JVM.

    Raises RuntimeError if not converged within ``max_iter`` rounds (CC on
    n nodes needs O(log n) — 50 covers any realistic corpus).
    """
    if small_graph_rows is None:
        small_graph_rows = int(
            os.environ.get("GD_CC_SMALL_GRAPH_ROWS", "2000000")
        )
    if checkpoint_dir:
        # Reliable mode: truncations write to the checkpoint dir and
        # survive executor loss (localCheckpoint blocks do not).
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _ckpt(df: DataFrame, eager: bool) -> DataFrame:
        if checkpoint_dir:
            return df.checkpoint(eager=eager)
        return df.localCheckpoint(eager=eager)

    from ..session import job_description

    sc = edges.sparkSession.sparkContext
    with job_description(sc, "cc:canon"):
        cur = _ckpt(_canon(edges), eager=True)
    if small_graph_rows > 0:
        # probe the CHECKPOINT, not the plan: under budget the collect is
        # the whole (small) edge set; over budget it is a cheap limit-scan
        # and the fixpoint below reuses the same checkpoint — the upstream
        # edge-producing plan is never evaluated twice
        probe = cur.limit(small_graph_rows + 1).toPandas()
        if len(probe) <= small_graph_rows:
            return edges.sparkSession.createDataFrame(
                _driver_unionfind(probe),
                "node long, component long",
            )
    prev_sig = None
    for it in range(max_iter):
        # LAZY checkpoint: the signature action right below both
        # materializes the checkpoint and computes the convergence
        # signature in ONE job — one driver barrier per round.
        # Lineage still truncates to O(1) at the checkpoint.
        cur = _ckpt(_canon(_small_star(_large_star(cur))), eager=False)
        with job_description(sc, f"cc:round{it}"):
            sig = _signature(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")
    # fixpoint is a star forest in canonical (min, max) form: src is the root
    members = cur.select(F.col("dst").alias("node"), F.col("src").alias("component"))
    roots = cur.select(F.col("src").alias("node"), F.col("src").alias("component"))
    return members.union(roots).dropDuplicates(["node"])


def assign_clusters(
    ids: DataFrame,
    pair_edges: DataFrame,
    id_col: str = "id",
    small_graph_rows: int | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster assignment for EVERY row of ``ids``: ``(id, cluster_id)``.

    ``pair_edges`` carries string ids (id_l, id_r); nodes are mapped to
    int64 via xxhash64 (content-addressed — no sequential counter to
    serialize on); singletons keep their own hash as cluster_id. The
    id→hash mapping stays in the output, so a 64-bit collision can only
    merge two clusters, never corrupt ids.
    """
    nodes = ids.select(F.col(id_col).alias("id"), F.xxhash64(id_col).alias("node"))
    edges = pair_edges.select(
        F.xxhash64("id_l").alias("src"), F.xxhash64("id_r").alias("dst")
    )
    comp = connected_components(
        edges, small_graph_rows=small_graph_rows, checkpoint_dir=checkpoint_dir
    )
    return (
        nodes.join(comp, "node", "left")
        .select(
            "id",
            F.coalesce(F.col("component"), F.col("node")).alias("cluster_id"),
        )
    )
