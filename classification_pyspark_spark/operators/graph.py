"""Distributed connected components — the pairs-to-clusters step of
every dedup pipeline (north-star extension; no reference counterpart:
`abhirup77/classification-pyspark` has no graph ops).

Near-dup detection (minhash / simhash / jaccard / cosine) emits PAIRS;
deduplication needs CLUSTERS (one canonical doc per transitive group).
That closure is a connected-components computation on the similarity
graph.

Implementation: iterative min-label propagation on DataFrames —
every vertex starts labeled with its own id; each round takes the min
of its neighbors' labels; converges when no label changes, at which
point every vertex carries the minimum vertex id of its component.
Plain propagation needs rounds = eccentricity of the component min
(shallow for near-clique dedup groups, but LSH band buckets CHAIN:
the sf0.1 curation graph measured diameter 9). From round 3 on, each
round therefore also contracts labels through themselves (pointer
jumping, ``component <- label(component)``, Kiveris et al.'s
shortcutting) so label distance closes exponentially instead of
one hop per round — measured 9 -> 6 rounds and ~4.3s -> ~2.8s on the
sf0.1 curation graph while near-clique graphs (converged before
round 3) never pay the extra join. Each round is one edge-frame join
+ one union-agg (labels are vertex-sized, the join is edge-frame-
sized — neither is guaranteed broadcast-eligible at cluster scale);
lineage is truncated with ``localCheckpoint`` each round so actions
don't re-execute prior rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 50,
    checkpoint_dir: str | None = None,
    shortcut_from: int = 3,
) -> DataFrame:
    """Label every vertex of the undirected edge list with the minimum
    vertex id reachable from it. Returns ``(vertex, component)``.

    Every round materializes the vertex-sized label frame with an
    eager ``localCheckpoint``: iterative DataFrame loops otherwise
    re-execute the entire accumulated lineage at EVERY action (the
    convergence probe and the next round both re-derived rounds
    1..i-1 — measured 74s for a job that runs in ~8s with per-round
    truncation at sf0.1). The checkpoint is cheap because labels are
    one row per vertex, far smaller than the edge frame.

    Round shape (r09 rewrite — same labels, fewer/cheaper jobs):

    - The edge list is symmetrized in ONE pass over the caller's pair
      pipeline (explode of both orientations; the old two-branch union
      either re-ran the pipeline per branch or needed an extra
      materialization barrier to avoid it).
    - Each round is a single union-aggregate: ``min(component)`` over
      {own label} ∪ {in-neighbor labels}, with the old label carried
      as ``min(component) over own rows`` — no second vertex-keyed
      left join per round, and the convergence flag is
      ``new < old`` on the already-materialized frame.
    - From round ``shortcut_from`` on, labels are additionally
      contracted through themselves (``component <- label(component)``
      — pointer jumping), so chain-shaped graphs (LSH band buckets
      chain; the sf0.1 curation graph measured diameter 9) converge in
      O(log D) rounds instead of D. Graphs that converge earlier never
      pay the extra join; measured 9 -> 6 rounds, ~4.3s -> ~2.8s on
      the curation graph, identical labels.

    ``localCheckpoint`` stores the truncated lineage in EXECUTOR
    block-manager memory/disk — losing an executor mid-run loses
    blocks with no lineage to recompute them. Fine single-node / at
    sandbox scale; on a real cluster where a long CC run must survive
    executor churn, pass ``checkpoint_dir`` (an HDFS/S3 path) to
    switch every truncation to a RELIABLE ``checkpoint`` persisted to
    that fault-tolerant storage — same labels, one distributed write
    per round as the insurance premium.

    Correctness of the shortcut: every label is always the id of a
    vertex in the same component (init: itself; neighbor-min and
    label-of-label both stay inside the component), and labels only
    decrease, so the fixpoint where nothing changes is exactly the
    per-component minimum — the same fixpoint plain propagation
    reaches, just fewer rounds away.
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _truncate(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    # symmetrize in ONE evaluation of the caller's (often expensive)
    # pair pipeline: each input row explodes into both orientations,
    # so no second branch re-runs posting joins / LSH scoring and no
    # pre-symmetrization materialization barrier is needed
    sym = _truncate(
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col(src).alias("a"), F.col(dst).alias("b")),
                    F.struct(F.col(dst).alias("a"), F.col(src).alias("b")),
                )
            ).alias("e")
        )
        .select("e.a", "e.b")
        .distinct()
    )

    labels = _truncate(
        sym.select(F.col("a").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("component"))
    )
    for i in range(max_iterations):
        # one union-aggregate replaces join-then-left-join: the new
        # label is min over {own} ∪ {neighbors}, and the OLD label
        # rides along as the min over own rows (exactly one per vertex)
        nbr = sym.join(labels, sym.b == labels.vertex).select(
            F.col("a").alias("vertex"), "component", F.lit(False).alias("own")
        )
        own = labels.select("vertex", "component", F.lit(True).alias("own"))
        upd = (
            nbr.unionByName(own)
            .groupBy("vertex")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("own"), F.col("component"))).alias("__old"),
            )
        )
        round_persist = None
        if i + 1 >= shortcut_from:
            # pointer jumping: component <- label(component), a self-
            # join of the round aggregate. Persist upd first: the
            # lookup side would otherwise RE-DERIVE the edge-frame
            # join + union-aggregate (exchange reuse is
            # canonicalization-sensitive and does not reliably fire
            # for the aliased lookup projection), doubling the
            # round's edge-frame work. The persist is lazy — zero
            # extra jobs. The cache fills first only under a broadcast
            # plan (the lookup side's build runs before the probe);
            # a shuffled join may compute both sides from lineage.
            round_persist = upd = upd.persist()
            lk = upd.select(
                F.col("vertex").alias("__cv"), F.col("component").alias("__cc")
            )
            upd = upd.join(lk, upd.component == lk.__cv, "left").select(
                "vertex",
                F.least(
                    F.col("component"), F.coalesce("__cc", F.col("component"))
                ).alias("component"),
                "__old",
            )
        new_labels = _truncate(
            upd.select(
                "vertex",
                "component",
                (F.col("component") < F.col("__old")).alias("__changed"),
            )
        )
        if round_persist is not None:
            # the checkpoint above materialized the round; the cached
            # aggregate is dead weight from here on
            round_persist.unpersist()
        changed = new_labels.filter("__changed").limit(1).count()
        labels = new_labels.drop("__changed")
        if changed == 0:
            break
    return labels


def triangle_counts(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Per-vertex triangle counts + local clustering coefficient over
    an undirected simple edge list ``(u, v)`` with ``u < v`` (distinct)
    — Suri & Vassilvitskii's degree-oriented MapReduce algorithm
    (WWW 2011): orient each edge toward the higher (degree, id)
    endpoint, enumerate wedges only at each edge's designated apex
    (out-degrees are O(sqrt E)-bounded under this orientation, so no
    hub explodes the wedge join), and close wedges against the
    undirected edge set — every triangle counted exactly once at its
    minimum-order vertex.

    Output: (x, n_triangles, degree, clustering_coeff rounded 6), one
    row per vertex in >= 1 triangle. The edge, degree, and oriented
    frames are tracked persists (each feeds >= 2 consumers).

    WARNING: triangle counting is Theta(k^3) on a k-clique no matter
    the algorithm, and near-dup graphs CONTAIN cliques by construction
    (every pair in an LSH bucket collides — a template family of 2000
    docs is 1.3e9 triangles that each say the same thing:
    clustering = 1). ``max_degree`` is the standard skew valve
    (high-degree vertex removal): edges touching a vertex with degree
    above the cap are dropped BEFORE wedge enumeration, bounding work
    at |E|·max_degree while keeping the interesting (sparse-
    neighborhood) vertices exact — a mega-cluster's cohesion is
    already known without counting its triangles. None = exact; the
    per-vertex degree column always reports the FULL degree so capped
    runs remain interpretable."""
    from .caching import track

    e = track(edges.select("u", "v"))
    deg = track(
        e.select(F.col("u").alias("x"))
        .unionByName(e.select(F.col("v").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    if max_degree is not None:
        keep = deg.filter(F.col("d") <= int(max_degree)).select("x")
        e = track(
            e.join(keep.withColumnRenamed("x", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("x", "v"), "v", "left_semi")
            .select("u", "v")
        )
    da = deg.select(F.col("x").alias("u"), F.col("d").alias("du"))
    db = deg.select(F.col("x").alias("v"), F.col("d").alias("dv"))
    o = track(
        e.join(da, "u").join(db, "v").select(
            F.when(F.col("du") <= F.col("dv"), F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(F.col("du") <= F.col("dv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    o2 = o.select(F.col("src"), F.col("dst").alias("dst2"))
    tri = (
        o.join(o2, on="src")
        .filter(F.col("dst") < F.col("dst2"))
        .join(
            e,
            (F.col("u") == F.col("dst")) & (F.col("v") == F.col("dst2")),
            "left_semi",
        )
        .select(
            F.col("src").alias("a"), F.col("dst").alias("b"), F.col("dst2").alias("c")
        )
    )
    per_v = (
        tri.select(F.col("a").alias("x"))
        .unionByName(tri.select(F.col("b").alias("x")))
        .unionByName(tri.select(F.col("c").alias("x")))
        .groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return per_v.join(deg, "x").select(
        "x",
        "n_triangles",
        F.col("d").alias("degree"),
        F.round(
            F.col("n_triangles") * 2.0 / (F.col("d") * (F.col("d") - 1)), 6
        ).alias("clustering_coeff"),
    )
