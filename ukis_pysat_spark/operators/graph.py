"""Distributed connected components — the clustering step of a dedup
pipeline (LSH/near-dup PAIRS -> duplicate CLUSTERS -> one canonical doc
per cluster), and the stitch stage of cross-tile polygonize/contour.

Star algorithm: alternating large-star / small-star (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — O(log n)
rounds on ANY graph, each round two ids-only shuffles (a groupBy-min
and an equi-join), so a pathological high-diameter graph (a pixel-chain
contour, a long road network) costs log-rounds instead of the
diameter-rounds a label-propagation scheme pays.  Per round:

- large-star: every node connects its strictly-larger neighbors to the
  minimum of its closed neighborhood;
- small-star: every node connects its smaller-or-equal neighbors (and
  itself) to their minimum.

Both steps preserve connectivity exactly and monotonically shrink the
label potential; the fixpoint is a forest of stars rooted at each
component's minimum id — deterministic, partitioning- and retry-safe.
Convergence is detected with one count+hash action per round.

One entry point: a measured mean degree picks
min-label propagation for dense graphs (unions of near-cliques, i.e.
LSH duplicate groups) and the star loop otherwise, and labelprop hands
off to the star loop when it has not converged.  The plain min-label
propagation twin (no handoff) lives in tests/test_pipeline_ops.py as
the differential oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
import pyspark.sql.functions as F


_LABELPROP_MIN_DEGREE = 8.0  # labelprop only on clearly dense graphs
_LABELPROP_HANDOFF_ROUNDS = 8  # contract + hand off to star past this


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """(node, component) for every node of the undirected edge list;
    `component` is the smallest node id in the node's component.

    The algorithm is a MEASURED choice: one aggregate over the
    checkpointed canonical edge list computes the mean degree 2|E|/|V|.

    - mean degree >= 8 -> min-label propagation: O(diameter) rounds,
      cheap rounds; the right plan for unions of near-cliques (dedup
      clusters converge in 2-4 rounds; a k-clique has degree k-1).  If
      it has not converged after ``_LABELPROP_HANDOFF_ROUNDS`` the graph
      is contracted by the current labels (connectivity-preserving) and
      the remainder runs through the star loop, so a dense graph with a
      long diameter still costs O(log n) total, not O(diameter).
    - otherwise -> alternating large-star/small-star: O(log n) rounds
      regardless of graph diameter; ~2x the per-round constant of
      labelprop (two shuffle pairs + checkpoint + action per round).
      Chains, trees and grid stitch graphs (degree <= 4) land here.

    Both produce identical labels.  Pass a dict as `stats` to receive
    {'rounds': n, 'algorithm': ...} for tests."""
    # one upstream evaluation: raw pairs are checkpointed FIRST, so the
    # (possibly expensive) edge-producing plan is computed once and the
    # node table / canonical edges / chooser all read the checkpoint
    raw = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).localCheckpoint()
    nodes = (
        raw.select(F.col("s").alias("node"))
        .unionByName(raw.select(F.col("d").alias("node")))
        .distinct()
    )
    # canonical child->parent pairs (u > v), self-loops dropped
    e = (
        raw.select(F.greatest("s", "d").alias("u"), F.least("s", "d").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint()
    )
    rounds = 0
    if e.isEmpty():
        if stats is not None:
            stats["rounds"] = 0
            stats["algorithm"] = "none"
        return nodes.select("node", F.col("node").alias("comp"))

    row = (
        e.select(F.explode(F.array("u", "v")).alias("n"))
        .agg(
            F.count(F.lit(1)).alias("deg2"),
            F.approx_count_distinct("n").alias("nn"),
        )
        .collect()[0]
    )
    mean_degree = float(row["deg2"]) / max(float(row["nn"]), 1.0)
    algo = "labelprop" if mean_degree >= _LABELPROP_MIN_DEGREE else "star"
    if stats is not None:
        stats["algorithm"] = algo

    labels = None  # labelprop's (node, comp) for nodes touching e
    if algo == "labelprop":
        bi = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # round 1 fused: label = min(closed neighborhood)
        labels = (
            bi.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select(F.col("u").alias("node"), F.least("u", "mv").alias("comp"))
            .localCheckpoint()
        )
        rounds = 1
        converged = False
        for _ in range(_LABELPROP_HANDOFF_ROUNDS - 1):
            rounds += 1
            neighbor = bi.join(labels, bi.u == labels.node).select(
                F.col("v").alias("node"), "comp"
            )
            new_labels = (
                labels.unionByName(neighbor)
                .groupBy("node")
                .agg(F.min("comp").alias("comp"))
                .localCheckpoint()
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                converged = True
                break
        if converged:
            if stats is not None:
                stats["rounds"] = rounds
            return nodes.join(labels, "node", "left").select(
                "node", F.coalesce("comp", "node").alias("comp")
            )
        # not converged within the handoff budget: contract the graph
        # by the current labels (each label set is connected, so
        # contraction preserves components exactly) and finish with the
        # star loop on the much smaller graph
        la = labels.withColumnsRenamed({"node": "u", "comp": "ca"})
        lb = labels.withColumnsRenamed({"node": "v", "comp": "cb"})
        e = (
            e.join(la, "u")
            .join(lb, "v")
            .select(
                F.greatest("ca", "cb").alias("u"), F.least("ca", "cb").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint()
        )
        if e.isEmpty():
            if stats is not None:
                stats["rounds"] = rounds
            return nodes.join(labels, "node", "left").select(
                "node", F.coalesce("comp", "node").alias("comp")
            )

    prev_sig = None
    prev_e = None
    for _ in range(max_iter):
        rounds += 1
        # ---- large-star: for each u, attach neighbors v > u to
        # m = min(neighborhood(u) + {u})
        nb = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        lmin = (
            nb.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("u", "mv").alias("m"))
        )
        large = (
            nb.join(lmin, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
            .localCheckpoint()
        )
        # ---- small-star over the (u > v) result: for each u, attach
        # its smaller neighbors and itself to their minimum
        smin = large.groupBy("u").agg(F.min("v").alias("m"))
        children = (
            large.join(smin, "u")
            .where(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        prev_e = e
        e = (
            children.unionAll(smin.select("u", F.col("m").alias("v")))
            .distinct()
            .localCheckpoint()
        )
        # ---- fixpoint check: star sets are fixpoints of both steps.
        # The (count, hash-xor) signature is the cheap per-round filter;
        # a signature match is then PROVEN with one exact anti-join so a
        # hash collision can never terminate early with wrong labels.
        sig = tuple(
            e.agg(
                F.count(F.lit(1)), F.expr("bit_xor(xxhash64(u, v))")
            ).collect()[0]
        )
        if sig == prev_sig and e.join(
            prev_e, ["u", "v"], "left_anti"
        ).isEmpty():
            if stats is not None:
                stats["rounds"] = rounds
            star = e.select(F.col("u").alias("node"), F.col("v").alias("comp2"))
            if labels is not None:
                # compose the labelprop contraction with the star labels
                star_l = e.select(
                    F.col("u").alias("comp"), F.col("v").alias("scomp")
                )
                labels = labels.join(star_l, "comp", "left").select(
                    "node", F.coalesce("scomp", "comp").alias("comp2")
                )
                return nodes.join(labels, "node", "left").select(
                    "node", F.coalesce("comp2", "node").alias("comp")
                )
            return nodes.join(star, "node", "left").select(
                "node", F.coalesce("comp2", "node").alias("comp")
            )
        prev_sig = sig
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )

