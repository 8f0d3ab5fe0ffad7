"""Connected components over an edge list, with its one plan decision:
a single-task numpy contraction up to ``_SMALL_GRAPH_EDGES`` symmetrized
edges, distributed min-label propagation above it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# pointer jumps per label-propagation round in connected_components'
# large-graph path (2 vs the single path-halving jump: CC_CHAIN_AB_r11.json)
_CC_JUMPS = 2


# connected_components' single-task ceiling: up to 5 M symmetrized edges
# the numpy contraction runs in one executor task.
_SMALL_GRAPH_EDGES = 5_000_000


def connected_components(
    edges: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over an undirected edge list.

    This is THE dedup finisher — near-dup pairs only become a dedup
    decision once transitive groups collapse to one keeper per cluster.
    Adaptive plan, chosen by the materialized edge count:

    - **small graph** (≤ ``_SMALL_GRAPH_EDGES`` symmetrized edges, the
      common case after LSH pruning — near-dup graphs are sparse
      relative to the corpus): contract in ONE executor task via
      ``mapInPandas`` — vectorized numpy min-propagation with pointer
      jumping over the factorized node ids. One shuffle (repartition to
      a single task), one job, no per-round scheduling. Data never
      touches the driver.
    - **large graph**: distributed iterative min-label propagation with
      path-halving pointer jumping — O(log n) rounds, each a
      join+min-agg shuffle, frontier localCheckpointed per round so
      lineage stays flat. The convergence test scans the checkpoint
      (prev label rides along as a column) — no extra join.

    Returns (node, component) with component = min node id reachable.
    """
    # localCheckpoint (not persist): each round's plan must TRUNCATE, or
    # the nested lineage of N rounds blows up the optimizer (observed
    # OOM at ~10 rounds on a 2k-edge graph with plain persist).
    # Symmetrize IN-ROW (explode of the edge + its reverse) rather than
    # via self-union: one pass over the (possibly expensive) upstream
    # pairs plan instead of two lineage branches, which also drops the
    # eager pre-union checkpoint that existed only to guard the double
    # execution — one driver job fewer per dedup finisher (d6/d16/d17/
    # st17/c11 all pay this prologue; guide §1.4/§5).
    src, dst = F.col(a_col), F.col(b_col)
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(src.alias("src"), dst.alias("dst")),
                    F.struct(dst.alias("src"), src.alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_sym = sym.count()
    if n_sym <= _SMALL_GRAPH_EDGES:
        node_t = sym.schema["src"].dataType.simpleString()

        def _contract(batches):
            import numpy as np
            import pandas as pd

            srcs, dsts = [], []
            for pdf in batches:
                srcs.append(pdf["src"].to_numpy())
                dsts.append(pdf["dst"].to_numpy())
            if not srcs:
                return
            src = np.concatenate(srcs)
            dst = np.concatenate(dsts)
            # factorize: nodes sorted ascending, so the min label INDEX
            # is also the min node id — index-space mins are id-space mins.
            nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
            e_src, e_dst = inv[: len(src)], inv[len(src):]
            label = np.arange(len(nodes), dtype=np.int64)
            while True:
                new = label.copy()
                np.minimum.at(new, e_src, label[e_dst])  # one-hop neighbor min
                new = np.minimum(new, new[new])  # pointer jump (path halving)
                if np.array_equal(new, label):
                    break
                label = new
            yield pd.DataFrame({"node": nodes, "component": nodes[label]})

        return sym.repartition(1).mapInPandas(_contract, f"node {node_t}, component {node_t}")

    labels = (
        sym.select(F.col("src").alias("node")).distinct().withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        stepped = labels.join(neighbor_min, labels.node == neighbor_min.src, "left").select(
            "node",
            F.col("component").alias("prev_component"),
            F.least(F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))).alias("component"),
        )
        # pointer jumping (path halving): adopt the component's own
        # component, contracting label chains exponentially — O(log n)
        # rounds instead of O(diameter). Two jumps per round (round 11,
        # guide §2 iteration count / §5 driver jobs): each extra jump is
        # one more labels-sized join INSIDE the round but compounds the
        # contraction (~5x chain shortening per round vs ~2.5x), so the
        # expensive per-round fixed costs — the edges-side neighbor-min
        # shuffle, the checkpoint, the convergence count — are paid
        # ~40% fewer times (CC_CHAIN_AB_r11.json). The fixpoint (min
        # reachable id per node) is unchanged: jumps only accelerate the
        # monotone descent, and the loop still exits on changed == 0.
        cur = stepped
        for _jump in range(_CC_JUMPS):
            lk = cur.select(F.col("node").alias("jnode"), F.col("component").alias("jcomp"))
            cur = cur.join(lk, cur.component == lk.jnode, "left").select(
                "node",
                "prev_component",
                F.least(F.col("component"), F.coalesce(F.col("jcomp"), F.col("component"))).alias("component"),
            )
        new_labels = cur.localCheckpoint(eager=True)
        # convergence test is a scan of the just-materialized checkpoint —
        # prev label rides along as a column, so no join against the old
        # frame and no extra shuffle.
        changed = new_labels.filter(F.col("component") != F.col("prev_component")).count()
        labels = new_labels.select("node", "component")
        if changed == 0:
            break
    return labels
