"""Graph operators: connected components via iterative label
propagation (SURVEY §2.4 A4 / §4 O4 — the reference's DFS/union-find
at app.py:2861-2905 and app.py:1464-1489, re-expressed as dataflow).

Algorithm: every node starts labeled with its own id; each round, each
node takes the min label among itself and its neighbors; stop at
fixpoint. Converges in O(diameter) rounds; each round is one
shuffle-colocated join + groupBy. The P&ID graphs this engine targets
have tiny diameters (lines connect nearby components), so plain
propagation with an early-exit check is the right default trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoints import release


def _broadcast_threshold_bytes(spark) -> int:
    """spark.sql.autoBroadcastJoinThreshold as plain bytes (the conf
    accepts bare numbers or k/m/g-suffixed sizes; -1 disables)."""
    raw = str(spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    s = raw.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    mult = 1
    if s and s[-1] in ("k", "m", "g"):
        mult = {"k": 1024, "m": 1024**2, "g": 1024**3}[s[-1]]
        s = s[:-1]
    try:
        return int(s) * mult
    except ValueError:
        return 10 * 1024 * 1024


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    rounds_out: list | None = None,
    gate_out: list | None = None,
) -> DataFrame:
    """edges(src,dst) undirected -> (node, component) with component =
    min node id reachable. Deterministic fixpoint. Pass a list as
    ``rounds_out`` to receive the number of loop rounds actually run
    (appended as its single element; since r15 each round performs TWO
    propagation hops, so rounds ~ diameter / 2) — the scale-test hook
    pinning that iteration counts track graph diameter, not graph
    size. ``gate_out`` likewise receives whether the pre-partition
    gate below fired (test hook — ADVICE r14).

    NULL contract (the recursive-CTE oracle's, queries/graph.py): a
    NULL endpoint is a node. It takes the min label of its non-NULL
    neighbours but never BRIDGES them — the loop join is null-unsafe,
    as the oracle's ``ue.a = r.n`` never matches NULL — so edges
    (1, NULL), (NULL, 5) label NULL -> 1 and keep 1 and 5 apart. A NULL
    node with no non-NULL neighbour, e.g. edge (NULL, NULL), labels
    itself: (NULL, NULL)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
    )
    # self-loops fold the "own label" term INTO the neighbor-min join:
    # each round becomes ONE join + ONE aggregate (the a == b row both
    # contributes the node's current label to the min and recovers the
    # old label for the changed flag) — previously a second
    # labels-side join per round did that work. Input self-loops are
    # dropped before the fold (r15, ADVICE r14): unionByName does not
    # dedupe, so an explicit self-loop in the input used to ride along
    # twice — harmless for the min aggregates but a wasted join row
    # per round, and it overcounted the a == b gate probe below.
    # With exactly one self-loop per node, that probe is an EXACT node
    # count and the seed labels fall out of the materialized self-loop
    # rows for free (no separate distinct over sym). All three
    # self-loop predicates are NULL-SAFE (`<=>`): a plain `a != b`
    # filter silently dropped edges with a NULL endpoint (NULL
    # comparisons filter), losing the NULL node and its neighbor
    # propagation — caught by the null-parity ring
    # (test_null_parity.py, graph_connected_components: 152 vs the
    # oracle's 153 rows on the null-dense edge fixture).
    sym = sym.where(~F.col("a").eqNullSafe(F.col("b"))).unionByName(
        sym.select("a").distinct().select(F.col("a"), F.col("a").alias("b"))
    )
    # localCheckpoint cuts the lineage each round: without it the plan
    # doubles per iteration (joins reference the previous labels) and
    # Catalyst planning cost explodes long before the data does. sym is
    # loop-invariant and read by the result; each superseded label
    # round is released once its successor has materialized (see
    # checkpoints.py).
    sym = sym.localCheckpoint(eager=True)
    # At scale, hash-partition sym on the JOIN key once before the loop
    # (r14, guide §2.4 "two operations keyed the same way can share one
    # exchange"): LogicalRDD preserves the materialized partitioning,
    # and the labels side arrives hash-partitioned on node from the
    # previous round's aggregate, so every round's join needs no fresh
    # exchange of the edge set — one up-front shuffle buys
    # diameter-many shuffle-free sort-merge joins. GATED on whether the
    # label frame can broadcast (scale-adaptive per guide §2, derived
    # from the data, not a local constant): while labels fit the
    # broadcast threshold every round is a broadcast join and sym never
    # shuffles anyway — there the pinned-width repartition only added
    # rounds x empty-task scheduling (measured +55% on the sf0.1
    # interleaved A/B) and is skipped. The node count is the self-loop
    # count already materialized in sym (a cheap cached scan); 32 B/row
    # approximates the (node, component) broadcast row. A disabled
    # broadcast threshold (-1) correctly always pre-partitions.
    # Result-invariant either way (row order never reaches the min
    # aggregates). The node-count probe itself is skipped while the
    # materialized edge set coalesced to a handful of partitions (a
    # few-hundred-MB graph at the default 64 MB advisory size — its
    # label frame is far under any broadcast threshold), so the tiny-
    # graph path pays ZERO extra jobs for the gate.
    gate_fired = False
    if sym.rdd.getNumPartitions() >= 8:
        n_nodes = sym.where(F.col("a").eqNullSafe(F.col("b"))).count()
        if n_nodes * 32 > _broadcast_threshold_bytes(edges.sparkSession):
            gate_fired = True
            n_part = sym.sparkSession.sparkContext.defaultParallelism * 2
            first = sym
            sym = sym.repartition(n_part, F.col("b")).localCheckpoint(eager=True)
            # free the superseded first checkpoint now: at scale it is
            # a transient DOUBLING of edge-set storage
            release(first)
    if gate_out is not None:
        gate_out.append(gate_fired)
    # seed labels: the self-loop rows of the MATERIALIZED edge set are
    # exactly one row per node, so the old distinct-over-sym shuffle
    # for the label seed is a filter over cached blocks instead.
    labels = (
        sym.where(F.col("a").eqNullSafe(F.col("b")))
        .select(F.col("a").alias("node"), F.col("a").alias("component"))
        .localCheckpoint(eager=True)
    )
    held = labels  # the checkpoint handle of the current round
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        # TWO propagation hops per round (r15, guide §1.2/§5): each
        # hop is node <- min over {own label (self-loop row), neighbor
        # labels}, and the old label rides along via the self-loop row
        # so the changed flag costs no extra join. Chaining two hops
        # into one lazy plan halves the per-round fixed costs that
        # dominate the loop — one checkpoint materialization, one
        # driver sync (the changed-count collect) and one job
        # submission per TWO hops instead of per hop (measured at
        # sf0.1: 8 rounds -> 5, 2.083 s -> 1.807 s min-of-5, labels
        # identical). Result-invariant: one hop is monotone
        # non-increasing (the min includes the node's own label via
        # its self-loop), so new <= mid <= labels pointwise and
        # new == labels forces mid == labels — a zero changed-count
        # across the double hop certifies the same fixpoint the
        # single-hop loop reached. The inner hop also recovers the
        # pre-round label ("old") through its self-loop row, and the
        # outer hop re-reads it from the inner's self-loop row, so
        # "changed" still compares exactly one round boundary.
        mid = (
            sym.join(labels, sym.b == labels.node)
            .select(F.col("a").alias("node"), F.col("b").alias("nbr"), "component")
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("nbr") == F.col("node"), F.col("component"))).alias(
                    "old"
                ),
            )
        )
        new_labels = (
            sym.join(mid, sym.b == mid.node)
            .select(
                F.col("a").alias("node"), F.col("b").alias("nbr"), "component", "old"
            )
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("nbr") == F.col("node"), F.col("old"))).alias("old"),
            )
            .select(
                "node",
                "component",
                (F.col("component") != F.col("old")).cast("int").alias("changed"),
            )
            # lazy: the convergence aggregate below is the round's ONE
            # action — it materializes the checkpoint and reads the
            # changed-count in the same job (eager=True cost a second
            # job per round for the same result)
            .localCheckpoint(eager=False)
        )
        n_changed = new_labels.agg(F.sum("changed")).collect()[0][0]
        release(held)  # new_labels is materialized: free the old round
        held = new_labels
        labels = new_labels.drop("changed")
        if not n_changed:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} iterations "
            f"of two propagation hops each ({n_changed} labels still changing) — "
            "raise max_iter for graphs with propagation distance beyond "
            "2 * max_iter (silent partial labels would diverge from the "
            "reachability semantics)"
        )
    if rounds_out is not None:
        rounds_out.append(rounds)
    # the null-unsafe loop join never reaches a NULL node without a
    # non-NULL neighbour: add it back with its own label, as the
    # oracle's seed row does. Both anti-join sides hold at most the one
    # NULL row, so this adds two tiny exchanges; a left join of every
    # seed node onto the labels re-shuffled the whole label set
    # (+0.47 s on the sf0.1 edge set)
    null_seed = sym.where(F.col("a").isNull() & F.col("b").isNull())
    null_label = labels.where(F.col("node").isNull())
    lone_null = null_seed.join(
        null_label, null_seed.a.eqNullSafe(null_label.node), "left_anti"
    ).select(F.col("a").alias("node"), F.col("b").alias("component"))
    return labels.unionByName(lone_null)
