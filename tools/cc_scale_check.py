"""At-scale cross-check for graph_connected_components.

The registry oracle is a recursive-CTE reachability closure —
O(sum component_size^2) intermediate rows, fine at the driver's
sf0.01 gate but ~billions of pairs at sf1 (observed: DuckDB RSS past
64 GiB). Min-label components have a cheap exact truth at any scale:
union-find over the collected edge list (the edge count is linear in
lineitem). Compare that truth to the Spark iterative min-label output.

    python tools/cc_scale_check.py [sf_dir]   # default /tmp/scaled_sf/sf1
"""
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def union_find_labels(edges: list[tuple[int, int]]) -> tuple[dict[int, int], int]:
    """Min-label per node (the fixpoint both engines converge to) and
    the component count."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    members: dict[int, list[int]] = {}
    for n in parent:
        members.setdefault(find(n), []).append(n)
    truth = {}
    for ns in members.values():
        m = min(ns)
        for n in ns:
            truth[n] = m
    return truth, len(members)


def main() -> None:
    import duckdb

    from acuvate_spark.queries import REGISTRY
    from acuvate_spark.session import get_spark

    sf = sys.argv[1] if len(sys.argv) > 1 else "/tmp/scaled_sf/sf1"
    edges = duckdb.connect().execute(
        f"""
        SELECT DISTINCT l_partkey AS src, -(l_suppkey + 1) AS dst
        FROM '{sf}/lineitem.parquet' WHERE l_quantity < 3
        """
    ).fetchall()
    print(f"{len(edges)} distinct edges in {sf}")
    truth, n_components = union_find_labels(edges)
    print(f"{len(truth)} nodes, {n_components} components (python union-find)")

    spark = get_spark("cc-sf1-check", cpus=16)
    rows = REGISTRY["graph_connected_components"].fn(spark, sf).collect()
    spark_map = {r["node"]: r["component"] for r in rows}
    assert len(rows) == len(spark_map) == len(truth), (
        len(rows), len(spark_map), len(truth))
    bad = [n for n, c in truth.items() if spark_map.get(n) != c]
    assert not bad, f"{len(bad)} mismatched nodes, e.g. {bad[:5]}"
    print(f"graph_connected_components {sf}: EXACT MATCH vs python union-find "
          f"({len(truth)} nodes)")
    spark.stop()


if __name__ == "__main__":
    main()
