"""Driver-side min-label union-find: the exact reference for the
contraction connected-components operator.

Verification-only — O(edges) single-machine, used where the DuckDB
recursive-closure twin is intractable (scripts/verify_clusters_unionfind.py)
and by the property-based test (tests/test_property.py). ONE shared
definition so the two checkers cannot drift.
"""

from __future__ import annotations

from collections.abc import Iterable


def union_find_min_label(edges: Iterable[tuple[int, int]]) -> dict[int, int]:
    """{node: min node id in its connected component} for every node
    appearing in ``edges`` (duplicate and reversed edges are fine;
    nodes absent from edges are absent here — singletons are the
    caller's business, mirroring connected_components)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
