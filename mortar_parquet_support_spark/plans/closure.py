"""Transitive closure of a predicate's edge set — the engine behind SPARQL
property paths like ``rdfs:subClassOf*`` (SURVEY.md §2.4 G2, §4).

The reference gets this from Oxigraph's path evaluator at query time; here
the SPARQL engine matches on the driver and computes the closure of a
scope's edges once with :func:`closure_pairs`, so every query-time path
step becomes a lookup (SURVEY.md §4 'Transitive closure' row). Contract:
the edges fit on the driver, as the graphs they come from already do.
The closure is strict (1+ hops); zero-length matching is the compiler's
job, so one closure serves both ``*`` and ``+``. Cycles terminate
(visited set, SURVEY §7 R1).
"""

from __future__ import annotations

from collections import defaultdict
from typing import Iterable


def closure_pairs(edges: Iterable[tuple[str, str]]) -> set[tuple[str, str]]:
    """Strict transitive closure of driver-side ``(src, dst)`` edge tuples:
    one visited-set search per source node, so cycles terminate."""
    adj: dict[str, list[str]] = defaultdict(list)
    for src, dst in edges:
        adj[src].append(dst)
    pairs: set[tuple[str, str]] = set()
    for start in adj:
        seen: set[str] = set()
        stack = list(adj[start])
        while stack:
            node = stack.pop()
            if node in seen:
                continue
            seen.add(node)
            stack.extend(adj.get(node, ()))
        pairs.update((start, node) for node in seen)
    return pairs
