"""Transitive closure of a predicate's edge set — the engine behind SPARQL
property paths like ``rdfs:subClassOf*`` (SURVEY.md §2.4 G2, §4).

The reference gets this from Oxigraph's path evaluator at query time; here
the closure of a (static) ontology predicate is **precomputed once** and
every query-time path step becomes a single lookup (SURVEY.md §4
'Transitive closure' row). The SPARQL engine matches on the driver and
calls :func:`closure_pairs` over edge tuples directly;
:func:`transitive_closure` serves DataFrame callers with two strategies:

- ``spark``: iterative frontier self-join to fixpoint — the scale path.
  Each round joins the newest paths against the base edges, unions, and
  ``localCheckpoint``s to truncate lineage. O(diameter) shuffles; fine for
  ontology-sized graphs on a cluster.
- ``driver``: :func:`closure_pairs` over a collected edge list — for small
  ontologies (Brick is ~10k subclass edges) this avoids per-iteration job
  overhead.

``auto`` picks driver-side under ``DRIVER_EDGE_LIMIT`` edges. Cycles are
safe in both (visited-set / subtract against known closure, SURVEY §7 R1).
"""

from __future__ import annotations

from collections import defaultdict
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DRIVER_EDGE_LIMIT = 200_000

PAIR_SCHEMA = T.StructType(
    [
        T.StructField("src", T.StringType(), False),
        T.StructField("dst", T.StringType(), False),
    ]
)


def transitive_closure(
    triples: DataFrame,
    predicate: str,
    *,
    strategy: str = "auto",
    max_iterations: int = 64,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Strict (1+ hop) transitive closure of ``predicate``'s edges.

    Returns a ``(src, dst)`` DataFrame. Zero-length (reflexive) matching is
    the *compiler's* job (it knows which terms are in scope); keeping the
    closure strict makes it reusable for both ``*`` and ``+`` paths.
    """
    from mortar_parquet_support_spark.functions import materialize

    # one dedup, materialized once: auto-mode's count() and the chosen
    # strategy's collect()/iteration would otherwise each re-run the
    # upstream filter + distinct shuffle from scratch. An EXPLICIT driver
    # strategy collects exactly once, so the checkpoint write would be
    # pure wasted IO there — skip the barrier.
    edges = (
        triples.filter(F.col("predicate") == predicate)
        .select(F.col("subject").alias("src"), F.col("object").alias("dst"))
        .distinct()
    )
    if strategy != "driver":
        edges = materialize(edges, checkpoint_dir=checkpoint_dir)
    if strategy == "auto":
        strategy = "driver" if edges.count() <= DRIVER_EDGE_LIMIT else "spark"
    if strategy == "driver":
        return _closure_driver(edges)
    return _closure_spark(edges, max_iterations, checkpoint_dir)


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


def _closure_driver(edges: DataFrame) -> DataFrame:
    from mortar_parquet_support_spark.functions import tiny_frame

    pairs = closure_pairs((row.src, row.dst) for row in edges.collect())
    return tiny_frame(edges.sparkSession, sorted(pairs), PAIR_SCHEMA)


def _closure_spark(
    edges: DataFrame, max_iterations: int, checkpoint_dir: str | None = None
) -> DataFrame:
    """Caller contract (transitive_closure): ``edges`` arrives already
    deduplicated AND materialized — re-materializing here would write the
    whole edge set to the checkpoint store a second time per closure."""
    from mortar_parquet_support_spark.functions import materialize

    closure = edges
    frontier = edges
    for _ in range(max_iterations):
        grown = (
            frontier.withColumnRenamed("dst", "mid")
            .join(edges.withColumnRenamed("src", "mid"), "mid")
            .select("src", "dst")
            .distinct()
        )
        new = materialize(grown.subtract(closure), checkpoint_dir=checkpoint_dir)
        if new.isEmpty():
            return closure
        closure = materialize(closure.union(new), checkpoint_dir=checkpoint_dir)
        frontier = new
    raise RuntimeError(f"closure did not converge in {max_iterations} iterations")
