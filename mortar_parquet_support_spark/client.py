"""Client — the reference's user-facing API
(``/root/reference/mortar-parquet-client/client.py:14-109``), Spark-native.

Holds the two abstractions together: the RDF metadata graphs (TTL -> triples
DataFrame -> SPARQL-subset engine) and the Parquet timeseries lake, bridged
by the composite graph->data semi-join (SURVEY.md §2.5): SPARQL finds stream
UUIDs, the UUIDs + a time range become a pruned scan of the lake.

Scale notes (local behavior identical, cluster behavior deliberate):

- The UUID bridge collects the SPARQL result and harvests ids on the
  driver, as the reference does before its ``isin`` (``client.py:69``).
  Distinct ids are at most the graph's terms, which already sit on the
  driver (the ``SparqlEngine`` contract). A basic-graph-pattern result is
  one ``LocalRelation`` per site, collected site by site, so the harvest
  submits no Spark job.
- Up to ``IN_LIST_MAX`` ids become an IN-list, which prunes ``uuid=``
  partition directories and row-group stats. Larger id sets reach the
  scan as a ``LocalRelation`` through a broadcast ``LEFT SEMI`` join,
  which keeps the plan small.
- ``limit`` is EXACT (``df.limit``) — documented upgrade over the
  reference's batch-granularity approximate limit (``client.py:101-104``,
  SURVEY.md §7 R4).
"""

from __future__ import annotations

import re
from functools import reduce
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mortar_parquet_support_spark.functions import local_frame
from mortar_parquet_support_spark.plans.sparql import SparqlEngine
from mortar_parquet_support_spark.sources import sinks
from mortar_parquet_support_spark.sources.ingest import UUID_RE
from mortar_parquet_support_spark.sources.lake import TimeseriesLake
from mortar_parquet_support_spark.sources.ttl import load_graph_dir

#: Above this many ids, skip the IN-list and use a broadcast semi-join.
IN_LIST_MAX = 10_000


def _harvest_ids(rows, columns: list[str], *, has_provenance: bool) -> list[str]:
    """O3 quirk parity: UUID candidates from EVERY result column, not just
    the id variable (client.py:69), kept only when UUID-shaped (P9 filters
    what the reference would pass as garbage into the isin). Lowercased,
    because ingest stores uuids lowercased and the scan's match is
    case-sensitive. The ``site`` column is skipped ONLY when it is the
    provenance column ``sites=[...]`` added: with ``sites=None`` a column
    named site is the user's own variable (review r14)."""
    keep = [i for i, c in enumerate(columns) if not (has_provenance and c == "site")]
    values = {str(r[i]).lower() for r in rows for i in keep if r[i] is not None}
    return sorted(v for v in values if re.fullmatch(UUID_RE, v))


class Client:
    """Parity constructor: ``Client(graph_dir, lake_root)`` mirrors
    ``Client(db_dir, bucket)`` (client.py:15). S3 lakes: pass an
    ``s3a://`` root and set fs.s3a confs on the session (S6)."""

    def __init__(
        self,
        spark: SparkSession,
        graph_dir: str | None = None,
        lake_root: str | None = None,
        *,
        triples: DataFrame | None = None,
        ontology_path: str | None = None,
    ):
        self.spark = spark
        if triples is None and graph_dir is not None:
            triples = load_graph_dir(spark, graph_dir)
        if ontology_path is not None and triples is not None:
            # the reference parses the Brick ontology into EVERY named graph
            # (setup-graphs.py:22); one shared copy with site='__ontology__'
            # unioned into every scope is equivalent for BGP matching and
            # avoids 45 duplicate copies of an 800k-triple ontology.
            from mortar_parquet_support_spark.sources.ttl import parse_ttl

            with open(ontology_path, encoding="utf-8") as fh:
                onto_rows = parse_ttl(fh.read(), "__ontology__")
            from mortar_parquet_support_spark.functions import tiny_frame

            onto = tiny_frame(spark, onto_rows, triples.schema)
            triples = triples.unionByName(onto)
        self.triples = triples
        self.engine = (
            SparqlEngine(triples, shared_sites=["__ontology__"])
            if triples is not None
            else None
        )
        self.lake = TimeseriesLake.open(spark, lake_root) if lake_root else None

    # ------------------------------------------------------------------
    # Graph queries (client.py:40-63)
    # ------------------------------------------------------------------
    def sparql(self, query: str, sites: Iterable[str] | None = None) -> DataFrame:
        """Run SPARQL; un-scoped queries span the union of all site graphs
        (default_union, setup-graphs.py:14); with ``sites`` the query runs
        per named graph and results carry a ``site`` provenance column
        (G5-G7, client.py:49-63). All columns are strings (client.py:43,53).
        """
        return reduce(DataFrame.unionByName, self._sparql_frames(query, sites))  # O4

    def _sparql_frames(self, query: str, sites: Iterable[str] | None) -> list[DataFrame]:
        """The result as one frame per named graph (or one union frame):
        each is a ``LocalRelation`` for a basic graph pattern, so collecting
        them one by one submits no Spark job, where their union would."""
        if self.engine is None:
            raise RuntimeError("no graphs loaded")
        if sites is None:
            return [self.engine.sql(query)]
        sites = list(sites)  # may be a generator; it is iterated twice below
        # compile once per site, THEN probe the first frame for the ?site
        # collision — probing with a separate engine.sql call would pay a
        # full extra compilation for sites[0]
        bare = [self.engine.sql(query, site=site) for site in sites]
        if bare and "site" in bare[0].columns:
            # withColumn('site', provenance) would silently OVERWRITE the
            # query's own ?site binding — destroying result data beats a
            # loud error in no scenario
            raise ValueError(
                "query binds a variable named ?site, which collides with "
                "the provenance column added by sites=[...]; rename the "
                "variable or run with sites=None"
            )
        if not bare:
            # reference returns an empty pd.DataFrame() for sites=[]
            # (client.py:59-60); mirror with an empty site-only frame
            return [local_frame(self.spark, ["site"], [])]
        return [df.withColumn("site", F.lit(site)) for df, site in zip(bare, sites)]

    # ------------------------------------------------------------------
    # Composite graph->data queries (client.py:65-109)
    # ------------------------------------------------------------------
    def data_sparql_df(
        self,
        sparql: str,
        sites: Iterable[str] | None = None,
        start=None,
        end=None,
        limit: int | None = None,
    ) -> DataFrame:
        """The composite operator: ids from the collected SPARQL result,
        then the lake scan as a lazy DataFrame (the native shape; the
        pandas/CSV/DuckDB methods below are sinks over this)."""
        if self.lake is None:
            raise RuntimeError("no lake opened")
        frames = self._sparql_frames(sparql, sites)
        rows = [row for df in frames for row in df.collect()]
        ids = _harvest_ids(rows, frames[0].columns, has_provenance=sites is not None)
        out = self._scan_uuids(ids, start, end)
        if limit is not None:  # limit=0 means 0 rows, not "no limit"
            out = out.limit(int(limit))
        return out

    def data_sparql(self, sparql, sites=None, start=None, end=None, limit=None):
        """client.py:95 — returns pandas."""
        return sinks.to_pandas(self.data_sparql_df(sparql, sites, start, end, limit))

    def data_sparql_to_csv(self, sparql, filename, sites=None, start=None, end=None, limit=None) -> int:
        """client.py:74 — appends to one local CSV, returns the row count."""
        return sinks.to_local_csv(self.data_sparql_df(sparql, sites, start, end, limit), filename)

    def data_sparql_to_duckdb(self, sparql, database, table, sites=None, start=None, end=None, limit=None):
        """client.py:82 — lands the result in a DuckDB table; the open
        connection persists as ``self.data_cache`` (parity with client.py:84)
        and the relation is returned. The cached connection is keyed by the
        database path: a call with a DIFFERENT path opens that database
        fresh (reference behavior — client.py:84 reconnects per call)
        instead of silently writing the table into the previous one."""
        cached_db, cached_con = getattr(self, "_duck_cache", (None, None))
        reuse = None
        if cached_con is not None:
            if cached_db == database:
                try:
                    cached_con.execute("SELECT 1")
                    reuse = cached_con
                except Exception:
                    # the caller owns the connection's lifetime and may
                    # have closed it — reopen instead of crashing on reuse
                    reuse = None
            else:
                # path changed: release the old handle (file lock/fd)
                # instead of leaking it for the process lifetime
                try:
                    cached_con.close()
                except Exception:
                    pass
        self.data_cache = sinks.to_duckdb(
            self.data_sparql_df(sparql, sites, start, end, limit),
            database,
            table,
            connection=reuse,
        )
        self._duck_cache = (database, self.data_cache)
        return self.data_cache.table(table)

    # ------------------------------------------------------------------
    # id -> data (the reference's own TODO at client.py:13)
    # ------------------------------------------------------------------
    def data_uuids(self, uuids: Iterable[str], start=None, end=None) -> DataFrame:
        if self.lake is None:
            raise RuntimeError("no lake opened")
        # same case normalization as the SPARQL harvest: the lake stores
        # lowercased uuids
        return self._scan_uuids(sorted({u.lower() for u in uuids}), start, end)

    def _scan_uuids(self, ids: list[str], start, end) -> DataFrame:
        """Up to ``IN_LIST_MAX`` ids scan as an IN-list (partition and
        row-group pruning); more reach the scan as a ``LocalRelation``
        through a broadcast ``LEFT SEMI`` join, keeping the plan small."""
        if len(ids) <= IN_LIST_MAX:
            return self.lake.scan(uuids=ids, start=start, end=end)
        ids_df = local_frame(self.spark, ["uuid"], [(u,) for u in ids])
        return self.lake.scan_ids(ids_df, start=start, end=end)
