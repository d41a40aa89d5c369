"""``lake`` workload: the reference's hybrid path, reads and writes.

Set-up ingests one CSV per stream into a Parquet lake (``ingest_directory``
then ``write_metadata_summary``) and loads the generated Brick site graphs
with the shipped ontology into a ``Client``. The timed loop then repeats a
fixed seeded round of operations:

- ``point``: one VAV's temperature sensor on one site over a one-day window,
  through ``Client.data_sparql`` (pandas);
- ``bulk``: the reference QUERY1 over a whole site and a one-day window,
  through ``data_sparql_to_csv``;
- ``cycle``: append a batch of new streams of a site the lake does not hold
  yet (collection ``fresh``), refresh ``_metadata``, reopen the lake and
  read one just-written stream back through SPARQL.

Every read is checked against the generator's row counts. A traced run
splits each read at the package's public boundaries (SPARQL construction,
bindings, bridge, scan to a ``noop`` sink, sink), alternates the bulk sink
between CSV and DuckDB, calls ``data_sparql_to_duckdb`` on each DuckDB bulk
read, and compacts the ingest collection once at the end.
"""

from __future__ import annotations

import os
import random
import re
import statistics
import time

import gen

N_SITES = 2
VAVS_PER_SITE = 10
AHUS_PER_SITE = 2
DAYS = 4
STEP_S = 60
N_WINDOWS = 2
CYCLE_VAVS = 2  # new VAVs (two streams each) per ingest cycle
UUID_RE = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$")


def _tree_stats(root: str) -> tuple:
    """(parquet data files, total bytes of every file) under ``root``."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            size += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return files, size


class LakeWorkload:
    SETUP_REPS = 2
    ROUND = ("point", "bulk", "point", "cycle", "bulk", "point", "cycle", "bulk")
    ROUND_S = 17.0  # nominal seconds of one round on 4 cores

    def __init__(self, bench):
        self.b = bench
        self.rng = random.Random(f"lake-ops-{bench.seed}")
        self.cycles = 0
        self.ingest_rate: list = []
        self.fresh: list = []

    # -- inputs ---------------------------------------------------------------
    def generate(self) -> None:
        b = self.b
        self.plan = gen.plan_lake(
            b.seed, n_sites=N_SITES, vavs_per_site=VAVS_PER_SITE,
            ahus_per_site=AHUS_PER_SITE, days=DAYS, step_s=STEP_S, n_windows=N_WINDOWS,
        )
        gen.write_graphs(self.plan, b.path("in", "graphs"))
        self.csv_bytes = sum(
            gen.write_site_csvs(self.plan, site.name, b.path("in", "csv"), b.seed)
            for site in self.plan.sites
        )
        self.rows = sum(len(s.times) for s in self.plan.streams.values())
        # the appended streams: one site whose VAVs arrive in batches, one
        # batch for the warm-up cycle and one for each timed cycle
        n_batches = 1 + self.ROUND.count("cycle") * b.rounds(self.ROUND_S)
        self.fplan = gen.plan_lake(
            b.seed + 7919, n_sites=1, vavs_per_site=CYCLE_VAVS * n_batches,
            ahus_per_site=0, days=DAYS, step_s=STEP_S, n_windows=1, site_prefix="fresh",
        )
        gen.write_graphs(self.fplan, b.path("in", "graphs"))
        self.batches = []
        rng = random.Random(f"fresh-{b.seed}")
        for k in range(n_batches):
            vavs = self.fplan.sites[0].vavs[k * CYCLE_VAVS:(k + 1) * CYCLE_VAVS]
            d = b.path("in", "batch", str(k))
            os.makedirs(d)
            streams = [self.fplan.streams[u] for v in vavs for u in (v.sensor, v.setpoint)]
            nbytes = sum(gen.write_stream_csv(s, d, rng) for s in streams)
            self.batches.append((d, vavs, sum(len(s.times) for s in streams), nbytes))

    # -- set-up ---------------------------------------------------------------
    def setup(self, rep: int) -> None:
        from mortar_parquet_support_spark.client import Client
        from mortar_parquet_support_spark.sources.ingest import ingest_directory
        from mortar_parquet_support_spark.sources.lake import write_metadata_summary
        from mortar_parquet_support_spark.sources.ttl import load_graph_dir
        import mortar_parquet_support_spark as pkg

        b, t = self.b, self.b.tracer
        onto = os.path.join(os.path.dirname(pkg.__file__), "resources", "brick_subset.ttl")
        lake = b.path(f"lake{rep}")
        ingest_directory(b.spark, "campus", b.path("in", "csv"), lake)
        md = write_metadata_summary(lake)
        b.check(md["rows"] == self.rows, f"lake holds {md['rows']} rows, expected {self.rows}")
        with t.span("ttl.load") as s:
            triples = load_graph_dir(b.spark, b.path("in", "graphs"))
        t.add("ttl.load_s", s["s"])
        self.client = Client(b.spark, triples=triples, lake_root=lake, ontology_path=onto)
        if b.traced:
            t.add("ttl.triples", self.client.triples.count())
        self.lake = lake
        self.csv_in = self.csv_bytes
        self.lake_rows = self.rows

    # -- operations -----------------------------------------------------------
    def _read(self, client, query, sites, window, sink: str) -> int:
        """One composite read; returns the rows it delivered. Traced runs
        split it at each public boundary."""
        start, end = (window[0], window[1]) if window else (None, None)
        out = self.b.path("tmp", f"out{self.b.attempted}")
        if not self.b.traced:
            if sink == "pandas":
                return len(client.data_sparql(query, sites=sites, start=start, end=end))
            n = client.data_sparql_to_csv(query, out + ".csv", sites=sites, start=start, end=end)
            with open(out + ".csv") as fh:
                lines = sum(1 for _ in fh)
            os.remove(out + ".csv")
            return n if n == lines else -1
        return self._traced_read(client, query, sites, start, end, sink, out)

    def _traced_read(self, client, query, sites, start, end, sink, out) -> int:
        from mortar_parquet_support_spark.sources import sinks

        t = self.b.tracer
        with t.span("sparql.construct") as c:
            res = client.sparql(query, sites=sites)
        with t.span("sparql.bind") as bnd:
            rows = res.collect()
        with t.span("client.bridge") as br:
            df = client.data_sparql_df(query, sites, start, end)
        with t.span("lake.scan") as sc:
            df.write.format("noop").mode("overwrite").save()
        with t.span(f"sinks.{sink}") as sk:
            if sink == "pandas":
                n = len(sinks.to_pandas(df))
            elif sink == "csv":
                n = sinks.to_local_csv(df, out + ".csv")
                os.remove(out + ".csv")
            else:
                con = sinks.to_duckdb(df, out + ".duckdb", "t")
                n = con.execute("SELECT count(*) FROM t").fetchone()[0]
                con.close()
                os.remove(out + ".duckdb")
        if sink == "duckdb":
            # the Client entry point, once per traced duckdb read: every call
            # lands a new table in one database, so the cached connection is
            # reused from the second call on
            with t.span("client.data_sparql_to_duckdb"):
                rel = client.data_sparql_to_duckdb(
                    query, self.b.path("client.duckdb"), f"t{self.b.attempted}",
                    sites=sites, start=start, end=end,
                )
                if rel.count("*").fetchone()[0] != n:
                    return -1
        ids = {
            str(v).lower() for r in rows for k, v in r.asDict().items()
            if k != "site" and UUID_RE.match(str(v).lower())
        }
        t.add("sparql.construct_s", c["s"])
        t.add("sparql.bind_s", bnd["s"])
        t.add("sparql.jobs", c["jobs"] + bnd["jobs"])
        t.add("sparql.stages", c["stages"] + bnd["stages"])
        t.add("client.bridge_s", br["s"])
        t.add("client.jobs", br["jobs"])
        t.add("client.ids", len(ids))
        t.add("lake.scan_s", sc["s"])
        t.add("lake.tasks", sc["tasks"])
        if n:
            t.add("lake.rows_read_per_row_returned", sc["input_records"] / n)
        name = {"pandas": "to_pandas", "csv": "to_local_csv", "duckdb": "to_duckdb"}[sink]
        t.add(f"sinks.{name}_s", max(sk["s"] - sc["s"], 0.0))
        t.add("sinks.rows_per_s", n / sk["s"])
        return n

    def point(self, site, window) -> bool:
        vav = self.rng.choice(site.vavs)
        n = self._read(self.client, gen.POINT_QUERY % vav.iri, [site.name], window, "pandas")
        return n == self.plan.count([vav.sensor], window)

    def bulk(self, site, window, sink: str) -> bool:
        n = self._read(self.client, gen.QUERY1, [site.name], window, sink)
        return n == self.plan.count(self.plan.query1_uuids(site.name), window)

    def cycle(self, timed: bool = False) -> bool:
        from mortar_parquet_support_spark.sources.ingest import ingest_directory
        from mortar_parquet_support_spark.sources.lake import TimeseriesLake, write_metadata_summary

        b, t = self.b, self.b.tracer
        d, vavs, rows, nbytes = self.batches[self.cycles]
        self.cycles += 1
        files0 = _tree_stats(self.lake)[0] if t.enabled else 0
        t0 = time.perf_counter()
        with t.span("ingest.call") as s:
            ingest_directory(b.spark, "fresh", d, self.lake)
        dt = time.perf_counter() - t0
        if t.enabled:
            t.add("ingest.call_s", s["s"])
            t.add("ingest.jobs", s["jobs"])
            t.add("ingest.rows", rows)
        self.csv_in += nbytes
        self.lake_rows += rows
        with t.span("metadata.write") as s_md:
            md = write_metadata_summary(self.lake)
        t1 = time.perf_counter()
        with t.span("lake.open") as s_open:
            self.client.lake = TimeseriesLake.open(b.spark, self.lake)
        vav = self.rng.choice(vavs)
        site = self.fplan.sites[0].name
        n = self._read(self.client, gen.POINT_QUERY % vav.iri, [site], None, "pandas")
        fresh_s = time.perf_counter() - t1
        if timed:
            self.ingest_rate.append(rows / dt)
            self.fresh.append(fresh_s)
        if t.enabled:
            t.add("ingest.files_written", _tree_stats(self.lake)[0] - files0)
            t.add("metadata.write_s", s_md["s"])
            t.add("metadata.fragments", md["fragments"])
            t.add("lake.open_s", s_open["s"])
            t.add("lake.fresh_s", fresh_s)
        return md["rows"] == self.lake_rows and n == len(self.fplan.streams[vav.sensor].times)

    # -- phases ---------------------------------------------------------------
    def warm_up(self) -> None:
        """Untimed: a point read on every site and window of the pool, a
        bulk read per sink and one ingest cycle."""
        (s0, s1), (w0, w1) = self.plan.sites, self.plan.windows
        self.b.op(None, lambda: self.point(s0, w0))
        self.b.op(None, lambda: self.point(s1, w1))
        self.b.op(None, lambda: self.bulk(s1, w1, "csv"))
        if self.b.traced:
            self.b.op(None, lambda: self.bulk(s0, w1, "duckdb"))
        self.b.op(None, self.cycle)

    def schedule(self):
        sinks = ("csv", "duckdb")
        i = 0
        while True:
            for cls in self.ROUND:
                site = self.rng.choice(self.plan.sites)
                w = self.rng.choice(self.plan.windows)
                if cls == "point":
                    yield cls, lambda: self.point(site, w)
                elif cls == "bulk":
                    sink = sinks[i % 2] if self.b.traced else "csv"
                    i += 1
                    yield cls, lambda: self.bulk(site, w, sink)
                else:
                    yield cls, lambda: self.cycle(timed=True)

    def finish(self) -> None:
        """Traced runs compact the appended collection once, check that no
        row moved, and then read the lake's bytes per input CSV byte."""
        b, t = self.b, self.b.tracer
        if not t.enabled:
            return
        from mortar_parquet_support_spark.sources.maintenance import compact_collections

        fresh_dir = os.path.join(self.lake, "collection=fresh")
        before = b.spark.read.parquet(self.lake).count()
        files0 = _tree_stats(fresh_dir)[0]
        with t.span("compact") as s:
            compact_collections(b.spark, self.lake, collections=["fresh"])
        t.add("compact.s", s["s"])
        t.add("compact.files_before", files0)
        t.add("compact.files_after", _tree_stats(fresh_dir)[0])
        after = b.spark.read.parquet(self.lake).count()
        b.check(before == after, f"compaction changed the row count {before} -> {after}")
        t.add("lake.stored_bytes_per_csv_byte", _tree_stats(self.lake)[1] / self.csv_in)
        if hasattr(self.client, "data_cache"):
            self.client.data_cache.close()

    # -- results --------------------------------------------------------------
    def end_to_end(self) -> dict:
        if not self.ingest_rate:
            raise RuntimeError("no timed ingest cycle completed")
        return {
            "query_p50_s": self.b.p50("point"),
            "batch_p50_s": self.b.p50("bulk"),
            "items_per_s": statistics.median(self.ingest_rate),
        }

    def report(self) -> dict:
        out = {}
        if self.ingest_rate:
            out["ingest_rows_per_s"] = (statistics.median(self.ingest_rate), "rows/s")
            out["fresh_p50_s"] = (statistics.median(self.fresh), "s")
        return out
