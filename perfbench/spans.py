"""Spans and Spark counters recorded around the benchmark's calls into each
layer of the package.

A span is one public call: name, start, end, parent span and the id of the
operation (one query, cycle or pass) it belongs to. Each span runs its Spark
jobs under a job group of its own, so the jobs, stages and tasks it caused
are read back from ``SparkContext.statusTracker()`` when it ends; a parent
span's counts include its children's. Spans stay in memory and are written
out once, at exit. With tracing off every call is a no-op.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager


# every per-layer metric -> unit. A layer a workload leaves idle reports 0.
LAYERS = {
    "session.start_s": "s",
    "ttl.load_s": "s",
    "ttl.triples": "count",
    "sparql.construct_s": "s",
    "sparql.bind_s": "s",
    "sparql.jobs": "count",
    "sparql.stages": "count",
    "client.bridge_s": "s",
    "client.jobs": "count",
    "client.ids": "count",
    "lake.scan_s": "s",
    "lake.tasks": "count",
    "lake.rows_read_per_row_returned": "ratio",
    "lake.open_s": "s",
    "lake.fresh_s": "s",
    "sinks.to_pandas_s": "s",
    "sinks.to_local_csv_s": "s",
    "sinks.to_duckdb_s": "s",
    "sinks.rows_per_s": "1/s",
    "ingest.call_s": "s",
    "ingest.jobs": "count",
    "ingest.files_written": "count",
    "ingest.rows": "count",
    "metadata.write_s": "s",
    "metadata.fragments": "count",
    "compact.s": "s",
    "compact.files_before": "count",
    "compact.files_after": "count",
    "lake.stored_bytes_per_csv_byte": "ratio",
    "corpus.quarantine_s": "s",
    "corpus.quarantined": "count",
    "curate.s": "s",
    "curate.jobs": "count",
    "curate.kept_share": "ratio",
    "curate.drops.language": "count",
    "curate.drops.contaminated": "count",
    "curate.drops.near_duplicate": "count",
    "dedup.minhash_s": "s",
    "dedup.jobs": "count",
    "dedup.candidate_pairs": "count",
    "dedup.verified_pairs": "count",
    "dedup.verify_yield": "ratio",
    "bpe.train_s": "s",
    "bpe.jobs": "count",
    "tokenize.s": "s",
    "tokenize.jobs": "count",
    "pack.bins": "count",
    "pack.fill": "ratio",
    "knn.brute_s": "s",
    "knn.jobs": "count",
    "ivf.build_s": "s",
    "ivf.probe_s": "s",
    "ivf.recall_at_k": "ratio",
    "spark.failed_tasks": "count",
    "driver.peak_rss_mb": "MB",
    "host.steal_share": "ratio",
    "trace.overhead_share": "ratio",
}


class _Off(dict):
    """What an untraced span yields: keeps nothing, reads as zero."""

    def __setitem__(self, key, value):
        pass

    def __missing__(self, key):
        return 0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list = []
        self.samples = defaultdict(list)
        self.overhead_s = 0.0
        self._stack: list = []
        self._op = None
        self._next = 0

    # -- operations and samples --------------------------------------------
    @contextmanager
    def op(self, name: str):
        """Mark the spans inside as one operation (shared op id)."""
        prev, self._op = self._op, f"{name}-{self._next}"
        self._next += 1
        try:
            yield
        finally:
            self._op = prev

    def add(self, metric: str, value: float) -> None:
        if self.enabled:
            self.samples[metric].append(float(value))

    def median(self, metric: str) -> float:
        """Median of a per-layer sample; 0 when the layer was idle."""
        vals = self.samples.get(metric)
        return statistics.median(vals) if vals else 0.0

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        """Time one call; yields a dict that receives the span's ``s`` (wall
        seconds), ``jobs``, ``stages``, ``tasks``, ``failed_tasks`` and
        ``input_records`` once the block ends."""
        if not self.enabled:
            yield _Off()
            return
        t0 = time.perf_counter()
        sid = self._next
        self._next += 1
        group = f"perfbench-span-{sid}"
        rec = {
            "id": sid,
            "name": name,
            "op": self._op,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0, "input_records": 0,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(group, name)
        start = time.perf_counter()
        self.overhead_s += start - t0
        try:
            yield rec
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self._count(group, rec)
            if self._stack:
                parent = self._stack[-1]
                for key in ("jobs", "stages", "tasks", "failed_tasks", "input_records"):
                    parent[key] += rec[key]
                self.sc.setJobGroup(f"perfbench-span-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            rec["start"], rec["end"], rec["s"] = start, end, end - start
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - end

    def _count(self, group: str, rec: dict) -> None:
        # job and stage events reach the status store through the listener
        # bus, asynchronously; without the wait the span's last job may not
        # be counted yet
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        for jid in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(jid)
            if job is None:
                continue
            rec["jobs"] += 1
            for stage_id in job.stageIds:
                info = tracker.getStageInfo(stage_id)
                if info is None or info.numCompletedTasks == 0:
                    continue  # skipped: its shuffle output was reused
                rec["stages"] += 1
                rec["tasks"] += info.numTasks
                rec["failed_tasks"] += info.numFailedTasks
                rec["input_records"] += store.lastStageAttempt(stage_id).inputRecords()

    def shares(self, timed: dict) -> dict:
        """For each timed op class in ``timed``: the share of its ops' span
        time that each outermost span name took, largest first."""
        out = {}
        for cls in timed:
            per = defaultdict(float)
            for sp in self.spans:
                if sp["parent"] is None and sp["op"] and sp["op"].rsplit("-", 1)[0] == cls:
                    per[sp["name"]] += sp["s"]
            total = sum(per.values())
            if total:
                out[cls] = {k: v / total for k, v in sorted(per.items(), key=lambda kv: -kv[1])}
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "samples": self.samples}, fh)
