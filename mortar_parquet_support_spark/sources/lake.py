"""The Parquet timeseries lake: open, scan with pruning, stats, and the
``_metadata`` summary index.

Capability parity with the reference's dataset layer (SURVEY.md §2.1 S4-S7,
§2.2 P5-P7):

- ``TimeseriesLake.open``      <- ``ds.parquet_dataset(f'{bucket}/_metadata',
  partitioning='hive')`` (``/root/reference/mortar-parquet-client/client.py:27``)
- ``TimeseriesLake.scan``      <- the pushed filter ``uuid isin &
  start <= time <= end`` (``client.py:65-72``); Catalyst turns the ``isin``
  on a partition column into directory pruning and the time range into
  row-group stat skipping, the exact optimizations the reference gets from
  the PyArrow scanner (SURVEY.md §4).
- ``write_metadata_summary``   <- ``make-metadata.py:8-22``. Spark itself
  ignores ``_metadata`` on read (and doesn't need it locally: its
  InMemoryFileIndex lists + reads footers in parallel), but the summary file
  keeps the dataset openable by PyArrow/reference clients and kills the
  cold-open footer-fetch storm on object stores at 100 TB (SURVEY §7 R3).

Remote object stores: pass an ``s3a://`` root and set
``spark.hadoop.fs.s3a.endpoint`` / ``...region`` on the session — the S6
connector (``client.py:26``) is configuration, not code, on Spark.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterable, Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Default scan bounds, parity with client.py:67-68.
DEFAULT_START = "2000-01-01T00:00:00Z"
DEFAULT_END = "2100-01-01T00:00:00Z"


def time_range(start=None, end=None) -> Column:
    """P6: inclusive time-range predicate with the reference's defaults
    (client.py:67-70)."""
    start = start or DEFAULT_START
    end = end or DEFAULT_END
    ts = F.col("time")
    return (ts >= F.to_timestamp(F.lit(start))) & (ts <= F.to_timestamp(F.lit(end)))


@dataclass
class TimeseriesLake:
    """A handle on the partitioned Parquet lake (FIXTURES.md F2 schema)."""

    spark: SparkSession
    root: str
    df: DataFrame

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "TimeseriesLake":
        """S5: open the whole lake; Hive partition discovery is automatic."""
        return cls(spark=spark, root=root, df=spark.read.parquet(root))

    def scan(
        self,
        *,
        uuids: Iterable[str] | None = None,
        start=None,
        end=None,
        collections: Iterable[str] | None = None,
    ) -> DataFrame:
        """P5 ∧ P6 ∧ P7: the reference's one pushed scan filter
        (client.py:70), expressed as Catalyst predicates.

        ``uuids`` as a driver-side list keeps partition pruning / stat
        skipping (IN-list pushes to the scan); for huge id sets use
        :meth:`scan_ids` (broadcast semi-join) instead.
        """
        # a bare string is the natural single-stream call, and list('abc')
        # would silently explode it into characters that match nothing
        if isinstance(uuids, str):
            uuids = [uuids]
        if isinstance(collections, str):
            collections = [collections]
        out = self.df.filter(time_range(start, end))
        if uuids is not None:
            out = out.filter(F.col("uuid").isin(list(uuids)))
        if collections is not None:
            out = out.filter(F.col("collection").isin(list(collections)))
        return out

    def scan_ids(
        self, ids: DataFrame, *, start=None, end=None, id_col: str | None = None
    ) -> DataFrame:
        """§2.5 composite at scale: ``left_semi`` against an id DataFrame.

        Broadcast when small keeps it shuffle-free — via the size-guarded
        ``maybe_broadcast`` hint, NOT a forced ``F.broadcast``: this is
        the entry point :meth:`scan` directs "huge id sets" to, and a
        forced hint on a 200M-id frame would hit Spark's 8 GB broadcast
        cap (or OOM the driver) instead of falling back to the shuffle
        semi-join that handles it fine (review r14). If ``ids`` is itself
        the result of a join on the lake's partition column, Spark's
        Dynamic Partition Pruning still prunes directories.

        The id column is the frame's single column, its ``uuid`` column, or
        ``id_col`` — NOT blindly column 0: a multi-column frame like
        (site, uuid) would silently semi-join the lake on the site string
        and match nothing.
        """
        from mortar_parquet_support_spark.plans.hints import maybe_broadcast

        if id_col is None:
            if len(ids.columns) == 1:
                id_col = ids.columns[0]
            elif "uuid" in ids.columns:
                id_col = "uuid"
            else:
                raise ValueError(
                    f"ambiguous id frame (columns {ids.columns}): pass "
                    "id_col= or a single-column frame"
                )
        ids = ids.select(F.col(id_col).alias("uuid")).distinct()
        return self.df.filter(time_range(start, end)).join(
            maybe_broadcast(ids), on="uuid", how="left_semi"
        )

    def to_batches(
        self,
        predicate: Column | None = None,
        *,
        max_rows: int = 1 << 16,
        spill_dir: str | None = None,
    ) -> Iterator:
        """S7 parity: bounded-memory Arrow RecordBatch iteration
        (client.py:65-72's ``to_batches``), columnar end-to-end.

        The predicate is applied by Spark (distributed, pushed down), the
        result is spilled once to a Parquet directory by the cluster, and
        the driver then STREAMS RecordBatches from that spill with the
        PyArrow dataset scanner — the same columnar parquet->batches path
        the reference uses, with zero per-row Python anywhere. Driver
        memory stays bounded by ``max_rows`` regardless of result size;
        the spill is deleted when the iterator is exhausted or closed.

        The spill location must be visible to BOTH the executors (they
        write it) and the driver (it reads it), so it is resolved in
        cluster-safety order:

        1. ``spill_dir`` — caller-supplied shared location (NFS path or
           ``s3a://``; ``s3a://`` is rewritten to ``s3://`` for the
           PyArrow read side). A scheme the driver-side PyArrow scanner
           cannot read (``hdfs://``, ``abfss://``, ``gs://``) raises
           up-front rather than spilling and then crashing the read.
        2. The session's checkpoint directory (the SparkContext's
           ``getCheckpointDir()``) — by Spark's own contract a
           location every node can reach — but ONLY when its scheme is
           PyArrow-readable; an hdfs:// checkpoint dir (the normal
           cluster case) falls through to the rungs below instead of
           failing the whole call (review finding r8).
        3. A driver-local tempdir, ONLY when the master is ``local*``
           (single-process, so local disk IS shared).
        4. Otherwise no shared filesystem is configured: fall back to
           ``toLocalIterator`` with Arrow-serialized partitions — slower
           (one partition at a time over the driver link) but correct and
           still bounded-memory on any cluster.
        """
        df = self.df if predicate is None else self.df.filter(predicate)

        if spill_dir is not None:
            if not _pyarrow_readable(spill_dir):
                raise ValueError(
                    f"spill_dir {spill_dir!r} is not readable by the "
                    "driver-side PyArrow scanner (supported: local paths, "
                    "file://, s3a://); use a supported scheme, or omit "
                    "spill_dir to stream via toLocalIterator"
                )
            return self._batches_via_spill(df, spill_dir, max_rows, local_tmp=False)
        ckpt = self._checkpoint_dir()
        if ckpt is not None and _pyarrow_readable(ckpt):
            return self._batches_via_spill(df, ckpt, max_rows, local_tmp=False)
        if self.spark.sparkContext.master.startswith("local"):
            return self._batches_via_spill(df, None, max_rows, local_tmp=True)
        return _batches_via_local_iterator(df, max_rows)

    def _pyarrow_s3_from_hadoop_conf(self):
        """PyArrow S3FileSystem mirroring the session's ``fs.s3a.*`` Hadoop
        config (endpoint/credentials/region/path-style), so the driver-side
        spill read targets the same object store the executors wrote —
        the endpoint_override idiom of :func:`open_reference_dataset`,
        sourced from the live session instead of arguments. With no custom
        config present this is the default (real-AWS) filesystem."""
        from pyarrow import fs as pafs

        hconf = self.spark.sparkContext._jsc.hadoopConfiguration()
        kwargs = {}
        endpoint = hconf.get("fs.s3a.endpoint")
        if endpoint:
            # Hadoop accepts a bare host:port; PyArrow wants it scheme-
            # qualified — fs.s3a.connection.ssl.enabled picks the scheme
            if "://" not in endpoint:
                ssl = (hconf.get("fs.s3a.connection.ssl.enabled") or "true")
                scheme = "https" if ssl.lower() == "true" else "http"
                endpoint = f"{scheme}://{endpoint}"
            kwargs["endpoint_override"] = endpoint
        access = hconf.get("fs.s3a.access.key")
        secret = hconf.get("fs.s3a.secret.key")
        if access and secret:
            kwargs["access_key"] = access
            kwargs["secret_key"] = secret
        # STS temporary credentials carry a third leg: without it the
        # executor write succeeds but the driver read 403s
        token = hconf.get("fs.s3a.session.token")
        if token:
            kwargs["session_token"] = token
        region = hconf.get("fs.s3a.endpoint.region")
        if region:
            kwargs["region"] = region
        if (hconf.get("fs.s3a.path.style.access") or "").lower() == "true":
            kwargs["force_virtual_addressing"] = False
        return pafs.S3FileSystem(**kwargs)

    def _checkpoint_dir(self) -> str | None:
        """The session's checkpoint dir, if one was configured."""
        try:
            opt = self.spark.sparkContext._jsc.sc().getCheckpointDir()
            return opt.get() if opt.isDefined() else None
        except Exception:
            return None

    def _batches_via_spill(
        self, df: DataFrame, spill_root: str | None, max_rows: int, *, local_tmp: bool
    ) -> Iterator:
        import shutil
        import tempfile
        import uuid as _uuid

        import pyarrow.dataset as pads

        def gen() -> Iterator:
            if local_tmp:
                spill = tempfile.mkdtemp(prefix="lake_batches_")
            else:
                spill = spill_root.rstrip("/") + "/lake_batches_" + _uuid.uuid4().hex
            # a BARE path is ambiguous between the two sides: the Spark
            # write resolves it against fs.defaultFS (hdfs:// on a normal
            # cluster) while the driver-side PyArrow read resolves it
            # against the local filesystem — qualify it as file:// so both
            # sides target the shared mount the caller meant (the NFS
            # usage the docstring documents; review r14)
            write_path = (
                "file://" + spill
                if "://" not in spill and not spill.startswith("file:")
                else spill
            )
            try:
                # pin the parquet timestamp encoding for the spill write:
                # the session default (INT96 on a stock Spark 4 session)
                # reads back as ns-precision tz-naive, which would make
                # this path's batch schema differ from the
                # toLocalIterator fallback's (timestamp[us, UTC]) — the
                # two rungs must yield identically-typed batches
                # regardless of which fired (review r14; this project's
                # get_spark already pins MICROS, user sessions may not)
                prev_tt = self.spark.conf.get(
                    "spark.sql.parquet.outputTimestampType", "INT96"
                )
                self.spark.conf.set(
                    "spark.sql.parquet.outputTimestampType",
                    "TIMESTAMP_MICROS",
                )
                try:
                    df.write.mode("overwrite").parquet(write_path)
                finally:
                    self.spark.conf.set(
                        "spark.sql.parquet.outputTimestampType", prev_tt
                    )
                # PyArrow speaks s3:// where Hadoop speaks s3a://, and wants
                # a bare path for local file:// URIs.
                read_path = spill.replace("s3a://", "s3://", 1)
                if read_path.startswith("file:"):
                    # Hadoop renders local URIs as file:/p, file:///p, ...;
                    # PyArrow wants the bare path.
                    read_path = "/" + read_path[len("file:"):].lstrip("/")
                if read_path.startswith("s3://"):
                    # custom-endpoint object stores: the EXECUTORS write the
                    # spill through the session's fs.s3a.* config, so the
                    # driver-side PyArrow read must resolve against the SAME
                    # endpoint/credentials — a bare s3:// URI would go to
                    # real AWS with default credentials (wrong store, or a
                    # same-named bucket) while the finally block deletes
                    # the actual spill
                    s3fs = self._pyarrow_s3_from_hadoop_conf()
                    dataset = pads.dataset(
                        read_path[len("s3://"):], format="parquet",
                        filesystem=s3fs,
                    )
                else:
                    dataset = pads.dataset(read_path, format="parquet")
                yield from dataset.to_batches(batch_size=max_rows)
            finally:
                if local_tmp:
                    shutil.rmtree(spill, ignore_errors=True)
                else:
                    _rm_shared(self.spark, write_path)

        return gen()

    def register(self, name: str, *, analyze: bool = True) -> None:
        """S4/O6 stand-in: register as a catalog table + collect stats so
        repeated opens skip file listing and CBO sees row counts
        (SURVEY.md §4 '_metadata' row)."""
        self.df.createOrReplaceTempView(name)
        if analyze:
            try:
                self.spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
            except Exception:
                pass  # temp views can't always be analyzed; stats are advisory


def _pyarrow_readable(path: str) -> bool:
    """Whether the driver-side PyArrow dataset scanner can read this
    location: bare local paths, ``file:``, and ``s3``/``s3a`` (credentials
    mirrored from the session's Hadoop conf). ``hdfs://``/``abfss://``/
    ``gs://`` are executor-reachable but not driver-PyArrow-readable
    here (no libhdfs / cloud SDKs in the Python driver)."""
    if "://" not in path and not path.startswith("file:"):
        return True
    return path.startswith(("file:", "s3://", "s3a://"))


def _batches_via_local_iterator(df: DataFrame, max_rows: int) -> Iterator:
    """Shared-filesystem-free S7 fallback: stream the result through the
    driver link with ``toLocalIterator`` and re-batch rows into Arrow
    RecordBatches of at most ``max_rows``.

    Slower than the spill path (partitions arrive serially over the driver
    connection) but correct on ANY cluster topology and still bounded:
    driver memory holds one Spark partition plus one ``max_rows`` buffer at
    a time. Schema conversion goes through the same Spark->Arrow mapping
    the spill path gets from parquet, so both paths yield identically-typed
    batches."""
    import pyarrow as pa

    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(df.schema)

    def gen() -> Iterator:
        buf: list = []
        for row in df.toLocalIterator(prefetchPartitions=True):
            buf.append(row)
            if len(buf) >= max_rows:
                yield _rows_to_batch(buf, schema, pa)
                buf = []
        if buf:
            yield _rows_to_batch(buf, schema, pa)

    return gen()


def _rows_to_batch(rows: list, schema, pa):
    """Build one Arrow RecordBatch from buffered Rows, column-wise.

    Timestamp care: ``toLocalIterator`` yields TIMESTAMP (LTZ) values as
    NAIVE datetimes in the DRIVER's local timezone, while the Arrow schema
    annotates those fields ``timestamp[us, tz=UTC]`` — storing the naive
    wall-clock as-is would shift every instant by the driver's UTC offset
    on any non-UTC driver. ``astimezone(utc)`` on a naive datetime
    interprets it as driver-local time and normalizes to the true UTC
    instant, so both ``to_batches`` paths yield identical values no matter
    where the driver runs. tz-less fields (TIMESTAMP_NTZ) pass through
    untouched."""
    from datetime import timezone

    columns = []
    for i, field in enumerate(schema):
        values = [row[i] for row in rows]
        if pa.types.is_timestamp(field.type) and field.type.tz is not None:
            values = [
                v.astimezone(timezone.utc)
                if v is not None and v.tzinfo is None
                else v
                for v in values
            ]
        columns.append(pa.array(values, type=field.type))
    return pa.RecordBatch.from_arrays(columns, schema=schema)


def _rm_shared(spark: SparkSession, path: str) -> None:
    """Delete a spill directory on whatever filesystem ``path`` lives on
    (HDFS / s3a / NFS), via Hadoop's FileSystem so the scheme is honored.
    The owning session is passed explicitly — ``getActiveSession()`` is
    thread-local and returns None off the creating thread, which would
    silently leak the spill."""
    try:
        jvm = spark._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        fs.delete(jpath, True)
    except Exception:
        pass  # best-effort cleanup; an orphaned spill dir is not a correctness issue


def _footer_rel_path(frag_path: str, root: str, norm_root: str,
                     local: bool) -> str:
    """The rel path recorded in ``_metadata`` for one fragment — ONE
    definition shared by the driver loop and the distributed collector
    so the two paths cannot diverge on path normalization."""
    import posixpath
    from pathlib import Path

    if local:
        return str(Path(frag_path).relative_to(Path(root)))
    return posixpath.relpath(frag_path, norm_root)


# files per footer-collection task: big enough to amortize task launch,
# small enough that a 1000-executor cluster fans out (tests shrink it to
# exercise multi-slice merges on small lakes)
_FOOTER_SLICE_FILES = 256


def _collect_footers_distributed(spark, files, root, norm_root, filesystem):
    """Executor-side footer collection for :func:`write_metadata_summary`
    (VERDICT r15 "Next round" #4): each task reads a CONTIGUOUS ordered
    slice of fragment footers, sets rel paths, merges the slice into one
    partial FileMetaData, and ships it back as footer BYTES; the driver
    deserializes K partials (K ~ slice count, not file count) and merges
    them in slice order — byte-identical output to the serial loop,
    pinned by tests/test_ingest_lake.py. The expensive part at millions
    of files — one remote footer READ per fragment — is what distributes;
    the final merge is inherent to writing one ``_metadata`` file.

    ``filesystem`` (a pyarrow FileSystem) pickles to executors; None
    means local paths readable everywhere (driver and executors share
    the filesystem on local mode and on any shared-FS cluster; on a real
    object store the caller passes the filesystem explicitly anyway).
    """
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    local = filesystem is None
    slice_size = _FOOTER_SLICE_FILES
    indexed = [(i // slice_size, i, p) for i, p in enumerate(files)]
    sdf = spark.createDataFrame(indexed, "slice long, idx long, path string")

    def merge_slice(key, pdf):
        pdf = pdf.sort_values("idx")
        merged = None
        rows = 0
        for p in pdf["path"]:
            meta = (
                pq.read_metadata(p) if local
                else pq.read_metadata(p, filesystem=filesystem)
            )
            meta.set_file_path(_footer_rel_path(p, root, norm_root, local))
            rows += meta.num_rows  # BEFORE merge: append mutates merged
            if merged is None:
                merged = meta
            else:
                merged.append_row_groups(meta)
        buf = pa.BufferOutputStream()
        merged.write_metadata_file(buf)
        return pd.DataFrame({
            "slice": [key[0]],
            "rows": [rows],
            "footer": [buf.getvalue().to_pybytes()],
        })

    parts = (
        sdf.groupBy("slice")
        .applyInPandas(merge_slice, "slice long, rows long, footer binary")
        .collect()
    )
    parts.sort(key=lambda r: r["slice"])
    collector = [
        pq.read_metadata(pa.BufferReader(r["footer"])) for r in parts
    ]
    return collector, sum(r["rows"] for r in parts)


def write_metadata_summary(
    root: str, *, filesystem=None, spark=None, distribute_threshold: int = 512
) -> dict:
    """S4: write ``_metadata`` + ``_common_metadata`` summary files for the
    dataset at ``root`` so one footer read opens the whole lake.

    Functional equivalent of ``/root/reference/make-metadata.py:8-22``,
    written against the public PyArrow dataset API. Differences: skips
    Spark's ``_SUCCESS``/checksum droppings, returns a stats dict instead of
    printing, and validates by re-opening the index it just wrote.

    Object-store roots need an explicit ``filesystem`` (e.g.
    ``pyarrow.fs.S3FileSystem(endpoint_override=...)`` — the same one
    :func:`open_reference_dataset` takes) plus a bucket-relative root;
    a ``scheme://`` root without one is rejected up front because pathlib
    would silently mangle it ('s3a://b/p' -> 's3a:/b/p') into a
    nonexistent local path (review finding r8).

    Footer collection is the reference-parity path's one O(files) driver
    loop (`/root/reference/make-metadata.py:13-18` has the identical
    shape at 2 files; this will be asked at millions). Pass ``spark=``
    and any lake past ``distribute_threshold`` fragments reads footers
    on EXECUTORS (contiguous ordered slices merged into per-task partial
    footers — :func:`_collect_footers_distributed`), byte-identical to
    the driver loop. Without ``spark=`` the loop stays driver-side and a
    lake past the threshold warns with the remediation.

    The distributed path pays a few seconds of Spark job overhead, so it
    wins where footer reads are REMOTE RPCs (object stores, millions of
    files) — on a fast local FS the driver loop is quicker well past the
    threshold (measured r16: 640 local fragments, 0.08s serial vs 3.3s
    distributed, outputs byte-identical); raise ``distribute_threshold``
    there if you pass ``spark=`` unconditionally.
    """
    import warnings

    import pyarrow.dataset as pads
    import pyarrow.parquet as pq

    if filesystem is None and "://" in root:
        raise ValueError(
            f"root {root!r} has a URI scheme: pass filesystem= (e.g. "
            "pyarrow.fs.S3FileSystem) and a bucket-relative root, the way "
            "open_reference_dataset does"
        )
    dataset = pads.dataset(
        root, format="parquet", partitioning="hive", filesystem=filesystem
    )
    norm_root = root.rstrip("/")
    files = list(dataset.files)
    if not files:
        raise ValueError(f"no parquet fragments under {root}")
    if spark is not None and len(files) > distribute_threshold:
        # collector holds per-slice PARTIALS here (each already a merge
        # of its slice's footers) — summing their num_rows below still
        # totals correctly, and the fragment count reports len(files)
        collector, _ = _collect_footers_distributed(
            spark, files, root, norm_root, filesystem
        )
    else:
        if spark is None and len(files) > distribute_threshold:
            warnings.warn(
                f"write_metadata_summary: reading {len(files)} fragment "
                "footers in the DRIVER — pass spark= to distribute footer "
                "reads across executors (or raise distribute_threshold to "
                "silence this on purpose)",
                stacklevel=2,
            )
        collector = []
        for fragment in dataset.get_fragments():
            meta = fragment.metadata
            meta.set_file_path(_footer_rel_path(
                fragment.path, root, norm_root, filesystem is None
            ))
            collector.append(meta)
    # full (partition-augmented) schema for _common_metadata; for _metadata
    # merge the real footers directly (regenerating a parquet schema from the
    # arrow schema can flip physical encodings, e.g. timestamp INT64 -> INT96)
    pq.write_metadata(
        dataset.schema, norm_root + "/_common_metadata", filesystem=filesystem
    )
    # count BEFORE merging: append_row_groups mutates collector[0] (it IS
    # `merged`), so summing afterwards would double-count — the first
    # fragment's merged total plus every other fragment again
    total_rows = sum(m.num_rows for m in collector)
    merged = collector[0]
    for meta in collector[1:]:
        merged.append_row_groups(meta)
    if filesystem is None:
        merged.write_metadata_file(norm_root + "/_metadata")
    else:
        with filesystem.open_output_stream(norm_root + "/_metadata") as out:
            merged.write_metadata_file(out)
    reopened = pads.parquet_dataset(
        norm_root + "/_metadata", partitioning="hive", filesystem=filesystem
    )
    return {
        "fragments": len(files),
        "rows": total_rows,
        "columns": reopened.schema.names,
    }


def open_reference_dataset(
    root: str,
    *,
    s3_endpoint: str | None = None,
    s3_region: str | None = None,
    anonymous: bool = False,
):
    """Open a lake the way the REFERENCE client does — one ``_metadata``
    footer read through PyArrow, locally or over S3
    (``/root/reference/mortar-parquet-client/client.py:26-27``:
    ``fs.S3FileSystem(endpoint_override=…)`` +
    ``ds.parquet_dataset(f'{bucket}/_metadata', partitioning='hive')``).

    This is the interop contract of :func:`write_metadata_summary`: any
    lake this engine writes must stay openable by reference/PyArrow
    clients from an object store without listing the directory tree.
    Returns the PyArrow dataset (``.to_table()``, ``.to_batches()``,
    filterable). ``root`` is ``bucket/prefix`` when an S3 endpoint is
    given, else a local path."""
    import pyarrow.dataset as pads

    if s3_endpoint is None:
        return pads.parquet_dataset(
            root.rstrip("/") + "/_metadata", partitioning="hive"
        )
    from pyarrow import fs as pafs

    s3 = pafs.S3FileSystem(
        endpoint_override=s3_endpoint,  # scheme-qualified, e.g. http://…:9000
        region=s3_region or "us-east-1",
        anonymous=anonymous,
    )
    return pads.parquet_dataset(
        root.rstrip("/") + "/_metadata", partitioning="hive", filesystem=s3
    )
