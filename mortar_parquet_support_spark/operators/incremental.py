"""Incremental (cross-batch) exact dedup against a persisted digest index.

Not in the reference (SURVEY.md §2.6 declares the dedup family absent);
required by the driver north star (BASELINE.json:6). :mod:`dedup` handles
one corpus in one pass; a production ingestion pipeline instead sees an
endless sequence of batches and must answer "which of these documents have
we EVER seen?" without rescanning — or worse, re-shuffling — the
accumulated corpus. The 100 TB shape here:

- The **seen set** is a :class:`DigestIndex`: content digests laid out as
  parquet partitioned by a stable shard of the digest, plus per-shard
  Bloom-filter segments (small, mergeable by bitwise OR).
- **Probe** (:func:`incremental_dedup`) never shuffles either side:

  1. a vectorized Bloom test (numpy over JVM-computed xxhash64 pairs,
     Arrow-batched) splits the batch map-side. Bloom misses are
     *definitely new* — for a mostly-novel batch that is almost everyone —
     and skip the index entirely.
  2. the few *maybe-seen* digests are broadcast into a semi-join against
     the index, so the index is hash-probed in place — one scan, no
     shuffle — and shard-partition pruning cuts that scan to the shards
     the candidates actually hash into (the partition column is a join
     key, so Catalyst can prune dynamically from the broadcast side).
  3. confirmed-seen digests (a subset of the candidates, so also tiny)
     are broadcast back as an anti-join on the batch. Exact result: the
     Bloom filter only ever *skips* work for definite-new rows, it never
     decides membership (no false-negative risk by construction; false
     positives are caught by step 2).

- **Append** (:meth:`DigestIndex.add`) writes the new digests into their
  shard partitions and appends one Bloom *segment* row per shard. Segments
  avoid read-modify-write races on the filter: the loader ORs all segments
  of a shard (legal because ``m``/``k`` are fixed per index at create
  time). The false-positive rate degrades gracefully as the index outgrows
  ``capacity`` — membership answers stay exact either way (step 2) — and
  :meth:`DigestIndex.stats` reports the estimated FPR so operators know
  when to :meth:`DigestIndex.compact`.

Determinism: shard and Bloom positions derive from xxhash64 with fixed
salts, computed JVM-side in both build and probe, so the filter bits are
reproducible bit-for-bit across sessions and cluster sizes.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_DIGESTS = "digests"
_BLOOM = "bloom"
_META = "meta"

_BLOOM_SCHEMA = StructType(
    [
        StructField("shard", IntegerType()),
        StructField("m", LongType()),
        StructField("k", IntegerType()),
        StructField("n_items", LongType()),
        StructField("bitmap", BinaryType()),
    ]
)


def _hash_cols(digest: Column) -> list[Column]:
    """(h1, h2) for a digest, feeding Kirsch-Mitzenmacher double hashing
    (pos_i = h1 + i*h2 mod m, arithmetic in uint64). The shard hash is
    salted differently so shard and bit positions stay independent. All
    JVM-side, so build and probe agree bit-for-bit."""
    return [
        F.xxhash64(digest).alias("_h1"),
        F.xxhash64(digest, F.lit("bloom:h2")).alias("_h2"),
    ]


def _shard_col(digest: Column, n_shards: int) -> Column:
    return F.pmod(F.xxhash64(digest, F.lit("bloom:shard")), F.lit(n_shards)).cast(
        "int"
    )


def _segment_builder(m: int, k: int):
    """applyInPandas function: one shard group -> one Bloom segment row.
    Executor-side numpy; np.bitwise_or.at handles position collisions
    within a batch (plain fancy-indexed |= would drop repeated bytes)."""
    import numpy as np
    import pandas as pd

    def build_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        h1 = pdf["_h1"].to_numpy(dtype=np.int64).view(np.uint64)
        h2 = pdf["_h2"].to_numpy(dtype=np.int64).view(np.uint64)
        bits = np.zeros(m // 8, dtype=np.uint8)
        for i in range(k):
            pos = (h1 + np.uint64(i) * h2) % np.uint64(m)
            np.bitwise_or.at(
                bits,
                (pos >> np.uint64(3)).astype(np.int64),
                (np.uint64(1) << (pos & np.uint64(7))).astype(np.uint8),
            )
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "m": [m],
                "k": [k],
                "n_items": [len(pdf)],
                "bitmap": [bits.tobytes()],
            }
        )

    return build_segment


def _is_missing_path(exc: Exception) -> bool:
    get_klass = getattr(exc, "getErrorClass", None)
    klass = None
    if callable(get_klass):
        try:
            klass = get_klass()
        except Exception:
            klass = None
    msg = str(exc)
    return (
        klass == "PATH_NOT_FOUND"
        or "PATH_NOT_FOUND" in msg
        or "Path does not exist" in msg
    )


class DigestIndex:
    """Persisted seen-digest index: sharded digest parquet + mergeable
    per-shard Bloom segments. Build offline / append per batch / probe
    per batch — the amortized serving shape (same split as
    similarity.py's IvfIndex build/probe).

    Concurrency contract (two streams sharing one index path):

    - **Concurrent add() from separate processes is STORAGE-safe.**
      Every append writes NEW uniquely-named part files (Spark append
      mode never rewrites existing data) and Bloom segments are designed
      to be OR-merged at load, so interleaved appends from two writers
      commute: a reader that re-opens afterwards sees the union, in any
      interleaving (pinned by
      tests/test_incremental.py::test_interleaved_writers_commute).
      Overlapping digests across writers merely duplicate rows — the
      probe's semi-join tolerates multiplicity by construction.
    - **The warm Bloom cache is per-OBJECT, not per-path.** Appends made
      by another process (or a second DigestIndex over the same path)
      are invisible to this handle until re-opened; a PROBE through a
      stale handle would pass the other writer's duplicates as
      definitely-new. So: concurrent appenders fine, but the prober must
      re-open (or be the sole writer) to see everything.
    - **compact() requires exclusivity.** It rewrites in place with
      ``mode("overwrite")``; an append racing a compaction can be lost
      with filesystem-dependent semantics. Schedule it like any other
      lake maintenance (maintenance.py), never concurrently with
      writers."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        n_shards: int,
        m_per_shard: int,
        n_hashes: int,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.n_shards = n_shards
        self.m_per_shard = m_per_shard
        self.n_hashes = n_hashes
        self._bloom_cache: dict | None = None

    # -- lifecycle ---------------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        *,
        n_shards: int = 64,
        capacity: int = 1_000_000,
        bits_per_item: int = 10,
        n_hashes: int = 7,
    ) -> "DigestIndex":
        """Initialize an empty index. ``capacity`` is the expected TOTAL
        digest count; it fixes the Bloom geometry (m bits per shard) so
        later append segments stay OR-mergeable. 10 bits/item with k=7
        gives ~0.9% FPR at capacity; overfilling only raises FPR (more
        verify-join traffic), never breaks correctness."""
        per_shard = -(-bits_per_item * capacity // n_shards)  # ceil
        m = max(64, (per_shard + 7) & ~7)  # whole bytes
        idx = cls(
            spark, path, n_shards=n_shards, m_per_shard=m, n_hashes=n_hashes
        )
        # Meta as a 1-row parquet (not a driver-local json): works on any
        # Hadoop filesystem the session can write, e.g. s3a:// lakes.
        from mortar_parquet_support_spark.functions import tiny_frame

        tiny_frame(
            spark,
            [(n_shards, m, n_hashes)],
            "n_shards int, m_per_shard long, n_hashes int",
        ).write.mode("errorifexists").parquet(idx._p(_META))
        return idx

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "DigestIndex":
        row = spark.read.parquet(path.rstrip("/") + "/" + _META).head()
        return cls(
            spark,
            path,
            n_shards=row.n_shards,
            m_per_shard=row.m_per_shard,
            n_hashes=row.n_hashes,
        )

    def _p(self, part: str) -> str:
        return f"{self.path}/{part}"

    # -- reads -------------------------------------------------------------

    def digests(self) -> DataFrame:
        """(digest, shard) frame; empty (same schema) before the first add.
        The explicit schema keeps the shard partition column typed int and
        tolerates an index with no segments yet."""
        try:
            return (
                self.spark.read.option("basePath", self._p(_DIGESTS))
                .schema("digest string, shard int")
                .parquet(self._p(_DIGESTS))
            )
        except Exception as exc:  # fresh index: no digests written yet
            if not _is_missing_path(exc):
                raise
            from mortar_parquet_support_spark.functions import tiny_frame

            return tiny_frame(self.spark, [], "digest string, shard int")

    def _blooms(self) -> dict:
        """shard -> uint8 bitmap, OR-merged across segments, memoized per
        index object. The whole filter is m_per_shard/8 * n_shards bytes
        (e.g. ~80 MB for 64M items at 10 bits/item) — small by design;
        collecting THE FILTER (never the data) to the driver for broadcast
        is the same shape Spark's own runtime-filter injection uses."""
        if self._bloom_cache is None:
            import numpy as np

            merged: dict = {}
            try:
                rows = (
                    self.spark.read.schema(_BLOOM_SCHEMA)
                    .parquet(self._p(_BLOOM))
                    .collect()
                )
            except Exception as exc:
                if not _is_missing_path(exc):
                    raise
                rows = []
            for r in rows:
                if r.m != self.m_per_shard or r.k != self.n_hashes:
                    raise ValueError(
                        f"bloom segment geometry (m={r.m}, k={r.k}) does not "
                        f"match index meta (m={self.m_per_shard}, "
                        f"k={self.n_hashes}); rebuild with compact()"
                    )
                seg = np.frombuffer(r.bitmap, dtype=np.uint8)
                if r.shard in merged:
                    merged[r.shard] = merged[r.shard] | seg
                else:
                    merged[r.shard] = seg
            self._bloom_cache = merged
        return self._bloom_cache

    def stats(self) -> dict:
        """Size + estimated Bloom FPR (1 - e^{-kn/m})^k with n = the
        fullest shard's stored digests. Watch est_fpr to schedule
        compact() (after which n counts distinct digests again)."""
        per_shard = {
            r.shard: r.n
            for r in self.digests()
            .groupBy("shard")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        worst = max(per_shard.values(), default=0)
        k, m = self.n_hashes, self.m_per_shard
        fpr = (1.0 - math.exp(-k * worst / m)) ** k if worst else 0.0
        return {
            "n_digests": sum(per_shard.values()),
            "n_shards": self.n_shards,
            "m_per_shard": m,
            "n_hashes": k,
            "worst_shard_items": worst,
            "est_fpr": fpr,
        }

    # -- writes ------------------------------------------------------------

    def _prepared(self, d: DataFrame) -> DataFrame:
        return d.withColumn(
            "shard", _shard_col(F.col("digest"), self.n_shards)
        ).select("digest", "shard", *_hash_cols(F.col("digest")))

    def add(
        self, digests: DataFrame | Column, source: DataFrame | None = None
    ) -> int:
        """Append digests (a 1-column DataFrame of strings, or a Column
        expression over ``source``) and their Bloom segment rows. Returns
        the number of digests written (post in-batch distinct; digests the
        index already holds are NOT re-filtered here — semi-join
        correctness tolerates multiplicity, and the usual caller appends
        :func:`incremental_dedup` survivors, which are new by
        construction). One shuffle on the digest (the distinct), then
        map-side partitioned writes."""
        if isinstance(digests, Column):
            if source is None:
                raise ValueError("a Column digest needs the source DataFrame")
            d = source.select(digests.cast("string").alias("digest"))
        else:
            col = digests.columns[0]
            d = digests.select(F.col(col).cast("string").alias("digest"))
        d = self._prepared(d.filter(F.col("digest").isNotNull()).distinct())
        # Shard-aligned partitioning BEFORE the barrier: the partitionBy
        # write then emits one file per shard per append (not one per
        # task per shard — the small-files failure mode at scale), and
        # the bloom groupBy reuses the same hash partitioning instead of
        # shuffling again.
        d = d.repartition(self.n_shards, F.col("shard"))
        # Both the digest write and the bloom build consume `d`; the
        # barrier also pins the distinct so the two passes agree. (The
        # checkpoint blocks release at GC via the ContextCleaner — local
        # checkpoints have no deterministic-release API.)
        d = d.localCheckpoint(eager=True)
        # The new segments come to the driver once (n_shards rows — the
        # same bytes _blooms() would collect anyway) so they can BOTH be
        # appended to the segment table and OR-merged straight into the
        # warm cache: a long-lived writer (stream_incremental_dedup)
        # would otherwise re-collect the entire ever-growing segment
        # table on every batch, O(batches^2) cumulative driver reads.
        import numpy as np

        seg_rows = (
            d.groupBy("shard")
            .applyInPandas(
                _segment_builder(self.m_per_shard, self.n_hashes), _BLOOM_SCHEMA
            )
            .collect()
        )
        # Bloom FIRST: a crash between the two appends must degrade
        # fail-safe. Orphaned Bloom bits only cost extra verify-join
        # candidates; digests without bits would let the prefilter wave
        # known duplicates through as definitely-new — a silent
        # exactness break.
        from mortar_parquet_support_spark.functions import tiny_frame

        tiny_frame(self.spark, seg_rows, _BLOOM_SCHEMA).write.mode(
            "append"
        ).parquet(self._p(_BLOOM))
        d.select("digest", "shard").write.partitionBy("shard").mode(
            "append"
        ).parquet(self._p(_DIGESTS))
        if self._bloom_cache is not None:
            for r in seg_rows:
                seg = np.frombuffer(r.bitmap, dtype=np.uint8)
                cur = self._bloom_cache.get(r.shard)
                self._bloom_cache[r.shard] = seg if cur is None else cur | seg
        return d.count()

    def compact(self) -> None:
        """Rewrite the shards digest-distinct with one segment per shard:
        restores the designed FPR after heavy appends and collapses the
        bloom table to n_shards rows. The localCheckpoint pins the old
        contents before the in-place overwrite; the overwrite itself is
        only as atomic as the underlying filesystem rename, so schedule
        compaction like any other lake maintenance (maintenance.py), not
        concurrently with appends."""
        d = self._prepared(self.digests().distinct()).localCheckpoint(eager=True)
        d.select("digest", "shard").write.partitionBy("shard").mode(
            "overwrite"
        ).parquet(self._p(_DIGESTS))
        d.groupBy("shard").applyInPandas(
            _segment_builder(self.m_per_shard, self.n_hashes), _BLOOM_SCHEMA
        ).write.mode("overwrite").parquet(self._p(_BLOOM))
        self._bloom_cache = None


class MinHashIndex:
    """Persisted NEAR-dup index — the fuzzy sibling of :class:`DigestIndex`
    for the same incremental-ingestion question: "is this document a
    near-duplicate of anything we have EVER ingested?". Layout:

    - ``buckets``: (id, band, bucket) LSH rows, directory-partitioned by
      (band, bucket shard) so a probe's candidate buckets prune the scan;
    - ``sigs``: (id, sig array<long>) — the num_perm minhash components,
      kept so matches verify by signature agreement (the unbiased
      Jaccard estimator mean(sig_a[i] == sig_b[i])) WITHOUT storing or
      re-reading document text; partitioned by a stable shard of the id
      (the DigestIndex layout) so the verify leg also prunes to the
      matched ids' shards;
    - ``meta``: the (num_perm, bands, shingle_words, seed) bucket-space
      parameters; both sides of every probe derive from them, so batch
      and index buckets are compatible by construction
      (dedup.band_hashes is the single bucket-space definition).

    Probe shape mirrors DigestIndex: the batch side is small, so its
    distinct candidate buckets broadcast into a pruned scan of the bucket
    table, matched index ids broadcast into a pruned scan of the sig
    table, and the survivors anti-join is broadcast too — the index is
    never shuffled. Same concurrency contract as DigestIndex: concurrent
    add()s commute (append-only part files; bucket/sig rows are
    union-semantics), probers must re-open to observe other writers, and
    compact() requires exclusivity.

    Empty/NULL-text documents have no signature (see minhash_signatures)
    and therefore always survive a fuzzy probe — route them through the
    exact :class:`DigestIndex` instead, as the batch operators do."""

    def __init__(self, spark: SparkSession, path: str, *, num_perm: int,
                 bands: int, shingle_words: int, seed: int,
                 n_bucket_shards: int = 16):
        self.spark = spark
        self.path = path.rstrip("/")
        self.num_perm = num_perm
        self.bands = bands
        self.shingle_words = shingle_words
        self.seed = seed
        self.n_bucket_shards = n_bucket_shards

    @classmethod
    def create(cls, spark: SparkSession, path: str, *, num_perm: int = 64,
               bands: int = 16, shingle_words: int = 3, seed: int = 42,
               n_bucket_shards: int = 16) -> "MinHashIndex":
        from mortar_parquet_support_spark.operators.dedup import band_hashes

        band_hashes(num_perm=num_perm, bands=bands, seed=seed)  # validate
        if n_bucket_shards < 1:
            # pmod(bucket, 0) is NULL (ANSI off): every bucket row would
            # land in the default partition and the bshard equi-join would
            # compare NULL = NULL — probes silently match NOTHING
            raise ValueError(f"n_bucket_shards must be >= 1, got {n_bucket_shards}")
        idx = cls(spark, path, num_perm=num_perm, bands=bands,
                  shingle_words=shingle_words, seed=seed,
                  n_bucket_shards=n_bucket_shards)
        from mortar_parquet_support_spark.functions import tiny_frame

        tiny_frame(
            spark,
            [(num_perm, bands, shingle_words, seed, n_bucket_shards)],
            "num_perm int, bands int, shingle_words int, seed int, "
            "n_bucket_shards int",
        ).write.mode("errorifexists").parquet(idx._p(_META))
        return idx

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "MinHashIndex":
        r = spark.read.parquet(path.rstrip("/") + "/" + _META).head()
        return cls(spark, path, num_perm=r.num_perm, bands=r.bands,
                   shingle_words=r.shingle_words, seed=r.seed,
                   n_bucket_shards=r.n_bucket_shards)

    def _p(self, part: str) -> str:
        return f"{self.path}/{part}"

    def _sigs_of(self, df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
        from mortar_parquet_support_spark.operators.dedup import (
            minhash_signatures,
        )

        sigs = minhash_signatures(
            df, id_col=id_col, text_col=text_col,
            shingle_words=self.shingle_words, num_perm=self.num_perm,
            seed=self.seed,
        )
        return sigs.select(
            F.col("id").cast("string").alias("id"),
            F.array(*[f"sig_{i}" for i in range(self.num_perm)]).alias("sig"),
        )

    def _banded(self, sigs_arr: DataFrame) -> DataFrame:
        from mortar_parquet_support_spark.operators.dedup import band_hashes

        wide = sigs_arr.select(
            "id",
            *[
                F.element_at("sig", i + 1).alias(f"sig_{i}")
                for i in range(self.num_perm)
            ],
        )
        return wide.select(
            "id",
            F.posexplode(
                F.array(
                    *band_hashes(
                        num_perm=self.num_perm, bands=self.bands, seed=self.seed
                    )
                )
            ).alias("band", "bucket"),
        ).withColumn(
            "bshard",
            F.pmod(F.col("bucket"), F.lit(self.n_bucket_shards)).cast("int"),
        )

    def _sig_shard(self, id_col: Column) -> Column:
        return F.pmod(
            F.xxhash64(id_col, F.lit("mh:sigshard")), F.lit(self.n_bucket_shards)
        ).cast("int")

    def sigs(self) -> DataFrame:
        try:
            return (
                self.spark.read.option("basePath", self._p("sigs"))
                .schema("id string, sig array<bigint>, sshard int")
                .parquet(self._p("sigs"))
            )
        except Exception as exc:
            if not _is_missing_path(exc):
                raise
            from mortar_parquet_support_spark.functions import tiny_frame

            return tiny_frame(
                self.spark, [], "id string, sig array<bigint>, sshard int"
            )

    def buckets(self) -> DataFrame:
        try:
            return (
                self.spark.read.option("basePath", self._p("buckets"))
                .schema("id string, bucket long, band int, bshard int")
                .parquet(self._p("buckets"))
            )
        except Exception as exc:
            if not _is_missing_path(exc):
                raise
            from mortar_parquet_support_spark.functions import tiny_frame

            return tiny_frame(
                self.spark, [], "id string, bucket long, band int, bshard int"
            )

    def add(self, df: DataFrame, *, id_col: str, text_col: str) -> None:
        """Append signatures + bucket rows for ``df``. Empty/NULL-text
        rows contribute nothing (no signature). No distinct across
        appends — a re-added id simply matches itself harder. Ids are
        treated as content-immutable: re-adding an id with DIFFERENT
        text leaves multiple signatures for it, and probe/compact keep
        the lexicographically-largest deterministically (update-in-place
        is not a supported index operation — same as DigestIndex)."""
        sigs_arr = self._sigs_of(df, id_col=id_col, text_col=text_col)
        sigs_arr = sigs_arr.localCheckpoint(eager=True)  # two consumers
        sigs_arr.withColumn("sshard", self._sig_shard(F.col("id"))).repartition(
            self.n_bucket_shards, F.col("sshard")
        ).write.partitionBy("sshard").mode("append").parquet(self._p("sigs"))
        self._banded(sigs_arr).repartition(
            self.bands, F.col("band"), F.col("bshard")
        ).write.partitionBy("band", "bshard").mode("append").parquet(
            self._p("buckets")
        )

    def compact(self) -> None:
        """Rewrite sigs and buckets id-distinct (re-added ids collapse to
        one signature row; bucket files collapse to one per (band,
        bshard) partition). Same overwrite-in-place caveat as
        DigestIndex.compact — schedule it like lake maintenance, not
        concurrently with appends."""
        sigs = (
            self.sigs()
            # deterministic keep under id re-use: the lexicographically
            # largest signature (not dropDuplicates' task-order pick)
            .groupBy("id")
            .agg(F.max("sig").alias("sig"))
            .withColumn("sshard", self._sig_shard(F.col("id")))
            .localCheckpoint(eager=True)  # pinned before the overwrite
        )
        sigs.repartition(self.n_bucket_shards, F.col("sshard")).write.partitionBy(
            "sshard"
        ).mode("overwrite").parquet(self._p("sigs"))
        self._banded(sigs).repartition(
            self.bands, F.col("band"), F.col("bshard")
        ).write.partitionBy("band", "bshard").mode("overwrite").parquet(
            self._p("buckets")
        )

    def matches(self, batch: DataFrame, *, id_col: str, text_col: str,
                threshold: float = 0.7) -> DataFrame:
        """(batch_id, index_id, sig_agreement) for every batch document
        whose estimated Jaccard against an indexed document reaches
        ``threshold``. batch_id/index_id are strings (the index's id
        encoding)."""
        b_sigs = self._sigs_of(
            batch, id_col=id_col, text_col=text_col
        ).localCheckpoint(eager=True)  # banding + verify both consume it
        b_banded = self._banded(b_sigs)
        cand = b_banded.select("band", "bshard", "bucket").distinct()
        hits = self.buckets().join(
            F.broadcast(cand), ["band", "bshard", "bucket"], "inner"
        )
        pairs = (
            # hits derives from the (pruned but index-sized) bucket scan;
            # the batch side is the small one — hint it so the planner
            # never sort-merges the index-derived side (the planner's size
            # estimate for a checkpointed frame is unreliable)
            F.broadcast(b_banded)
            .join(
                hits.select("band", "bucket", F.col("id").alias("index_id")),
                ["band", "bucket"],
            )
            .select(F.col("id").alias("batch_id"), "index_id")
            .distinct()
        )
        idx_sigs = (
            self.sigs()
            .join(
                F.broadcast(
                    pairs.select(F.col("index_id").alias("id"))
                    .distinct()
                    .withColumn("sshard", self._sig_shard(F.col("id")))
                ),
                ["sshard", "id"],
                "left_semi",
            )
            # one signature per id even if the id was re-added (same
            # deterministic keep rule as compact)
            .groupBy("id")
            .agg(F.max("sig").alias("sig"))
        )
        agreement = F.aggregate(
            F.zip_with(
                F.col("sig"), F.col("index_sig"),
                lambda a, b: (a == b).cast("int"),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ) / F.lit(self.num_perm)
        return (
            pairs.join(
                b_sigs.select(F.col("id").alias("batch_id"), "sig"), "batch_id"
            )
            .join(
                F.broadcast(
                    idx_sigs.select(
                        F.col("id").alias("index_id"),
                        F.col("sig").alias("index_sig"),
                    )
                ),
                "index_id",
            )
            .withColumn("sig_agreement", agreement)
            .filter(F.col("sig_agreement") >= threshold)
            .select("batch_id", "index_id", "sig_agreement")
        )

    def dedup(self, batch: DataFrame, *, id_col: str, text_col: str,
              threshold: float = 0.7) -> DataFrame:
        """Rows of ``batch`` that near-match nothing in the index.
        Call ``add(survivors)`` afterwards to mark them seen (the
        caller's transaction boundary, as with incremental_dedup)."""
        matched = (
            self.matches(
                batch, id_col=id_col, text_col=text_col, threshold=threshold
            )
            .select(F.col("batch_id"))
            .distinct()
        )
        return batch.join(
            F.broadcast(matched),
            batch[id_col].cast("string") == matched["batch_id"],
            "left_anti",
        )


def incremental_dedup(
    batch: DataFrame,
    index: DigestIndex,
    *,
    digest: Column,
) -> DataFrame:
    """Rows of ``batch`` whose ``digest`` the index has never seen — exact,
    with the index never shuffled (Bloom prefilter → shard-pruned broadcast
    semi-join → broadcast anti-join; see the module docstring for why each
    join side is the broadcastable one). In-batch duplicates are NOT
    collapsed here (exact_dedup does that); this operator answers only the
    cross-batch question, so composing both stays explicit. NULL digests
    can't match anything and always survive.

    Call ``index.add(...)`` with the survivors' digests afterwards to mark
    them seen (the write is the caller's transaction boundary).
    """
    from pyspark.sql.functions import pandas_udf

    # withColumn silently REPLACES, and the final drop would then remove a
    # USER column — reject the clash loudly (the module-wide guard
    # pattern; review r14)
    clash = [
        c
        for c in ("__digest", "__shard", "__h1", "__h2", "__maybe")
        if c in batch.columns
    ]
    if clash:
        raise ValueError(
            f"incremental_dedup scratch column(s) already present: {clash} "
            "— rename them first"
        )
    work = batch.withColumn("__digest", digest.cast("string")).withColumn(
        "__shard", _shard_col(F.col("__digest"), index.n_shards)
    )
    h1, h2 = _hash_cols(F.col("__digest"))
    work = work.withColumn("__h1", h1).withColumn("__h2", h2)

    blooms = index._blooms()
    if not blooms:
        # Fresh index: nothing can be seen; skip both the UDF and the scan.
        return work.drop("__digest", "__shard", "__h1", "__h2")

    m, k = index.m_per_shard, index.n_hashes
    bc = batch.sparkSession.sparkContext.broadcast(blooms)

    @pandas_udf("boolean")
    def maybe_seen(shard, h1s, h2s):
        import numpy as np
        import pandas as pd

        filt = bc.value
        sh = shard.to_numpy(dtype=np.int64)
        a = h1s.to_numpy(dtype=np.int64).view(np.uint64)
        b = h2s.to_numpy(dtype=np.int64).view(np.uint64)
        out = np.zeros(len(sh), dtype=bool)
        for s in np.unique(sh):
            bits = filt.get(int(s))
            if bits is None:
                continue  # shard never populated -> definitely unseen
            sel = sh == s
            hit = np.ones(int(sel.sum()), dtype=bool)
            for i in range(k):
                pos = (a[sel] + np.uint64(i) * b[sel]) % np.uint64(m)
                byte = bits[(pos >> np.uint64(3)).astype(np.int64)]
                hit &= (byte >> (pos & np.uint64(7)).astype(np.uint8)) & 1 == 1
            out[sel] = hit
        return pd.Series(out)

    from mortar_parquet_support_spark.functions import materialize

    # BARRIER: `tested` feeds TWO consumers (the broadcast candidate
    # subtree and the anti-join probe side), and lazily the whole batch
    # scan + digest + Bloom pandas UDF would execute once per consumer —
    # measured: 2x batch rows scanned, two ArrowEvalPython nodes in the
    # plan (review r14; the localCheckpoint discipline DigestIndex.add
    # and MinHashIndex.matches already follow)
    tested = materialize(
        work.withColumn(
            "__maybe",
            maybe_seen(F.col("__shard"), F.col("__h1"), F.col("__h2")),
        )
    )
    # Null digests produce null __maybe under the null-safe & above? No:
    # xxhash64(NULL) is non-null (seed-only hash), so nulls DO reach the
    # filter — but they were excluded from the index by add(), so the
    # verify join is what guarantees they survive.
    cand = (
        tested.filter(F.col("__maybe"))
        .select(F.col("__shard").alias("shard"), F.col("__digest").alias("digest"))
        .filter(F.col("digest").isNotNull())
        .distinct()
    )
    # Index side stays put: broadcast the (bloom-shrunk) candidates into a
    # semi-join probe. `shard` being both a join key and the partition
    # column lets Catalyst prune index shards from the broadcast side.
    seen = index.digests().join(
        F.broadcast(cand), ["shard", "digest"], "left_semi"
    )
    # the seen side gets a private alias: a batch that carries its own
    # 'digest' column must not make the join condition ambiguous
    seen_d = seen.select(F.col("digest").alias("__seen_digest")).distinct()
    survivors = tested.join(
        F.broadcast(seen_d),
        tested["__digest"] == seen_d["__seen_digest"],
        "left_anti",
    )
    return survivors.drop("__digest", "__shard", "__h1", "__h2", "__maybe")
