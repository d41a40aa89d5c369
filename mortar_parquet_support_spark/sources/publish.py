"""Crash-atomic publish for in-place lake rewrites (write-audit-publish).

The reference's lake is append-only (transform.py:39 — nothing ever
rewrites), so it never needed a commit protocol. Our maintenance layer
(compact / upsert, sources/maintenance.py) rewrites live partitions, and
through round 12 it published via Spark's DYNAMIC partition overwrite —
whose job commit (delete the old files, move the staged files in) is NOT
atomic on a plain file lake. A crash inside that window could lose a
collection's already-committed history, and a streaming checkpoint cannot
replay it (source files are marked seen). This module closes that hole
with the classic three-phase protocol:

1. **write** — stage the FULL rewritten partitions under a hidden
   transaction directory ``<lake>/.maint/txn-<id>/stage/`` using the
   lake's own layout discipline (``write_lake``). Dot-prefixed paths are
   invisible to Spark/Hadoop file listings, so readers never see the
   stage. A crash here leaves the live lake byte-identical; recovery
   just deletes the orphaned transaction.
2. **audit** — read the stage BACK and compare per-collection row counts
   AND order-independent value-hash sums against the source frame (a
   count-only audit would pass a stage that corrupted values while
   keeping cardinality). Only after the audit passes is the intent
   JOURNALED (``journal.json``, created atomically via write-temp +
   rename): per touched partition, the exact list of live FILES the
   rewrite supersedes. The journal is the commit point: before it
   exists the transaction aborts backward; after it exists the staged
   data is known complete and recovery rolls FORWARD.
3. **publish** — per partition, at FILE granularity (the Delta/Iceberg
   remove-files/add-files shape, re-expressed on a plain file lake):
   park each journaled file in ``txn/backup/``, then move each staged
   file into the live directory. Every move is a single metadata
   RENAME; the only reader-visible window is a partition that is
   briefly missing some of its rows mid-swap — and the journal + backup
   make every window fully recoverable: nothing is deleted until every
   staged file is live. File granularity — not a directory swap — is
   what makes recovery APPEND-SAFE: a file in the live directory that
   the journal does not name was written AFTER the snapshot (e.g. a
   restarted stream's replayed batch appending before the next
   compaction tick recovers), and recovery preserves it untouched. A
   directory-level swap cannot distinguish those appends from the data
   it is replacing — the r13 streaming crash test caught exactly that.

``recover_lake`` converges ANY crash point to a consistent lake (the old
state if the crash preceded the journal, the new state + later appends
otherwise) and is run automatically at the start of every publish, so a
crashed ``stream_ingest(compact_every=N)`` self-heals on its next
compaction tick. Crash-injection tests drive every window via
``_fail_point``, including the append-between-crash-and-recovery
interleave (tests/test_publish_atomic.py).

Assumptions, stated loudly:

- **one maintenance writer per lake at a time — ENFORCED since round
  14** by a create-exclusive ``<lake>/.maint/LOCK`` file
  (:func:`maintenance_lock`). Two CONCURRENT rewrites of the same
  partition would journal overlapping supersede-lists and corrupt each
  other; before r14 this was an honor-system docstring (VERDICT r13
  "Next round" #1 called it the one path from correct code to a
  corrupted lake). Every maintenance entry point (``publish_rewrite``,
  ``recover_lake``, ``compact_collections``, ``upsert_lake``,
  ``compact_if_fragmented``) takes the lock around its WHOLE
  read→publish span, so the read-to-journal lost-update window between
  two maintenance ops is closed too; the lock is re-entrant within a
  thread so the nested calls compose. Stale-lock policy: a crash leaves
  the lock file behind; the next acquirer breaks it automatically when
  the owner is provably dead (same host + dead pid) or — for foreign
  hosts and unreadable payloads only; a provably LIVE same-host owner
  is never broken — older than an explicit ``stale_after_secs``
  (plumbed through every entry point and the CLI's
  ``--break-lock-after``, the multi-host escape hatch), else fails
  loudly with the owner payload and remediation. Breaks are CLAIMED by
  an atomic rename-to-tombstone and verified by owner uuid (two
  contenders cannot both break one lock, and a fresh lock yanked by a
  raced diagnosis is restored); release re-reads the lock and deletes
  it only when the owner uuid is its own, so a TTL takeover is never
  un-done by the stalled previous owner (review r14 closed all three
  races). The create-exclusive primitive is atomic on HDFS; on a
  ``file://`` lake it is since round 15 a kernel-atomic
  ``O_CREAT|O_EXCL`` open (the syscall ``java.io.File.createNewFile()``
  wraps — VERDICT r14 "Next round" #3), so exactly one of N concurrent
  acquirers wins on the local filesystems single-node deployments and
  this sandbox actually run (race-pinned across processes in
  tests/test_publish_atomic.py). Other schemes fall back to Hadoop
  ``create(overwrite=false)``, whose atomicity is the filesystem's
  own; raw object stores should prefer a coordination service under
  adversarial concurrency.
- **appends interleave safely outside an ACTIVE publish.** Files
  appended after the journal (including post-crash, pre-recovery) are
  never journaled and always survive. The one unsafe interleave is an
  EXTERNAL process appending to a touched partition inside the short
  window between the caller's read and the journal write: that file is
  listed as superseded but its rows were never read — classic
  lost-update, the same semantics any overwrite has. In-process
  pipelines (stream_ingest's foreachBatch, the CLI) cannot hit it; a
  multi-writer deployment must serialize appends with maintenance or
  move to a transactional table format.
- **atomic file rename.** True on POSIX filesystems and HDFS. On
  object stores (S3) "rename" is copy+delete — there this protocol
  still never loses data and ``recover_lake`` still converges, now
  WITNESSED end-to-end (r13 claimed it in prose): a rename-as-
  copy+delete FileSystem with crashes injected between the copy and
  the delete (tests/fixtures/ObjectStoreMimicFileSystem.java, driven
  by tests/test_objstore_publish.py — the real S3AFileSystem is
  unavailable in this sandbox) runs the whole protocol through park-
  and promote-crash scenarios; the crash signature unique to such
  stores (the same file present at BOTH ends of a move) is converged
  by ``_rename_into``'s equal-size dedupe. The swap window still
  widens there and the LOCK's create-exclusive is weaker — prefer a
  transactional table format on raw object stores; this protocol
  keeps them safe, not fast.
- readers that listed files immediately before a swap may hit a
  vanished-file error for that partition (standard for ANY in-place
  rewrite, including the old dynamic overwrite); retry or schedule
  maintenance off-peak.
"""

from __future__ import annotations

import json
import os
import socket
import threading
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

MAINT_DIR = ".maint"
_JOURNAL = "journal.json"
_LOCK_NAME = "LOCK"
# Per-partition maintenance work (recovery's converge, publish's
# superseded-listing and swap phases) is a handful of metadata RPCs —
# py4j round trips, latency-bound, not data movement. Since round 15
# the PRIMARY path executes each whole phase in ONE py4j call with the
# loop JVM-side (java/MaintBatchOps.java via sources/jvm_batch.py —
# VERDICT r14 "Next round" #2: the Python loop measured 24 ms/partition
# and the GIL capped its thread pool at ~1.3x, i.e. ~40 min of driver
# RPC per 100k-partition rewrite, twice). The Python pooled loop below
# remains as the no-compiler fallback and the bench's A/B baseline;
# _USE_JVM_BATCH = False forces it (bench_recovery's toggle).
_MAINT_POOL_WORKERS = 16
_USE_JVM_BATCH = True
# Fan-out width INSIDE the JVM batch executor (r16, VERDICT r15 "Next
# round" #1): partitions overlap their store RPCs on a bounded daemon
# pool, strictly ordered within one partition (parks before promotes).
# 32 covers S3-class ~50-200 ms rename latency without request-rate
# throttling; 1 restores the r15 serial walk (crash suites use it for
# determinism where ordering across partitions matters to a scenario).
_JVM_BATCH_THREADS = 32


def _batch_ops(spark):
    """The JVM-side batch executor, or None when unavailable/disabled
    (callers fall back to the Python pooled loop). Import is lazy and
    failure-proof: the batch path is an accelerator, never a gate."""
    if not _USE_JVM_BATCH:
        return None
    try:
        from mortar_parquet_support_spark.sources.jvm_batch import batch_ops

        ops = batch_ops(spark)
        if ops is not None:
            ops.set_parallelism(_JVM_BATCH_THREADS)
        return ops
    except Exception:
        return None


def _pooled_map(fn, items):
    """Ordered map over independent per-partition maintenance steps —
    serial for small batches (pool spin-up isn't free), pooled above
    that. Results keep ``items``' order; the first exception propagates
    loudly AND cancels every still-queued step (threads already mid-step
    finish — they can't be killed — but the lake freezes within one
    pool-width of the anomaly instead of swapping every remaining
    partition after a 'resolve manually' stop; review r14 round 2)."""
    items = list(items)
    if len(items) <= 4 or _MAINT_POOL_WORKERS <= 1:
        return [fn(it) for it in items]
    from concurrent.futures import ThreadPoolExecutor, as_completed

    pool = ThreadPoolExecutor(max_workers=_MAINT_POOL_WORKERS)
    try:
        futures = {pool.submit(fn, it): i for i, it in enumerate(items)}
        out = [None] * len(items)
        for f in as_completed(futures):  # failure surfaces IMMEDIATELY,
            out[futures[f]] = f.result()  # not when iteration reaches it
        return out
    finally:
        # on the happy path everything is done and this is a no-op; on
        # failure it drops the queued tail before waiting out in-flight
        pool.shutdown(wait=True, cancel_futures=True)

# thread-local {lock_path: depth} — maintenance_lock is re-entrant WITHIN
# a thread (compact_if_fragmented -> compact_collections ->
# publish_rewrite -> recover_lake all take it), but two THREADS of one
# process are two writers and must contend on the file like two processes
_held_locks = threading.local()


class InjectedCrash(RuntimeError):
    """Raised by the test-only ``_fail_point`` hooks — simulates the
    process dying at a named protocol point (the raise unwinds without
    any cleanup, exactly like a kill)."""


class ConcurrentMaintenanceError(RuntimeError):
    """Another maintenance writer holds the lake's ``.maint/LOCK``. The
    loud alternative to the pre-r14 failure mode: two concurrent rewrites
    journaling overlapping supersede-lists and corrupting each other."""


def _crash_if(fail_point: str | None, here: str) -> None:
    if fail_point == here:
        raise InjectedCrash(here)


def _fs(spark: SparkSession, path: str):
    """(jvm, FileSystem, Path factory) — Hadoop's FS honors whatever
    scheme the lake lives on (local/HDFS/s3a); driver-local os.rename
    would silently corrupt a non-local lake."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    return jvm, jpath.getFileSystem(conf), jvm.org.apache.hadoop.fs.Path


def _rename(fs, P, src: str, dst: str) -> None:
    """Hadoop rename returns FALSE on failure instead of raising — and
    renaming onto an EXISTING directory nests src inside dst, so both
    must be checked loudly (a silent false here is exactly the partial
    state the protocol exists to prevent)."""
    if fs.exists(P(dst)):
        raise RuntimeError(
            f"publish: rename target already exists: {dst} — a concurrent "
            "writer recreated it mid-swap; backup is intact under the "
            "transaction directory, resolve and run recover_lake"
        )
    if not fs.rename(P(src), P(dst)):
        raise RuntimeError(f"publish: rename failed: {src} -> {dst}")


def _write_json_atomic(fs, P, path: str, payload: dict) -> None:
    """Journal creation is the transaction's commit point, so it must be
    all-or-nothing: write a temp file, then one rename. The destination
    must not already exist — a journal is written exactly once per
    transaction directory (uuid-fresh today), and Hadoop's rename onto an
    existing path returns false on some filesystems, so an overwrite
    attempt would surface as a generic rename failure instead of the real
    contract violation (ADVICE r13: assert the txn dir is fresh)."""
    if fs.exists(P(path)):
        raise RuntimeError(
            f"publish: journal already exists: {path} — transaction "
            "directories are single-use; a reused txn dir would mutate a "
            "commit point"
        )
    tmp = path + ".tmp"
    out = fs.create(P(tmp), True)
    try:
        out.write(bytearray(json.dumps(payload).encode("utf-8")))
    finally:
        out.close()
    if not fs.rename(P(tmp), P(path)):
        raise RuntimeError(f"publish: journal rename failed: {path}")


def _read_json(jvm, fs, P, path: str) -> dict:
    stream = fs.open(P(path))
    try:
        # ONE JVM-side copy, not a Py4J round-trip per byte: a journal
        # listing thousands of partitions would otherwise cost ~1e5
        # driver<->JVM calls on every recovery probe (review r13)
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
        return json.loads(bytes(baos.toByteArray()).decode("utf-8"))
    finally:
        stream.close()


def _pid_alive(pid: int) -> bool:
    """Signal-0 liveness probe. Only a definite ProcessLookupError counts
    as dead — permission errors and anything else mean "cannot prove
    dead", and a lock must never be broken on a maybe."""
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except Exception:
        return True
    return True


def _local_fs_path(fs, P, path: str) -> str | None:
    """The driver-local filesystem path for ``path`` when ``fs`` is the
    ``file`` scheme, else None. Local paths may arrive bare, as
    ``file:/x``, ``file:///x``, or ``file://localhost/x`` — all naming
    the same local file. A ``file://`` URI with any OTHER authority
    returns None (review r15: naive prefix-stripping turned
    ``file://host/data/lake`` into the CWD-relative ``host/data/lake``,
    splitting the lock between the os.* create leg and the Hadoop
    read/delete leg — permanent lockout); None sends the caller down
    the Hadoop leg, which is always self-consistent."""
    try:
        if fs.getUri().getScheme() != "file":
            return None
    except Exception:
        return None
    if not path.startswith("file:"):
        if path.startswith("/"):
            return path
        # RELATIVE bare path: resolving it HERE (os.path.abspath) would
        # use the Python CWD while the Hadoop read/delete leg resolves
        # against the JVM's user.dir — an os.chdir after session start
        # would split the lock between legs (ADVICE r15). Ask Hadoop
        # itself: makeQualified resolves against fs.getWorkingDirectory,
        # the SAME rule every Hadoop-leg operation uses, so both legs
        # agree on one absolute path AND the kernel-atomic O_EXCL create
        # is kept — demoting relative paths to the Hadoop
        # create(overwrite=false) leg would have reopened the VERDICT
        # r14 #3 check-then-create lock race (review r16).
        try:
            path = fs.makeQualified(P(path)).toUri().getPath()
        except Exception:
            # reachable for a relative first segment containing ':'
            # (Hadoop Path parses it as a URI scheme and checkPath
            # throws). Such a root is ALREADY unusable as a lake — every
            # Hadoop op and every Spark read on it misparses the same
            # way and fails loudly long before locking matters — so the
            # Hadoop-leg demotion here is moot, not a silent downgrade
            # of the O_EXCL guarantee (review r16).
            return None
        return path if path.startswith("/") else None
    rest = path[len("file:"):]
    if not rest.startswith("//"):
        return rest  # file:/x — no authority component
    rest = rest[2:]
    slash = rest.find("/")
    if slash < 0:
        return None  # authority only, no path — malformed; Hadoop leg
    authority = rest[:slash]
    if authority not in ("", "localhost"):
        return None  # foreign authority — not provably this machine
    return rest[slash:]


def _local_create_exclusive(path: str, payload: bytes) -> bool:
    """Kernel-atomic create-if-absent on the local filesystem:
    ``O_CREAT|O_EXCL`` — the same syscall ``java.io.File.
    createNewFile()`` wraps, reachable without a py4j trip. Exactly one
    of N concurrent callers (threads OR processes) gets True; everyone
    else gets False. Replaces Hadoop LocalFileSystem's
    ``create(overwrite=false)``, which is CHECK-then-create and could
    let two same-instant acquirers both win (the module-header caveat
    this closes — VERDICT r14 "Next round" #3)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except FileExistsError:
        return False
    try:
        os.write(fd, payload)
        os.close(fd)
    except BaseException:
        try:
            os.close(fd)
        except OSError:
            pass
        try:  # never orphan an unreadable lock (same rule as Hadoop leg)
            os.unlink(path)
        except OSError:
            pass
        raise
    return True


def _try_create_lock(fs, P, lock_path: str) -> str | None:
    """One create-EXCLUSIVE attempt writing the owner payload; returns
    the owner uuid on success, None when somebody else holds the lock.

    ``file://`` lakes take the O_EXCL syscall path
    (:func:`_local_create_exclusive` — atomic, and the payload is
    written under the same fd so the unreadable-empty-lock window is
    narrower than the Hadoop leg's). Every other scheme uses Hadoop
    ``create(path, overwrite=false)`` — atomic on HDFS, the
    filesystem's own contract elsewhere. On that leg the payload lands
    after the create, so a concurrent reader can observe an empty lock
    file — readers treat unreadable payloads as a live owner unless a
    TTL says otherwise. A failure while WRITING the payload deletes the
    just-created lock before propagating: an orphaned payload-less lock
    could otherwise never be auto-broken by the dead-pid rule (review
    r14)."""
    owner = uuid.uuid4().hex
    payload = json.dumps({
        "owner": owner,
        "pid": os.getpid(),
        "host": socket.gethostname(),
    }).encode("utf-8")
    local = _local_fs_path(fs, P, lock_path)
    if local is not None:
        return owner if _local_create_exclusive(local, payload) else None
    try:
        out = fs.create(P(lock_path), False)
    except Exception:
        if fs.exists(P(lock_path)):
            return None
        raise  # a real I/O failure, not contention — surface it
    try:
        out.write(bytearray(payload))
        out.close()
    except BaseException:
        try:
            out.close()
        except Exception:
            pass
        fs.delete(P(lock_path), False)  # never orphan an unreadable lock
        raise
    return owner


def _read_lock_info(jvm, fs, P, lock_path: str) -> dict | None:
    try:
        info = _read_json(jvm, fs, P, lock_path)
        return info if isinstance(info, dict) else {}
    except Exception:
        # vanished, mid-write, or corrupt: {} = "exists but unprovable",
        # None = gone (the caller distinguishes retry from staleness)
        return {} if fs.exists(P(lock_path)) else None


def _is_provably_dead(info: dict) -> bool:
    return (
        info.get("host") == socket.gethostname()
        and isinstance(info.get("pid"), int)
        and not _pid_alive(info["pid"])
    )


def _is_provably_alive(info: dict) -> bool:
    return (
        info.get("host") == socket.gethostname()
        and isinstance(info.get("pid"), int)
        and _pid_alive(info["pid"])
    )


@contextmanager
def maintenance_lock(
    spark: SparkSession,
    lake_root: str,
    *,
    stale_after_secs: float | None = None,
):
    """Serialize maintenance writers on ``<lake>/.maint/LOCK`` — the
    enforcement of the module's single-writer assumption (policy in the
    module docstring). Re-entrant within a thread so the nested
    maintenance call chain composes; a second THREAD or process fails
    with :class:`ConcurrentMaintenanceError` carrying the owner payload.

    A crashed owner leaves the file behind. Staleness rules, applied in
    order (review r14 hardened all three):

    - payload names THIS host and a DEAD pid → stale;
    - payload names THIS host and a LIVE pid → never stale (a TTL must
      not break a provably-running writer that merely stalled in a long
      Spark stage);
    - otherwise (foreign host, or unreadable payload) → stale only when
      ``stale_after_secs`` is given and the lock FILE's modification
      time (the filesystem's clock, not the payload's) is older.

    Breaking is CLAIMED atomically by renaming the lock to a tombstone —
    two contenders cannot both win the rename — and the winner verifies
    the tombstone still carries the payload it diagnosed as stale (by
    owner uuid): a mismatch means it yanked a FRESH lock created after
    its diagnosis, which it restores before failing loudly. Release
    re-reads the lock and deletes it only if the owner uuid is ours, so
    a taken-over lock is never deleted by the previous owner.
    """
    root = lake_root.rstrip("/")
    lock_path = f"{root}/{MAINT_DIR}/{_LOCK_NAME}"
    held = getattr(_held_locks, "paths", None)
    if held is None:
        held = _held_locks.paths = {}
    if held.get(lock_path, 0) > 0:  # re-entry from this thread
        held[lock_path] += 1
        try:
            yield
        finally:
            held[lock_path] -= 1
        return

    jvm, fs, P = _fs(spark, lake_root)
    my_owner = _acquire_lock(
        jvm, fs, P, lock_path, stale_after_secs=stale_after_secs
    )
    held[lock_path] = 1
    try:
        yield
    finally:
        held[lock_path] -= 1
        if held[lock_path] <= 0:
            del held[lock_path]
            _release_lock(jvm, fs, P, lock_path, my_owner)


def _acquire_lock(
    jvm, fs, P, lock_path: str, *, stale_after_secs: float | None
) -> str:
    """Acquisition loop: a handful of attempts so transient races — the
    holder releasing between our failed create and our payload read —
    retry against the now-free lock instead of surfacing a raw py4j
    error or a spurious owner=None contention (review r14; the
    streaming skip-and-warn handler depends on contention ALWAYS
    arriving as ConcurrentMaintenanceError). A successful stale-lock
    takeover RETURNS directly (the takeover installs our pre-staged
    lock by rename, it never needs a follow-up create), so a break can
    never be charged against the retry budget and then reported as
    contention (review r14 round 2)."""
    for _attempt in range(4):
        owner = _try_create_lock(fs, P, lock_path)
        if owner is not None:
            return owner
        info = _read_lock_info(jvm, fs, P, lock_path)
        if info is None:
            continue  # holder released mid-probe — retry the create
        diag_mtime = None
        if _is_provably_dead(info):
            stale = True
        elif not _is_provably_alive(info) and stale_after_secs is not None:
            try:
                diag_mtime = fs.getFileStatus(
                    P(lock_path)
                ).getModificationTime()
                age_ms = (
                    jvm.java.lang.System.currentTimeMillis() - diag_mtime
                )
            except Exception:
                continue  # vanished under us — retry
            stale = age_ms > stale_after_secs * 1000.0
        else:
            stale = False
        if not stale:
            raise ConcurrentMaintenanceError(
                f"another maintenance writer holds {lock_path} "
                f"(owner: {info or 'unreadable payload'}) — concurrent lake "
                "rewrites would journal overlapping supersede-lists; wait "
                "for it to finish (same-host dead owners are broken "
                "automatically; pass stale_after_secs to allow TTL "
                "takeover of foreign/unreadable ones), or if the owner is "
                "provably dead delete the LOCK file"
            )
        owner = _takeover_stale_lock(
            jvm, fs, P, lock_path, info, diag_mtime
        )
        if owner is not None:
            return owner
        # lost the break race (or restored a misdiagnosed fresh lock) —
        # loop re-reads the current holder and re-assesses
    raise ConcurrentMaintenanceError(
        f"maintenance lock contended on every attempt: {lock_path} — "
        "another writer kept winning the race; retry"
    )


def _takeover_stale_lock(
    jvm, fs, P, lock_path: str, diagnosed: dict, diag_mtime: int | None
) -> str | None:
    """Break a lock diagnosed as stale and install OURS in its place.
    Returns the new owner uuid, or None when the race was lost (caller
    re-assesses). The steps, each chosen so two contenders cannot both
    end up believing they own the lake:

    1. pre-stage our replacement lock at a private name (no vacancy is
       spent writing payloads; a payload-write failure deletes the
       staged file rather than orphaning it — review r14 round 3);
    2. CLAIM the break: rename lock -> tombstone — atomic, exactly one
       contender wins;
    3. verify the tombstone is the lock we DIAGNOSED: owner uuid match,
       or — when the diagnosis was an unreadable payload — the tombstone
       must STILL be unreadable AND carry the modification time the TTL
       was judged against (rename preserves mtime on POSIX/HDFS, so a
       fresh mid-payload-write lock yanked by mistake shows a NEWER
       mtime even while unreadable; review r14 round 3); a mismatch
       restores the yanked lock and returns None;
    4. INSTALL by renaming the pre-staged lock into place — if a third
       contender's create landed in the vacancy, the install rename
       fails and we concede (the confirmed-stale tombstone is dropped,
       the third writer owns the lake).

    Residual (documented, not fixable with plain-FS primitives): step
    3's restore can itself lose a three-way race — the restore rename
    fails because a third create landed first, and the writer whose
    fresh lock was yanked keeps running unaware. That needs an atomic
    compare-and-swap the filesystem doesn't have; deployments with
    adversarial concurrency belong on a coordination service, per the
    module header. The claim-to-install vacancy spans a few metadata
    RPCs (the tombstone verify read sits inside it) in a path that only
    executes against a lock already judged stale."""
    claim = f"{lock_path}.claim-{uuid.uuid4().hex}"
    tomb = f"{lock_path}.stale-{uuid.uuid4().hex}"
    out = fs.create(P(claim), True)
    owner = uuid.uuid4().hex
    try:
        out.write(bytearray(json.dumps({
            "owner": owner,
            "pid": os.getpid(),
            "host": socket.gethostname(),
        }).encode("utf-8")))
        out.close()
    except BaseException:
        try:
            out.close()
        except Exception:
            pass
        fs.delete(P(claim), False)  # never orphan the staged claim
        raise
    try:
        claimed = fs.rename(P(lock_path), P(tomb))
    except Exception:
        claimed = False
    if not claimed:
        fs.delete(P(claim), False)
        return None  # another contender claimed the break first
    tomb_info = None
    try:
        tomb_info = _read_json(jvm, fs, P, tomb)
    except Exception:
        pass
    if diagnosed == {}:
        # must STILL be unreadable AND be the very file the TTL judged:
        # rename preserves mtime, so a fresh lock caught mid-payload-
        # write differs even though both read as unreadable
        try:
            tomb_mtime = fs.getFileStatus(P(tomb)).getModificationTime()
        except Exception:
            tomb_mtime = None
        same = (
            not tomb_info
            and diag_mtime is not None
            and tomb_mtime == diag_mtime
        )
    else:
        same = (
            isinstance(tomb_info, dict)
            and tomb_info.get("owner") == diagnosed.get("owner")
        )
    if not same:
        # we yanked a lock OTHER than the one we judged stale — restore
        restored = False
        try:
            restored = fs.rename(P(tomb), P(lock_path))
        except Exception:
            pass
        fs.delete(P(claim), False)
        if not restored:
            raise ConcurrentMaintenanceError(
                f"stale-break race on {lock_path}: a fresh lock was "
                f"claimed ({tomb_info}) and could not be restored — "
                f"its payload is preserved at {tomb}; resolve manually"
            )
        return None
    installed = False
    try:
        installed = fs.rename(P(claim), P(lock_path))
    except Exception:
        pass
    if not installed:
        # a third contender's create landed in the vacancy — concede;
        # the tombstone is confirmed stale, so dropping it loses nothing
        fs.delete(P(tomb), False)
        fs.delete(P(claim), False)
        return None
    fs.delete(P(tomb), False)
    return owner


def _release_lock(jvm, fs, P, lock_path: str, my_owner: str) -> None:
    """Delete the lock only if it is still OURS: a TTL takeover may have
    replaced it while we ran, and deleting the new owner's lock would
    reopen the very concurrency this file exists to prevent. An
    unreadable payload is retried — a torn read of our own file resolves
    in milliseconds, while a foreign owner's payload mid-write must NOT
    be deleted on a guess (review r14 round 2) — and if it stays
    unreadable we leave the file with a warning rather than risk
    deleting a live writer's lock."""
    import time as _time

    for _retry in range(3):
        info = _read_lock_info(jvm, fs, P, lock_path)
        if info is None:
            return  # already gone (broken + released) — nothing to do
        if info != {}:
            break
        if _retry < 2:  # no point sleeping after the final read
            _time.sleep(0.05)
    if info != {} and info.get("owner") != my_owner:
        import warnings

        warnings.warn(
            f"maintenance lock at {lock_path} was taken over while this "
            f"writer ran (now owned by {info}) — not deleting it; if this "
            "writer published, verify the lake with recover_lake",
            stacklevel=2,
        )
        return
    if info == {}:
        import warnings

        warnings.warn(
            f"maintenance lock at {lock_path} stayed unreadable on "
            "release — leaving it in place (it may be a taking-over "
            "writer's payload mid-write); if it persists, recover with "
            "stale_after_secs or delete it once its owner is known dead",
            stacklevel=2,
        )
        return
    fs.delete(P(lock_path), False)


def _partition_dir_names(fs, P, stage_dir: str) -> list[str]:
    """The staged ``collection=*`` directory NAMES — taken from what the
    writer actually created (Spark's own partition-value escaping), so no
    escaping logic is ever re-derived here (the '%3A' class of bug,
    review r12)."""
    statuses = fs.globStatus(P(stage_dir.rstrip("/") + "/collection=*"))
    if statuses is None:
        return []
    return sorted(
        s.getPath().getName() for s in statuses if s.isDirectory()
    )


def _list_visible_files(fs, P, dir_path: str) -> list[str]:
    """Relative paths of the non-hidden files under ``dir_path``
    (recursive — the ``partition_uuid`` layout nests ``uuid=*`` dirs).
    Hidden files (leading ``.`` or ``_``: CRC siblings, _SUCCESS) are
    excluded on purpose: readers never see them, and ChecksumFileSystem
    moves a ``.crc`` implicitly with its data file's rename — moving it
    twice would fail."""
    base = P(dir_path)
    if not fs.exists(base):
        return []
    prefix = str(fs.getFileStatus(base).getPath()) + "/"
    out = []
    it = fs.listFiles(base, True)
    while it.hasNext():
        p = str(it.next().getPath())
        rel = p[len(prefix):] if p.startswith(prefix) else p
        name = rel.rsplit("/", 1)[-1]
        if not name.startswith((".", "_")):
            out.append(rel)
    return sorted(out)


def _rename_into(
    fs, P, src: str, dst: str, *, dst_disposable: bool = False
) -> None:
    """Move one file, creating the destination's parent dirs — the unit
    step of both the park (live -> backup) and promote (stage -> live)
    phases. Missing src is SKIPPED, not an error: that is exactly the
    idempotent-recovery case (the move already happened before a
    crash).

    BOTH ends present is the object-store crash signature: there,
    "rename" is copy-then-delete, and a crash between the two leaves
    the same immutable file at src AND dst (witnessed end-to-end in
    tests/test_objstore_publish.py via a rename-as-copy+delete
    FileSystem). Equal sizes mean the copy COMPLETED — the move's
    effect is achieved, recovery finishes it by deleting the source
    (every journaled move is of one specific immutable file to one
    specific name, so an equal-size dst IS that file).

    DIFFERENT sizes mean the crash landed MID-copy and dst is a partial
    file. Which mismatches self-heal (r15, VERDICT r14 "Next round"
    #4, both witnessed in tests/test_objstore_publish.py):

    - parks (live -> backup, ``dst_disposable=True``): the partial dst
      sits inside the transaction's own backup dir — never
      reader-visible, not authoritative (src, the live file, is still
      present on any mismatch) — so it is deleted and the move redone.
    - promotes (stage -> live, the default): the partial dst is
      READER-VISIBLE live data; that stays a loud stop with nothing
      deleted — the partial is junk by construction, but deleting a
      live-directory file on a size heuristic is an operator decision
      (delete the named partial, re-run recover_lake, and recovery
      converges)."""
    if not fs.exists(P(src)):
        return
    if fs.exists(P(dst)):
        src_len = fs.getFileStatus(P(src)).getLen()
        dst_len = fs.getFileStatus(P(dst)).getLen()
        if src_len == dst_len:
            fs.delete(P(src), False)
            return
        if not dst_disposable:
            raise RuntimeError(
                f"publish: move target already exists with DIFFERENT size "
                f"({dst}: {dst_len} vs {src}: {src_len}) — a crashed "
                "mid-copy rename left a partial file at a live "
                "destination; delete the partial dst and re-run "
                "recover_lake (nothing deleted)"
            )
        fs.delete(P(dst), False)  # partial copy at a non-live end — redo
    parent = dst.rsplit("/", 1)[0]
    if not fs.exists(P(parent)):
        local_parent = _local_fs_path(fs, P, parent)
        if local_parent is not None:
            # dodge the hidden fork: non-native Hadoop's mkdirs applies a
            # permission via an EXEC'd `chmod` per created dir (~4 ms
            # each, measured — see java/MaintBatchOps.ensureParentDir,
            # the batch path's identical dodge)
            os.makedirs(local_parent, exist_ok=True)
        else:
            fs.mkdirs(P(parent))
    _rename(fs, P, src, dst)


def _audit_by_collection(df: DataFrame) -> dict:
    """{collection: (row_count, value-hash sum)} — the audit statistic
    compared between the source frame and the staged read-back. The hash
    is an order-independent SUM of per-row xxhash64 over all columns in
    sorted-name order (parquet round-trips every lake type exactly, so
    source and stage agree bit-for-bit), summed as decimal(38,0) because
    a plain long sum would overflow — an ERROR under ANSI mode, and a
    silent wrap difference otherwise. Counts alone would pass a stage
    that corrupted values while keeping cardinality."""
    from pyspark.sql import functions as F

    row_hash = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    rows = (
        df.groupBy("collection")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(row_hash.cast("decimal(38,0)")).alias("h"),
        )
        .collect()
    )
    return {r["collection"]: (r["n"], r["h"]) for r in rows}


def publish_rewrite(
    df: DataFrame,
    lake_root: str,
    *,
    partition_uuid: bool = False,
    bloom_cols: tuple = (),
    bloom_ndv: int | None = None,
    stale_after_secs: float | None = None,
    _fail_point: str | None = None,
) -> None:
    """Replace exactly the collections present in ``df`` with ``df``'s
    rows, crash-atomically (protocol in the module docstring). The
    rewritten partitions keep ``write_lake``'s clustering/sort/bloom
    discipline; partitions absent from ``df`` keep their files'
    exact identities.

    ``df`` is materialized first: both maintenance ops read the very
    partitions they replace, and the barrier severs that read-path
    dependency before any file moves — plus the audit and the stage write
    must see the SAME rows, which a nondeterministic lazy plan would not
    guarantee.
    """
    from mortar_parquet_support_spark.sources.ingest import (
        _validate_bloom_options,
    )

    # every cheap rejection BEFORE the materialize/count jobs (the
    # write_zordered rule): a typo'd bloom column must not cost a full
    # lake scan before the loud error (review r13)
    _validate_bloom_options(
        df, bloom_cols, bloom_ndv,
        ("collection", "uuid") if partition_uuid else ("collection",),
    )
    spark = df.sparkSession
    # the lock spans the WHOLE protocol including the input materialize:
    # the rows being published must not be read while another maintenance
    # writer is mid-swap (re-entrant, so callers that already hold it —
    # compact/upsert, which read the lake earlier — just nest)
    with maintenance_lock(spark, lake_root, stale_after_secs=stale_after_secs):
        _publish_under_lock(
            df, lake_root, partition_uuid=partition_uuid, bloom_cols=bloom_cols,
            bloom_ndv=bloom_ndv, _fail_point=_fail_point,
        )


def _publish_under_lock(
    df: DataFrame,
    lake_root: str,
    *,
    partition_uuid: bool,
    bloom_cols: tuple,
    bloom_ndv: int | None,
    _fail_point: str | None,
) -> None:
    """The write-audit-publish body — only ever entered holding the
    lake's maintenance lock (see :func:`publish_rewrite`)."""
    from mortar_parquet_support_spark.functions import materialize
    from mortar_parquet_support_spark.sources.ingest import write_lake

    spark = df.sparkSession
    jvm, fs, P = _fs(spark, lake_root)

    # PIN the input before recovery: recovery renames lake directories,
    # and ``df``'s eager file listing may reference them — materializing
    # first copies the rows into checkpoint storage so the later stage
    # write can never hit a vanished source file. (Callers that read the
    # lake to BUILD the rewrite should recover before reading, as
    # compact_collections/upsert_lake do — a frame built on a
    # half-converged lake is already the wrong rewrite.)
    df = materialize(df)
    expected = _audit_by_collection(df)

    # converge any crashed predecessor: its backup/stage dirs must not
    # be mistaken for ours, and its journal must not be left behind.
    # If recovery ROLLED a transaction FORWARD, the lake content just
    # changed under the caller — ``df`` was built (and pinned above) from
    # the pre-recovery state, so publishing it would supersede the
    # recovered rows with a frame that never read them: a silent lost
    # update. In-repo callers (compact/upsert/compact_if_fragmented)
    # recover BEFORE reading, so they never hit this; a direct caller
    # must rebuild its frame from the now-converged lake (ADVICE r13).
    recovered = recover_lake(spark, lake_root)
    rolled = [a["txn"] for a in recovered if a["action"] == "rolled_forward"]
    if rolled:
        raise RuntimeError(
            "publish: recovery rolled forward a pending transaction "
            f"({rolled}) — the input frame predates that recovery and is "
            "stale; rebuild it from the converged lake and retry "
            "(maintenance entry points recover before reading for exactly "
            "this reason)"
        )
    if not expected:
        return  # nothing to publish — never journal an empty rewrite

    root = lake_root.rstrip("/")
    txn = f"{root}/{MAINT_DIR}/txn-{uuid.uuid4().hex}"
    stage = f"{txn}/stage"
    backup = f"{txn}/backup"

    # -- write ---------------------------------------------------------
    write_lake(
        df, stage, partition_uuid=partition_uuid, mode="error",
        bloom_cols=bloom_cols, bloom_ndv=bloom_ndv,
    )
    _crash_if(_fail_point, "after_stage")

    # -- audit ---------------------------------------------------------
    # Read the stage with the SOURCE frame's schema pinned: the partition
    # column's values otherwise go through partition-value type INFERENCE,
    # so a numeric- or date-looking collection ('2024') comes back as int
    # and both the groupBy keys and the xxhash64 inputs differ from
    # ``expected`` — the audit would spuriously abort every publish on
    # such a lake, making maintenance permanently impossible (ADVICE r13).
    staged_audit = _audit_by_collection(
        spark.read.schema(df.schema).parquet(stage)
    )
    if staged_audit != expected:
        fs.delete(P(txn), True)  # live lake untouched — abort backward
        raise RuntimeError(
            "publish: audit failed — staged (count, hash) "
            f"{staged_audit} != expected {expected}; transaction aborted, "
            "lake unchanged"
        )
    parts = _partition_dir_names(fs, P, stage)

    # -- journal (the commit point): the exact live files each staged
    # partition SUPERSEDES — any live file not named here was appended
    # later and must survive recovery untouched. The per-partition
    # listing is metadata RPCs like recovery's converge loop: one
    # JVM-side call for the whole batch when the compiled helper is
    # available, the pooled Python loop otherwise.
    ops = _batch_ops(spark)
    if ops is not None:
        superseded = dict(zip(parts, ops.list_visible_many(
            fs, [f"{root}/{name}" for name in parts]
        )))
    else:
        superseded = dict(
            zip(parts, _pooled_map(
                lambda name: _list_visible_files(fs, P, f"{root}/{name}"),
                parts,
            ))
        )
    fs.mkdirs(P(backup))
    _write_json_atomic(
        fs, P, f"{txn}/{_JOURNAL}",
        {"partitions": superseded,
         "counts_total": sum(n for n, _h in expected.values())},
    )
    _crash_if(_fail_point, "after_journal")

    # -- publish: park superseded files, promote staged files ------------
    def _swap_partition(name: str) -> None:
        live = f"{root}/{name}"
        for rel in superseded[name]:
            _rename_into(
                fs, P, f"{live}/{rel}", f"{backup}/{name}/{rel}",
                dst_disposable=True,  # park: a partial backup copy redoes
            )
        if name == parts[0]:
            _crash_if(_fail_point, "mid_swap")
        for rel in _list_visible_files(fs, P, f"{stage}/{name}"):
            _rename_into(fs, P, f"{stage}/{name}/{rel}", f"{live}/{rel}")
        fs.delete(P(f"{stage}/{name}"), True)  # now only empty dirs/CRCs

    # the FIRST partition swaps with Python-side phase boundaries so the
    # mid_swap/after_swap_one crash windows stay deterministic for the
    # injection suite; the REST swap in one JVM-side batch call (or the
    # pooled Python loop when no compiler is available) — each
    # partition's swap touches only its own files, every step is
    # idempotent, and a crash anywhere in the batched region is exactly
    # the journal-present state recovery converges
    if parts:  # non-empty whenever expected is, but never IndexError
        if ops is not None:
            live0 = f"{root}/{parts[0]}"
            ops.move_batch(fs, [
                (f"{live0}/{rel}", f"{backup}/{parts[0]}/{rel}")
                for rel in superseded[parts[0]]
            ], dst_disposable=True)  # park: partial backup copies redo
            _crash_if(_fail_point, "mid_swap")
            ops.promote_stage(fs, f"{stage}/{parts[0]}", live0)
            _crash_if(_fail_point, "after_swap_one")
            ops.swap_batch(
                fs, root, stage, backup,
                [(n, superseded[n]) for n in parts[1:]],
            )
        else:
            _swap_partition(parts[0])
            _crash_if(_fail_point, "after_swap_one")
            _pooled_map(_swap_partition, parts[1:])
    _crash_if(_fail_point, "before_cleanup")

    # every staged file is live — only now may old data be deleted
    fs.delete(P(txn), True)


def recover_lake(
    spark: SparkSession,
    lake_root: str,
    *,
    stale_after_secs: float | None = None,
) -> list[dict]:
    """Converge any crashed publish transactions under ``lake_root`` to a
    consistent lake and return what was done: one ``{"txn": ...,
    "action": "aborted" | "rolled_forward" | "cleaned"}`` per transaction
    (empty list = nothing pending, the common case — one existence probe).

    - no journal → the crash preceded the commit point: the stage may be
      incomplete but the live lake is untouched — ABORT (delete the
      transaction directory).
    - journal present → the staged data passed its audit: ROLL FORWARD
      at file granularity, each step idempotent (a move that already
      happened is skipped). Per journaled partition: park any journaled
      superseded file still in the live directory, then promote any file
      still in the stage. Files in the live directory the journal does
      NOT name were appended after the snapshot (e.g. a restarted
      stream's replayed batch) — they are preserved untouched; that is
      the property the file-level journal exists for. Afterwards delete
      the transaction (backups included).

    Runs under the maintenance lock (re-entrant, so the in-protocol call
    and the lock-holding maintenance entry points just nest): a recovery
    racing an ACTIVE publish would fight the publisher's own renames.
    The idle fast path stays one existence probe — a lake with no
    ``.maint`` directory has nothing pending and never had a publisher,
    so it returns before any lock I/O. ``stale_after_secs`` is the TTL
    escape hatch for a crashed owner on a DIFFERENT host (the same-host
    dead-pid break cannot see across hosts — review r14): pass it here
    or via the CLI's ``recover --break-lock-after`` so multi-host
    deployments converge unattended.
    """
    jvm, fs, P = _fs(spark, lake_root)
    root = lake_root.rstrip("/")
    maint = P(f"{root}/{MAINT_DIR}")
    if not fs.exists(maint):
        return []
    with maintenance_lock(spark, lake_root, stale_after_secs=stale_after_secs):
        return _recover_under_lock(spark, lake_root)


def _recover_under_lock(spark: SparkSession, lake_root: str) -> list[dict]:
    jvm, fs, P = _fs(spark, lake_root)
    root = lake_root.rstrip("/")
    actions: list[dict] = []
    statuses = fs.globStatus(P(f"{root}/{MAINT_DIR}/txn-*")) or []
    for status in statuses:
        txn = str(status.getPath())
        journal_path = f"{txn}/{_JOURNAL}"
        if not fs.exists(P(journal_path)):
            fs.delete(P(txn), True)
            actions.append({"txn": txn, "action": "aborted"})
            continue
        journal = _read_json(jvm, fs, P, journal_path)

        def _converge_partition(item) -> int:
            """Finish one partition's park+promote — each partition's
            convergence touches only its own files, so partitions are
            independent and safe to run concurrently; every step stays
            idempotent (a crash mid-recovery just re-runs)."""
            name, rels = item
            stg, live, bkp = (
                f"{txn}/stage/{name}",
                f"{root}/{name}",
                f"{txn}/backup/{name}",
            )
            for rel in rels:  # finish parking (skips already-parked;
                # a partial backup copy from a mid-copy crash redoes)
                _rename_into(
                    fs, P, f"{live}/{rel}", f"{bkp}/{rel}",
                    dst_disposable=True,
                )
            staged = _list_visible_files(fs, P, stg)
            for rel in staged:  # finish promoting
                _rename_into(fs, P, f"{stg}/{rel}", f"{live}/{rel}")
            if fs.exists(P(stg)):
                fs.delete(P(stg), True)
            return 1 if staged else 0

        # a large journal is LATENCY-bound, not bandwidth-bound — ONE
        # JVM-side call converges the whole journal when the compiled
        # helper is available (see _MAINT_POOL_WORKERS + the regenerated
        # BENCH_RECOVERY.json for the before/after numbers)
        ops = _batch_ops(spark)
        if ops is not None:
            rolled = ops.converge_batch(
                fs, txn, root, list(journal["partitions"].items())
            )
        else:
            rolled = sum(
                _pooled_map(_converge_partition, journal["partitions"].items())
            )
        fs.delete(P(txn), True)
        actions.append(
            {"txn": txn, "action": "rolled_forward" if rolled else "cleaned"}
        )
    actions.extend(_sweep_lock_debris(jvm, fs, P, root))
    return actions


# A takeover crashed between pre-staging its claim and installing it
# leaves LOCK.claim-<uuid> behind; one crashed between claiming a break
# and deleting the tombstone leaves LOCK.stale-<uuid>. Claims hold only
# the crashed contender's OWN payload — safe to delete once old enough
# that no live takeover can still be mid-flight. Tombstones are NEVER
# auto-deleted: the restore-failure path explicitly preserves a yanked
# LIVE writer's payload there for manual resolution, and recovery cannot
# distinguish that from a genuinely stale one — so they are REPORTED.
_CLAIM_SWEEP_AGE_SECS = 3600.0


def _sweep_lock_debris(jvm, fs, P, root: str) -> list[dict]:
    actions: list[dict] = []
    now_ms = jvm.java.lang.System.currentTimeMillis()
    claims = fs.globStatus(
        P(f"{root}/{MAINT_DIR}/{_LOCK_NAME}.claim-*")
    ) or []
    for s in claims:
        if now_ms - s.getModificationTime() > _CLAIM_SWEEP_AGE_SECS * 1000:
            fs.delete(s.getPath(), False)
            actions.append(
                {"txn": str(s.getPath()), "action": "cleaned_claim"}
            )
    tombs = fs.globStatus(
        P(f"{root}/{MAINT_DIR}/{_LOCK_NAME}.stale-*")
    ) or []
    for s in tombs:
        actions.append(
            {"txn": str(s.getPath()), "action": "tombstone_preserved"}
        )
    return actions
