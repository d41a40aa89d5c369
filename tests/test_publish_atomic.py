"""Crash-injection tests for the write-audit-publish protocol
(sources/publish.py) — the round-13 fix for the one data-loss vector the
r12 VERDICT flagged: dynamic partition overwrite's non-atomic commit on
a plain file lake.

Each test builds a small two-collection lake, kills the publish at a
named protocol point (``_fail_point`` raises ``InjectedCrash`` with no
cleanup, exactly like a process kill), asserts the lake still reads
CONSISTENTLY (every collection shows either the complete old state or
the complete new state — never a partial or empty partition that
existed before), then runs ``recover_lake`` and asserts the lake
converges to exactly the intended post-rewrite state with the
transaction debris gone.
"""

import glob

import pytest
from pyspark.sql import functions as F

from mortar_parquet_support_spark.sources.ingest import write_lake
from mortar_parquet_support_spark.sources.maintenance import compact_collections
from mortar_parquet_support_spark.sources.publish import (
    MAINT_DIR,
    InjectedCrash,
    publish_rewrite,
    recover_lake,
)

FAIL_POINTS = [
    "after_stage",      # stage written, journal NOT — must abort backward
    "after_journal",    # commit point passed, no rename yet — roll forward
    "mid_swap",         # live moved to backup, stage not yet promoted: the
                        # nastiest window (partition momentarily absent)
    "after_swap_one",   # first partition swapped, second not
    "before_cleanup",   # all swapped, transaction debris still on disk
]


def _lake_df(spark, n_per_coll=6):
    rows = [
        (coll, f"{i:08x}-0000-0000-0000-00000000000{c}",
         f"2024-01-01 00:00:{i:02d}", float(i + c), f"lbl{i}",
         f"urn:{coll}/lbl{i}")
        for c, coll in enumerate(["bldgA", "bldgB"])
        for i in range(n_per_coll)
    ]
    return spark.createDataFrame(
        rows, ["collection", "uuid", "time", "value", "label", "uri"]
    ).withColumn("time", F.col("time").cast("timestamp"))


def _snapshot(spark, root):
    return {
        (r.collection, r.uuid, str(r.time), r.value)
        for r in spark.read.parquet(root).collect()
    }


@pytest.fixture()
def lake(spark, tmp_path):
    root = str(tmp_path / "lake")
    write_lake(_lake_df(spark), root)
    return root


def _rewrite_frame(spark, root):
    """The intended rewrite: every value doubled — recognizably NEW rows
    in BOTH collections, so any lost/partial partition is detectable."""
    return (
        spark.read.parquet(root)
        .withColumn("value", F.col("value") * 2)
        .select("collection", "uuid", "time", "value", "label", "uri")
    )


@pytest.mark.parametrize("point", FAIL_POINTS)
def test_crash_then_recover_converges(spark, lake, point):
    old = _snapshot(spark, lake)
    new = {
        (c, u, t, v * 2) for (c, u, t, v) in old
    }

    with pytest.raises(InjectedCrash):
        publish_rewrite(_rewrite_frame(spark, lake), lake, _fail_point=point)

    # -- post-crash, pre-recovery: NO DATA LOSS, per-collection consistency.
    # mid_swap legitimately hides one collection from readers (its live dir
    # is parked in backup); every collection that IS visible must be a
    # complete old or complete new copy.
    visible = _snapshot(spark, lake)
    for coll in ["bldgA", "bldgB"]:
        got = {t for t in visible if t[0] == coll}
        want_old = {t for t in old if t[0] == coll}
        want_new = {t for t in new if t[0] == coll}
        assert got in (want_old, want_new, set()), (
            f"{point}: collection {coll} is PARTIAL after crash"
        )
        if got == set():
            # absence is only legal inside the one documented swap window,
            # and only with the old copy parked in the backup dir
            assert point == "mid_swap", f"{point}: {coll} vanished"
            backed = glob.glob(
                f"{lake}/{MAINT_DIR}/txn-*/backup/collection={coll}/*.parquet"
            )
            assert backed, "mid_swap crash without a backup copy = data loss"

    # -- recovery converges: old state iff the crash preceded the journal,
    # new state after it; debris gone either way
    actions = recover_lake(spark, lake)
    assert len(actions) == 1
    expected_action = "aborted" if point == "after_stage" else (
        "cleaned" if point == "before_cleanup" else "rolled_forward"
    )
    assert actions[0]["action"] == expected_action
    final = _snapshot(spark, lake)
    assert final == (old if point == "after_stage" else new)
    assert glob.glob(f"{lake}/{MAINT_DIR}/txn-*") == []

    # recovery is idempotent and the next publish runs clean end-to-end
    assert recover_lake(spark, lake) == []
    publish_rewrite(_rewrite_frame(spark, lake), lake)
    assert _snapshot(spark, lake) == {
        (c, u, t, v * 2) for (c, u, t, v) in final
    }


def test_next_maintenance_op_self_heals_without_explicit_recover(spark, lake):
    """A crashed transaction is converged automatically by the NEXT
    maintenance op (compact/upsert recover before reading) — the
    property that makes stream_ingest(compact_every=N) self-healing
    across driver crashes: the next cadence tick calls
    compact_if_fragmented -> compact_collections -> recover_lake."""
    old = _snapshot(spark, lake)
    with pytest.raises(InjectedCrash):
        publish_rewrite(
            _rewrite_frame(spark, lake), lake, _fail_point="after_journal"
        )
    # no recover_lake call: compaction must finish the crashed x2 rewrite
    # first, then compact the converged rows unchanged
    compact_collections(spark, lake)
    assert _snapshot(spark, lake) == {
        (c, u, t, v * 2) for (c, u, t, v) in old
    }
    assert glob.glob(f"{lake}/{MAINT_DIR}/txn-*") == []


def test_audit_mismatch_aborts_with_lake_untouched(spark, lake, monkeypatch):
    """A stage whose read-back counts disagree with the source frame must
    abort BEFORE the journal — live lake byte-identical, no debris."""
    import mortar_parquet_support_spark.sources.publish as pub

    old = _snapshot(spark, lake)
    real = pub._audit_by_collection
    calls = {"n": 0}

    def skewed(df):
        calls["n"] += 1
        got = dict(real(df))
        if calls["n"] == 2:  # the staged read-back
            n, h = got["bldgA"]
            got["bldgA"] = (n, h + 1)  # a value-hash mismatch must abort
        return got

    monkeypatch.setattr(pub, "_audit_by_collection", skewed)
    with pytest.raises(RuntimeError, match="audit failed"):
        publish_rewrite(_rewrite_frame(spark, lake), lake)
    assert _snapshot(spark, lake) == old
    assert glob.glob(f"{lake}/{MAINT_DIR}/txn-*") == []


def test_new_partition_and_empty_rewrite(spark, lake):
    """Inserting a previously-absent collection takes the no-backup rename
    path; an empty frame publishes nothing (and journals nothing)."""
    extra = spark.createDataFrame(
        [("bldgC", "00000000-0000-0000-0000-0000000000ff",
          "2024-02-01 00:00:00", 7.0, "lblX", "urn:bldgC/lblX")],
        ["collection", "uuid", "time", "value", "label", "uri"],
    ).withColumn("time", F.col("time").cast("timestamp"))
    publish_rewrite(extra, lake)
    assert spark.read.parquet(lake).filter(
        F.col("collection") == "bldgC"
    ).count() == 1

    publish_rewrite(extra.limit(0), lake)  # no-op, no txn debris
    assert glob.glob(f"{lake}/{MAINT_DIR}/txn-*") == []


def test_streaming_auto_compaction_crash_loses_nothing(spark, tmp_path):
    """The end-to-end scenario VERDICT r12 called the one data-loss
    vector: stream_ingest(compact_every=N)'s in-batch compaction dies
    mid-publish (the streaming checkpoint cannot replay compacted-away
    history). With the r13 protocol the crash must lose NOTHING: the
    stream restart's next compaction tick recovers the transaction, and
    every ingested reading is still present (at-least-once may duplicate
    the crashed batch's appends — that documented caveat is unchanged —
    but history must never vanish)."""
    from tests.conftest import make_stream_csv

    import mortar_parquet_support_spark.sources.publish as pub
    from mortar_parquet_support_spark.sources.ingest import stream_ingest

    src = tmp_path / "csvs"
    dest = str(tmp_path / "lake")
    ckpt = str(tmp_path / "ckpt")
    src.mkdir()
    uuids = [f"{i:08d}-2222-5222-8222-{i:012d}" for i in range(4)]
    expected = set()
    for i, u in enumerate(uuids):
        rows = [(f"2024-03-0{i + 1} 00:00:0{j}+00:00", float(10 * i + j))
                for j in range(3)]
        make_stream_csv(src, u, f"/pt/{i}", rows)
        expected |= {(u, v) for _, v in rows}

    real = pub._crash_if

    def once(fail_point, here):
        if here == "mid_swap" and not getattr(once, "fired", False):
            once.fired = True
            raise InjectedCrash(here)
        real(fail_point, here)

    pub._crash_if = once
    try:
        q = stream_ingest(
            spark, "bldg1", str(src), dest, checkpoint_dir=ckpt,
            compact_every=1, compact_max_files=1, max_files_per_trigger=1,
        )
        with pytest.raises(Exception):  # the injected crash kills the query
            q.awaitTermination(120)
            q.processAllAvailable()
    finally:
        pub._crash_if = real
        for active in spark.streams.active:
            active.stop()

    # mid-crash the lake may be missing the parked collection — but the
    # history is in the transaction backup, never deleted
    assert glob.glob(f"{dest}/{MAINT_DIR}/txn-*")

    # restart the SAME stream (same checkpoint): the next compaction tick
    # recovers the crashed transaction before probing, the replayed batch
    # re-appends (at-least-once), and the drain completes
    q2 = stream_ingest(
        spark, "bldg1", str(src), dest, checkpoint_dir=ckpt,
        compact_every=1, compact_max_files=1, max_files_per_trigger=1,
    )
    q2.awaitTermination(120)

    got = {
        (r.uuid, r.value)
        for r in spark.read.parquet(dest).select("uuid", "value").collect()
    }
    assert expected <= got  # every reading survived the crash
    assert glob.glob(f"{dest}/{MAINT_DIR}/txn-*") == []  # debris converged


def test_numeric_collection_name_publishes(spark, tmp_path):
    """ADVICE r13: the staged read-back previously let partition-value
    type INFERENCE retype a numeric-looking collection ('2024' -> int),
    so the audit keys/hashes differed from the source frame and every
    publish on such a lake spuriously aborted — maintenance permanently
    impossible. The read-back now pins the source schema."""
    root = str(tmp_path / "lake")
    df = spark.createDataFrame(
        [("2024", "00000000-0000-0000-0000-000000000001",
          "2024-01-01 00:00:00", 1.0, "lbl", "urn:2024/lbl")],
        ["collection", "uuid", "time", "value", "label", "uri"],
    ).withColumn("time", F.col("time").cast("timestamp"))
    write_lake(df, root)
    publish_rewrite(
        spark.read.schema(df.schema).parquet(root)
        .withColumn("value", F.col("value") * 2)
        .select(*df.columns),
        root,
    )
    got = spark.read.schema(df.schema).parquet(root).collect()
    assert len(got) == 1 and got[0].value == 2.0
    assert glob.glob(f"{root}/{MAINT_DIR}/txn-*") == []


def test_direct_publish_on_stale_frame_aborts(spark, lake):
    """ADVICE r13: a direct publish_rewrite caller whose frame was built
    BEFORE a pending journaled transaction rolled forward must abort —
    publishing it would supersede the recovered rows with a frame that
    never read them (silent lost update). The lake itself converges."""
    old = _snapshot(spark, lake)
    stale = _rewrite_frame(spark, lake)  # x2, built on pre-crash state
    stale.collect()  # force the read before the crash below
    with pytest.raises(InjectedCrash):
        publish_rewrite(
            _rewrite_frame(spark, lake), lake, _fail_point="after_journal"
        )
    with pytest.raises(RuntimeError, match="rolled forward"):
        publish_rewrite(stale, lake)
    # the attempt still converged the lake (recovery ran) and left no txn
    assert _snapshot(spark, lake) == {
        (c, u, t, v * 2) for (c, u, t, v) in old
    }
    assert glob.glob(f"{lake}/{MAINT_DIR}/txn-*") == []
    # a frame rebuilt from the converged lake publishes cleanly
    publish_rewrite(_rewrite_frame(spark, lake), lake)
    assert _snapshot(spark, lake) == {
        (c, u, t, v * 4) for (c, u, t, v) in old
    }


def test_journal_is_single_use(spark, tmp_path):
    """ADVICE r13 hardening: writing a journal where one already exists is
    a commit-point mutation and must raise the specific contract error,
    not a generic rename failure."""
    from mortar_parquet_support_spark.sources.publish import (
        _fs,
        _write_json_atomic,
    )

    root = str(tmp_path / "j")
    jvm, fs, P = _fs(spark, root)
    path = f"{root}/journal.json"
    _write_json_atomic(fs, P, path, {"a": 1})
    with pytest.raises(RuntimeError, match="journal already exists"):
        _write_json_atomic(fs, P, path, {"a": 2})


# ---------------------------------------------------------------------------
# single-writer enforcement (r14): the create-exclusive .maint/LOCK
# ---------------------------------------------------------------------------

def _lock_path(root):
    return f"{root}/{MAINT_DIR}/LOCK"


def test_concurrent_publish_rejected_while_first_holds_lock(spark, lake):
    """VERDICT r13 'Next round' #1, the done-criterion verbatim: publish A
    is HELD mid-protocol (at its after_journal fail point, via an event
    pair instead of a raise), publish B must abort loudly with
    ConcurrentMaintenanceError — two concurrent rewrites would journal
    overlapping supersede-lists. A then finishes normally."""
    import threading

    import mortar_parquet_support_spark.sources.publish as pub
    from mortar_parquet_support_spark.sources.publish import (
        ConcurrentMaintenanceError,
    )

    old = _snapshot(spark, lake)
    entered, release = threading.Event(), threading.Event()
    real = pub._crash_if

    def holder(fail_point, here):
        if here == "after_journal":
            entered.set()
            assert release.wait(120), "test deadlock: holder never released"
        real(fail_point, here)

    errors = []

    def run_a():
        try:
            publish_rewrite(_rewrite_frame(spark, lake), lake)
        except Exception as e:  # surfaced after join
            errors.append(e)

    pub._crash_if = holder
    t = threading.Thread(target=run_a, daemon=True)
    try:
        t.start()
        assert entered.wait(120), "publish A never reached its hold point"
        import os

        assert os.path.exists(_lock_path(lake))
        with pytest.raises(ConcurrentMaintenanceError, match="maintenance"):
            publish_rewrite(_rewrite_frame(spark, lake), lake)
    finally:
        release.set()
        t.join(120)
        pub._crash_if = real
    assert not errors, errors
    assert _snapshot(spark, lake) == {
        (c, u, t_, v * 2) for (c, u, t_, v) in old
    }
    import os

    assert not os.path.exists(_lock_path(lake))  # released on exit


def test_stale_lock_from_dead_same_host_owner_is_broken(spark, lake):
    """A real kill leaves the LOCK behind. When the payload names THIS
    host and a provably dead pid, the next writer breaks it automatically
    — the property that keeps stream_ingest's auto-compaction self-healing
    across driver crashes."""
    import json as _json
    import os
    import subprocess

    dead = subprocess.Popen(["true"])
    dead.wait()  # reaped: the pid is provably not running
    os.makedirs(f"{lake}/{MAINT_DIR}", exist_ok=True)
    with open(_lock_path(lake), "w") as f:
        _json.dump(
            {"owner": "x", "pid": dead.pid,
             "host": __import__("socket").gethostname()},
            f,
        )
    old = _snapshot(spark, lake)
    publish_rewrite(_rewrite_frame(spark, lake), lake)  # breaks the stale lock
    assert _snapshot(spark, lake) == {
        (c, u, t, v * 2) for (c, u, t, v) in old
    }
    assert not os.path.exists(_lock_path(lake))


def test_live_or_foreign_lock_is_respected(spark, lake):
    """A lock owned by a LIVE pid (here: our own) must never be broken;
    neither must one whose payload can't prove staleness (foreign host) —
    unless the caller opts into time-based takeover via stale_after_secs,
    judged by the lock FILE's mtime, not the payload's clock."""
    import json as _json
    import os

    from mortar_parquet_support_spark.sources.publish import (
        ConcurrentMaintenanceError,
        maintenance_lock,
    )

    os.makedirs(f"{lake}/{MAINT_DIR}", exist_ok=True)
    with open(_lock_path(lake), "w") as f:
        _json.dump({"owner": "x", "pid": os.getpid(), "host": "elsewhere"}, f)
    with pytest.raises(ConcurrentMaintenanceError, match="elsewhere"):
        publish_rewrite(_rewrite_frame(spark, lake), lake)
    # time-based takeover: the file was written "now", so a generous TTL
    # still refuses...
    with pytest.raises(ConcurrentMaintenanceError):
        with maintenance_lock(spark, lake, stale_after_secs=3600):
            pass
    # ...and a zero TTL takes over (age > 0 by the time we re-check)
    import time

    time.sleep(0.05)
    with maintenance_lock(spark, lake, stale_after_secs=0.01):
        assert os.path.exists(_lock_path(lake))
    assert not os.path.exists(_lock_path(lake))


def test_stream_auto_compaction_skips_tick_when_lake_is_locked(
    spark, tmp_path
):
    """A foreign maintenance lock must NOT kill an ingesting stream: the
    auto-compaction tick is best-effort housekeeping, so it skips with a
    warning and the batch's data still commits; the unbroken foreign
    lock survives."""
    import json as _json
    import os

    from tests.conftest import make_stream_csv

    from mortar_parquet_support_spark.sources.ingest import stream_ingest

    src = tmp_path / "csvs"
    dest = str(tmp_path / "lake")
    src.mkdir()
    u = "00000000-2222-5222-8222-000000000001"
    rows = [(f"2024-03-01 00:00:0{j}+00:00", float(j)) for j in range(3)]
    make_stream_csv(src, u, "/pt/0", rows)

    os.makedirs(f"{dest}/{MAINT_DIR}", exist_ok=True)
    with open(_lock_path(dest), "w") as f:
        _json.dump(
            {"owner": "x", "pid": os.getpid(), "host": "elsewhere"}, f
        )
    q = stream_ingest(
        spark, "bldg1", str(src), dest,
        checkpoint_dir=str(tmp_path / "ckpt"),
        compact_every=1, compact_max_files=1,
    )
    q.awaitTermination(120)
    got = {
        (r.uuid, r.value)
        for r in spark.read.parquet(dest).select("uuid", "value").collect()
    }
    assert got == {(u, v) for _, v in rows}  # the batch itself committed
    assert os.path.exists(_lock_path(dest))  # foreign lock never broken


def test_ttl_never_breaks_a_provably_live_same_host_owner(spark, lake):
    """Review r14: the TTL must not break a lock whose owner is provably
    RUNNING on this host (a writer merely stalled in a long Spark stage)
    — liveness evidence beats age."""
    import json as _json
    import os
    import socket
    import time

    from mortar_parquet_support_spark.sources.publish import (
        ConcurrentMaintenanceError,
        maintenance_lock,
    )

    os.makedirs(f"{lake}/{MAINT_DIR}", exist_ok=True)
    with open(_lock_path(lake), "w") as f:
        _json.dump(
            {"owner": "x", "pid": os.getpid(),
             "host": socket.gethostname()},
            f,
        )
    time.sleep(0.05)
    with pytest.raises(ConcurrentMaintenanceError):
        with maintenance_lock(spark, lake, stale_after_secs=0.01):
            pass
    assert os.path.exists(_lock_path(lake))  # still held, never broken


def test_unreadable_payload_lock_needs_ttl_to_break(spark, lake):
    """A lock whose payload never landed (crash between create and
    write) proves nothing: without a TTL it is respected loudly; with
    one it is breakable — the escape hatch for the orphan the payload
    write failure path can no longer create (review r14)."""
    import os
    import time

    from mortar_parquet_support_spark.sources.publish import (
        ConcurrentMaintenanceError,
        maintenance_lock,
    )

    os.makedirs(f"{lake}/{MAINT_DIR}", exist_ok=True)
    open(_lock_path(lake), "w").close()  # empty: unreadable payload
    with pytest.raises(ConcurrentMaintenanceError, match="unreadable"):
        publish_rewrite(_rewrite_frame(spark, lake), lake)
    time.sleep(0.05)
    with maintenance_lock(spark, lake, stale_after_secs=0.01):
        assert os.path.exists(_lock_path(lake))
    assert not os.path.exists(_lock_path(lake))


def test_release_never_deletes_a_taken_over_lock(spark, tmp_path):
    """Review r14: a writer whose lock was TTL-taken-over while it ran
    must not delete the NEW owner's lock on release — that would reopen
    the concurrency the lock exists to prevent."""
    import json as _json
    import os

    from mortar_parquet_support_spark.sources.publish import (
        _fs,
        _release_lock,
    )

    root = str(tmp_path / "lake")
    os.makedirs(f"{root}/{MAINT_DIR}", exist_ok=True)
    lock = _lock_path(root)
    with open(lock, "w") as f:
        _json.dump({"owner": "the-new-owner", "pid": 1, "host": "h"}, f)
    jvm, fs, P = _fs(spark, root)
    with pytest.warns(UserWarning, match="taken over"):
        _release_lock(jvm, fs, P, lock, my_owner="the-old-owner")
    assert os.path.exists(lock)  # the new owner's lock survives
    _release_lock(jvm, fs, P, lock, my_owner="the-new-owner")
    assert not os.path.exists(lock)


def test_recover_sweeps_old_claims_and_preserves_tombstones(spark, tmp_path):
    """Crashed takeovers leave LOCK.claim-* (the contender's own staged
    payload — deletable once provably abandoned) and LOCK.stale-*
    (possibly a yanked live writer's payload — NEVER auto-deleted, only
    reported). recover_lake sweeps the first and surfaces the second."""
    import os
    import time

    root = str(tmp_path / "lake")
    maint = f"{root}/{MAINT_DIR}"
    os.makedirs(maint, exist_ok=True)
    old_claim = f"{maint}/LOCK.claim-deadbeef"
    fresh_claim = f"{maint}/LOCK.claim-cafebabe"
    tomb = f"{maint}/LOCK.stale-0ddba11"
    for p in (old_claim, fresh_claim, tomb):
        open(p, "w").write("{}")
    two_hours_ago = time.time() - 7200
    os.utime(old_claim, (two_hours_ago, two_hours_ago))

    actions = recover_lake(spark, root)
    kinds = {a["action"] for a in actions}
    assert kinds == {"cleaned_claim", "tombstone_preserved"}
    assert not os.path.exists(old_claim)  # provably abandoned: swept
    assert os.path.exists(fresh_claim)  # could be a live takeover: kept
    assert os.path.exists(tomb)  # may hold a yanked payload: kept


def test_maintenance_lock_is_reentrant_per_thread(spark, tmp_path):
    """compact_if_fragmented -> compact_collections -> publish_rewrite ->
    recover_lake all take the lock; nesting within one thread must
    compose, and the lock must survive until the OUTERMOST exit."""
    import os

    from mortar_parquet_support_spark.sources.publish import maintenance_lock

    root = str(tmp_path / "lake")
    os.makedirs(root, exist_ok=True)
    with maintenance_lock(spark, root):
        with maintenance_lock(spark, root):
            assert os.path.exists(_lock_path(root))
        assert os.path.exists(_lock_path(root))  # inner exit keeps it
    assert not os.path.exists(_lock_path(root))


def test_compact_goes_through_atomic_publish(spark, lake, tmp_path):
    """Compaction publishes through publish_rewrite, so it rides the
    protocol: a compaction crash at the commit point leaves the lake
    whole, and the NEXT compaction self-heals and completes."""
    import mortar_parquet_support_spark.sources.publish as pub

    write_lake(_lake_df(spark), lake)  # second append -> work to compact
    total = spark.read.parquet(lake).count()

    real = pub._crash_if

    def once(fail_point, here):
        if here == "mid_swap" and not getattr(once, "fired", False):
            once.fired = True
            raise InjectedCrash(here)
        real(fail_point, here)

    pub._crash_if = once
    try:
        with pytest.raises(InjectedCrash):
            compact_collections(spark, lake)
    finally:
        pub._crash_if = real

    recover_lake(spark, lake)
    assert spark.read.parquet(lake).count() == total
    before = len(glob.glob(f"{lake}/collection=bldgA/*.parquet"))
    compact_collections(spark, lake)
    after = len(glob.glob(f"{lake}/collection=bldgA/*.parquet"))
    assert after <= before
    assert spark.read.parquet(lake).count() == total
