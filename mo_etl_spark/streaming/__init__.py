"""Streaming operators (SURVEY.md §2.9).

Reference streaming is pipeline-level (u — ActiveData-ETL consumes
queues with mo-threads Thread/Queue/Signal and processes S3 blocks
incrementally; mo-streams gives pull pipelines).  Here the same
capabilities map to Structured Streaming: sources -> transformations
-> sinks with checkpointing; watermarks + event-time windows are
engine additions using Spark-native concepts.

Every windowing function below is BATCH-FIRST: it takes any DataFrame
(static or streaming) and returns the transformed DataFrame, so the
identical code path serves the DuckDB-oracle-checked batch queries and
the readStream smoke tests.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import socket
import threading
import time
from collections.abc import Callable, Iterable, Iterator, Sequence
from functools import reduce
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery


def batch_subdir(root: str, batch_id: int) -> str:
    """The per-micro-batch output directory ``root/b<batch_id>``."""
    return os.path.join(root, f"b{batch_id}")


def seed_batched(root: str, snapshot: str, extra: dict | None = None) -> None:
    """Create a batched table whose generation-0 base is an EXTERNAL
    snapshot referenced IN PLACE — the shallow-clone seed (Delta
    ``CLONE`` / Iceberg ``register_table``): the manifest names the
    snapshot's absolute path as the live base, so the table is
    manifest-committed from trigger 0 (readers take the normal
    base-generation path, no convention-named ``base`` dir) and ZERO
    bytes are copied (VERDICT r7 item #6 — the pre-r8 fixture
    copytree'd the snapshot into the run dir).  The external base is
    REFERENCED, never owned: the first compaction consolidates its
    rows into a root-local generation and records the absolute path as
    consumed, and every GC path skips absolute entries — the shared
    snapshot can seed any number of tables concurrently and outlives
    them all.  The snapshot must be immutable while referenced (it is
    a content-keyed cache entry here; production would pin a version).

    ``extra`` commits serving metadata describing the SNAPSHOT's rows
    atomically with the gen-0 pointer (read_manifest_extra) — e.g. the
    probe-key partition spec (``{"spec_n": n}``) the snapshot was
    bucketed under, so spec-aware readers know the base's layout from
    trigger 0.
    """
    os.makedirs(root, exist_ok=True)
    _write_manifest(root, 0, os.path.abspath(snapshot), {}, extra=extra)


def idempotent_batch_write(
    batch_df: DataFrame,
    root: str,
    batch_id: int,
    partition_cols: Sequence[str] | None = None,
) -> None:
    """REPLAY-IDEMPOTENT foreachBatch write (VERDICT r4 item #1).

    foreachBatch is at-least-once under failure: a micro-batch that
    crashes after a partial sink write is replayed from the checkpoint
    on restart, and a plain ``mode("append")`` sink would then
    double-append its rows.  Keying every write by batch_id — each
    batch OVERWRITES its own ``root/b<batch_id>`` subdirectory —
    makes replay a no-op: the rewrite replaces any partial files from
    the crashed attempt with the identical complete output (the batch
    content is deterministic given the checkpointed source offsets).
    Readers take the union of subdirectories (``read_batched``).

    ``partition_cols`` writes the batch partitioned by those columns
    (hive-style ``col=value`` subdirs) — the PROBE-KEYED state layout
    (VERDICT r5 item #1): a persisted index/corpus partitioned by its
    probe key serves later triggers via partition pruning instead of
    full state scans.  The batch is coalesced to ONE task first: a
    micro-batch is one trigger's data, so a single task writing one
    file per partition value costs no shuffle and no n_tasks ×
    n_partitions slivers (a deployment with huge triggers would
    ``repartition(partition_cols)`` instead — the index-SNAPSHOT
    builds in the suites do exactly that).

    A replay whose ``b<batch_id>`` dir is already COMPLETE (its
    ``_SUCCESS`` marker exists) is a NO-OP: the batch content is
    deterministic given the checkpointed offsets, so the bytes on disk
    are already the write's outcome — and skipping closes a real race
    the r8 concurrent-interleaving model check found on its first run:
    an overwrite-replay rewrites part files under NEW names while a
    concurrent compactor's in-flight build still holds the old file
    list, failing the build mid-job (safe — nothing was committed —
    but a spurious compaction abort).  Only an INCOMPLETE dir (crash
    mid-write, no marker) is rewritten."""
    dst = batch_subdir(root, batch_id)
    if os.path.exists(os.path.join(dst, "_SUCCESS")):
        return
    w = batch_df
    if partition_cols:
        w = w.coalesce(1)
    w = w.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(dst)


def stage_batch_write(
    batch_df: DataFrame,
    root: str,
    batch_id: int,
    branch: str,
    partition_cols: Sequence[str] | None = None,
) -> None:
    """BRANCH-SCOPED batch write (r11 WAP): the staging twin of
    idempotent_batch_write, landing in ``root/b<id>.stage.<branch>``
    — a name NO main-path reader, fold, or vacuum ever matches (they
    all filter ``b<digits>``), so an abandoned branch's data can
    never leak into main reads even after competing commits push the
    watermark past its staged ids (visibility-by-id-range alone
    cannot give that guarantee).  publish_branch renames the staged
    dirs to their ``b<id>`` names inside the publish — still inert
    until the pointer moves, because their ids sit above the
    watermark until exactly that moment.  Same replay-idempotent
    _SUCCESS discipline as the main-path write."""
    _validate_branch(branch)
    dst = os.path.join(root, f"b{int(batch_id)}.stage.{branch}")
    if os.path.exists(os.path.join(dst, "_SUCCESS")):
        return
    w = batch_df
    if partition_cols:
        w = w.coalesce(1)
    w = w.write.mode("overwrite")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(dst)


def idempotent_batch_write_to(root: str) -> Callable[[DataFrame, int], None]:
    """Curried ``idempotent_batch_write`` — the sink callable shape
    ``foreach_batch_etl``/``foreachBatch`` consume."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        idempotent_batch_write(batch_df, root, batch_id)

    return sink


#: batched-table control files.  _MANIFEST is the table's root
#: pointer (which base generation is live, which subdirs it consumed);
#: .compact_new is the in-flight rewrite readers must skip;
#: .tombstones holds retraction ids awaiting their compaction fold;
#: .compact_lease is the single-compactor mutual exclusion
#: (dot-prefixed: never part of the live-dir union).
_MANIFEST = "_MANIFEST"
_COMPACT_NEW = ".compact_new"
_TOMBSTONES = ".tombstones"
_CHANGES = ".changes"
_COMPACT_LEASE = ".compact_lease"
#: recorded in the lease payload so the pid-liveness shortcut never
#: reclaims a live compactor running on ANOTHER host of a shared
#: filesystem (there, only TTL expiry applies — ADVICE r7)
_HOSTNAME = socket.gethostname()


class CompactorBusy(RuntimeError):
    """Another compactor holds the table's lease (or committed a
    generation under an expired one).  The loser must NOT proceed:
    pre-lease, two concurrent compactors would reclaim each other's
    in-flight builds and double-promote generations (VERDICT r6
    what's-wrong #3).  Catch it and retry after the maintenance
    window, or treat it as 'someone else is already doing the work'."""


def _acquire_lease(root: str, ttl_sec: float) -> str:
    """Claim the table's compactor lease via exclusive-create — the
    local twin of an object store's conditional PUT (if-none-match),
    which is what keeps the protocol portable.  A holder is stale when
    its TTL expired or its pid is provably dead (local fast path,
    applied ONLY when the holder recorded the same hostname — on a
    shared filesystem a pid unknown HERE may be alive on another host,
    where only TTL expiry applies; ADVICE r7).  Stale reclaim is
    remove-then-recreate, which two reclaimers can interleave (A
    removes+creates, B removes A's fresh lease and creates its own —
    the ADVICE r7 medium), so it is hardened twice: the remove is
    CONDITIONAL on the lease still holding the exact token judged
    stale, and after creating our lease we RE-READ it and abort unless
    the token on disk is ours.  Both holders of an interleave that
    slips past the conditional remove therefore can't BOTH verify, and
    the builders that do race further never share a build dir (each
    compactor builds into ``.compact_new.<token>``) — CAS-on-gen at
    the commit point alone decides the winner.  An unreadable lease is
    BUSY, not stale — it may be a winner mid-write."""
    path = os.path.join(root, _COMPACT_LEASE)
    token = f"{os.getpid()}-{threading.get_ident()}-{time.time_ns()}"
    for attempt in range(2):
        try:
            fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        except FileExistsError:
            try:
                with open(path) as f:
                    holder = json.load(f)
                expires = float(holder["expires"])
                pid = int(holder["pid"])
            except (OSError, ValueError, KeyError):
                raise CompactorBusy(
                    f"compactor lease at {path!r} is held (unreadable — "
                    "possibly mid-claim); retry after the maintenance window"
                ) from None
            pid_dead = False
            # pid-liveness shortcut only for a SAME-HOST holder; a
            # lease written on another host (shared fs) with no
            # hostname, or a different hostname, waits for its TTL
            if pid != os.getpid() and holder.get("host") == _HOSTNAME:
                try:
                    os.kill(pid, 0)
                except ProcessLookupError:
                    pid_dead = True
                except OSError:
                    pass
            if time.time() < expires and not pid_dead:
                raise CompactorBusy(
                    f"compactor lease at {path!r} is held by pid {pid} on "
                    f"host {holder.get('host')!r} until {expires:.0f}; "
                    "single-compactor operation is "
                    "the contract — the loser aborts instead of destroying "
                    "the winner's build"
                )
            # stale: crashed or wedged holder — reclaim and retry, but
            # only while the file still carries the token we judged
            # stale (a fresh lease written between our read and this
            # remove must survive; check-then-remove is not atomic, so
            # the verify-after-create below is the backstop)
            try:
                with open(path) as f:
                    if json.load(f).get("token") == holder.get("token"):
                        os.remove(path)
            except (OSError, ValueError):
                pass
            continue
        with os.fdopen(fd, "w") as f:
            json.dump(
                {
                    "token": token,
                    "pid": os.getpid(),
                    "host": _HOSTNAME,
                    "expires": time.time() + ttl_sec,
                },
                f,
            )
            f.flush()
            os.fsync(f.fileno())
        # verify-after-create: a concurrent reclaimer acting on a view
        # from before our create may have removed our fresh lease and
        # written its own — the disk decides, not the create we won
        try:
            with open(path) as f:
                if json.load(f).get("token") == token:
                    return token
        except (OSError, ValueError):
            pass
        raise CompactorBusy(
            f"compactor lease at {path!r} was reclaimed out from under "
            "this claim (concurrent stale-lease takeover); the surviving "
            "holder proceeds"
        )
    raise CompactorBusy(f"could not claim compactor lease at {path!r}")


def _release_lease(root: str, token: str) -> None:
    """Release only OUR lease — after a TTL-expiry takeover the file
    belongs to the new holder, and removing it would let a third
    compactor in."""
    path = os.path.join(root, _COMPACT_LEASE)
    try:
        with open(path) as f:
            if json.load(f).get("token") != token:
                return
        os.remove(path)
    except (OSError, ValueError):
        pass


#: group commit lease bounds, shared by every group-pointer writer
#: (txn_commit, txn_reserve, publish_branch) and evolve_schema's wait.
#: The bounds surface a deadlock, not enforce timing: commits are
#: ms-scale, and a 30 s wait fired spuriously under host CPU-steal
#: storms (r12).  The TTL keeps a storm-paused committer from being
#: reclaimed mid-commit (a dead holder is reclaimed at once by pid).
_GROUP_LEASE_TTL_SEC = 300.0
_LEASE_WAIT_SEC = 120.0


@contextlib.contextmanager
def _hold_lease(
    root: str, ttl_sec: float, wait_sec: float = 0.0
) -> Iterator[str]:
    """Hold ``root``'s lease for the ``with`` body — the one way every
    lease holder claims and releases (yields the token).  A busy lease
    is retried every 5 ms until ``wait_sec`` has passed (0 = one
    attempt: maintenance ops abort rather than queue), then the NAMED
    CompactorBusy is re-raised carrying the holder's pid and host and
    how long this claim waited.  Only the claim is retried: a
    CompactorBusy raised by the body itself (a CAS-on-gen abort)
    propagates as is.  Released in ``finally`` — our token only."""
    t0 = time.monotonic()
    while True:
        try:
            token = _acquire_lease(root, ttl_sec)
            break
        except CompactorBusy as e:
            waited = time.monotonic() - t0
            if waited >= wait_sec:
                raise CompactorBusy(
                    f"{e} (gave up after waiting {waited:.2f} s of "
                    f"{wait_sec:g} s)"
                ) from None
            time.sleep(0.005)
    try:
        yield token
    finally:
        _release_lease(root, token)


def append_tombstones(df: DataFrame, root: str) -> None:
    """RETRACT rows from a batched table without rewriting it (the
    merge-on-read delete of Delta/Iceberg): append the dead keys to
    the table's ``.tombstones`` side table.  Probe-time readers
    broadcast-anti-join it (small by nature — takedowns, GDPR
    erasure); the next compaction with ``tombstone_col=`` FOLDS the
    set physically and resets it, so the side table never grows past
    one compaction interval and probes never pay a stale anti-join
    forever (VERDICT r6 what's-wrong #2)."""
    df.coalesce(1).write.mode("append").parquet(os.path.join(root, _TOMBSTONES))


def _live_tomb_files(root: str) -> list[str]:
    """The tombstone files a probe should anti-join: everything in the
    side table MINUS the files a committed fold already consumed (the
    manifest's ``tombs`` map).  Consumed files stay ON DISK at their
    path until ``gc_grace_sec`` elapses — the same retention-grace
    discipline as consumed batch dirs (r8): a concurrent reader that
    planned its anti-join against the pre-fold file list may still be
    executing when the fold commits, and an immediate ``os.remove``
    would fail that read mid-scan.  Exclusion is by manifest, deletion
    is by grace — readers never repair."""
    tdir = os.path.join(root, _TOMBSTONES)
    if not os.path.isdir(tdir):
        return []
    man = _read_manifest(root)
    consumed = set(man.get("tombs", {})) if man else set()
    return sorted(
        os.path.join(tdir, n)
        for n in os.listdir(tdir)
        if n.endswith(".parquet") and n not in consumed
    )


def has_tombstones(root: str) -> bool:
    """True when retraction keys are pending (cheap directory-listing
    + manifest probe — lets hot probe paths skip the anti-join
    entirely in the common no-retractions case instead of planning a
    join against an empty side table every trigger).  Files a
    committed fold consumed are NOT pending, even while they remain on
    disk inside their retention-grace window."""
    return bool(_live_tomb_files(root))


def read_tombstones(spark: SparkSession, root: str, schema: str) -> DataFrame:
    """The table's pending retraction keys (empty DataFrame of
    ``schema`` when none have been appended since the last fold).
    Reads the LIVE file list explicitly, so grace-retained consumed
    files are excluded without touching them."""
    live = _live_tomb_files(root)
    if not live:
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*live)


def _read_manifest(root: str) -> dict | None:
    """The committed manifest, or None when the table has never been
    compacted.  ``consumed`` maps each excluded dir to the epoch
    seconds at which it was first excluded (the GC grace clock).  A
    present-but-unparseable manifest raises a NAMED error rather than
    silently mis-reading the table: the write protocol (tmp + fsync +
    rename, see _write_manifest) guarantees readers see either the
    old or the new complete manifest, so a corrupt one means outside
    interference, and ignoring it would drop the compacted base from
    every read."""
    path = os.path.join(root, _MANIFEST)
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return None
    try:
        man = json.loads(text)
        if not isinstance(man, dict):
            raise ValueError("not an object")
        _ = man["gen"], man["base"], man["consumed"]
        if not isinstance(man["consumed"], dict):
            raise ValueError("consumed must map dir -> excluded-at epoch")
        return man
    except (ValueError, KeyError) as e:
        raise ValueError(
            f"corrupt batched-table manifest {path!r}: {e}; the manifest is "
            "written atomically (tmp+fsync+rename), so this indicates outside "
            "modification — restore it or remove the table"
        ) from e


def _write_manifest(
    root: str,
    gen: int,
    base: str,
    consumed: dict[str, float],
    extra: dict | None = None,
    tombs: dict[str, float] | None = None,
    plain: bool | None = None,
    change: str | None = None,
) -> None:
    """THE COMMIT POINT of a compaction: atomically replace the
    manifest.  fsync-before-rename (and fsync of the directory after)
    so a power loss can never leave a persisted-but-empty manifest;
    on an object store this whole function is one PUT — no rename
    atomicity is required of the storage layer, which is what makes
    the protocol portable off the local filesystem (VERDICT r5
    what's-wrong #2).

    ``extra`` is an optional JSON payload committed ATOMICALLY with
    the generation pointer — serving metadata that must never be
    stale relative to the base's rows (e.g. the ANN hot-cell
    (cell, n_subs) map: a sidecar written after the commit could be
    lost to a crash, leaving probes under-expanded and results
    silently wrong; inside the manifest, the map and the rows it
    describes become visible in the same PUT)."""
    path = os.path.join(root, _MANIFEST)
    tmp = path + ".tmp"
    man = {"gen": gen, "base": base, "consumed": consumed}
    if plain is not None:
        # PLAIN-FOLD MARKER (r10): True = this generation rewrote its
        # inputs VERBATIM modulo the tombstone anti-join — no transform
        # re-derived rows, no rollback reverted content.  The marker is
        # what makes the adjacent-generation change-file CDF fast path
        # (diff_batched_adjacent) sound: across a window of plain
        # folds, the newly consumed batch dirs + newly folded tombstone
        # files ARE the delta.  Absent/False = reconstructing the delta
        # from consumed names is unsound; readers fall back to the
        # snapshot diff.
        man["plain"] = bool(plain)
    if change is not None:
        # CHANGE-FILE POINTER (r11, VERDICT r10 item #4): the name of
        # this generation's materialized delta under ``.changes/`` —
        # a TRANSFORM fold (rebucket, requantize, PQ re-encode) that
        # opted into ``change_feed=True`` wrote the row-level
        # base-to-base diff it just enacted, so adjacent-generation
        # CDF consumers can cross the maintenance window
        # delta-proportionally instead of falling back to the snapshot
        # diff (Delta writes CDF files on MERGE for the same reason).
        man["change"] = str(change)
    if extra is not None:
        man["extra"] = extra
    if tombs:
        # tombstone files a fold consumed: excluded from probes by
        # name here, physically deleted only once grace-expired (the
        # r8 twin of the consumed-dir retention discipline); names ARE
        # pruned after deletion — unlike batch ids, a tombstone file
        # name (random part-file UUID) is never replayed
        man["tombs"] = tombs
    with open(tmp, "w") as f:
        f.write(json.dumps(man, sort_keys=True))
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
    dfd = os.open(root, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    # MANIFEST LOG (r8 time travel): a per-generation copy beside the
    # live pointer — the Iceberg metadata-log twin.  Written AFTER the
    # commit (a crash between the two leaves the log one entry short,
    # which simply narrows that table's travel horizon by one
    # generation; the LIVE pointer is never at risk).  Generations are
    # NOT write-once: the data-less tombstone-consume path recommits
    # the SAME generation with an updated tombs map, so the entry is
    # REWRITTEN (atomic tmp+rename — log readers see the old or new
    # complete copy) whenever its content drifted from the live commit
    # (ADVICE r8 low: the old exists-check kept the first copy, leaving
    # the log's tombs/consumed stale for that gen).  Content-compared
    # first so the steady state stays one cheap read, no write.
    log = os.path.join(root, f"{_MANIFEST}.g{gen}")
    payload = json.dumps(man, sort_keys=True)
    current: str | None = None
    try:
        with open(log) as f:
            current = f.read()
    except OSError:
        pass
    if current != payload:
        with open(log + ".tmp", "w") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
        os.rename(log + ".tmp", log)


def read_manifest_extra(root: str) -> dict:
    """The ``extra`` payload the LIVE compaction generation committed
    (empty dict when the table was never compacted, or was compacted
    without a transform).  Read this — never a separate sidecar — for
    metadata that must match the base generation's rows exactly: the
    manifest write is the commit point, so the payload can never be
    newer or older than the rows it describes."""
    man = _read_manifest(root)
    extra = man.get("extra") if man else None
    return dict(extra) if isinstance(extra, dict) else {}


class SnapshotVacuumed(RuntimeError):
    """The requested historical generation's base was already
    garbage-collected (its retention grace expired) — the travel
    horizon is the vacuum window, exactly as in Delta/Iceberg: time
    travel reads files that retention has not yet reclaimed; it never
    resurrects them."""


def read_manifest_log(root: str) -> dict[int, dict]:
    """The table's immutable per-generation manifest log (r8 time
    travel — the Iceberg metadata-log twin): gen -> the manifest as
    first committed.  A generation missing from the log (crash between
    the live-pointer commit and the log append, or a pre-log table)
    simply is not travelable; the live pointer is unaffected."""
    out: dict[int, dict] = {}
    if not os.path.isdir(root):
        return out
    for n in os.listdir(root):
        if not n.startswith(_MANIFEST + ".g") or n.endswith(".tmp"):
            continue
        try:
            g = int(n[len(_MANIFEST) + 2:])
            with open(os.path.join(root, n)) as f:
                out[g] = json.load(f)
        except (OSError, ValueError):
            continue
    return out


def _protected_bases(root: str, keep_last_gens: int | None) -> set[str]:
    """Base-dir names of the most recent ``keep_last_gens`` generations
    in the manifest log — exempt from grace-based GC, so operators can
    GUARANTEE a time-travel depth independent of wall-clock (VERDICT r8
    item #4; the retain-last side of Iceberg's expire_snapshots).
    Absolute bases (external seed snapshots) need no protection — GC
    never owns them."""
    if not keep_last_gens:
        return set()
    log = read_manifest_log(root)
    keep = sorted(log)[-int(keep_last_gens):]
    return {
        log[g]["base"] for g in keep if not os.path.isabs(log[g]["base"])
    }


def _group_protected_names(
    root: str, keep_last_txns: "tuple[str, int] | None"
) -> set[str]:
    """Root-local dir names (bases + batch dirs) that the LAST K
    transaction records of a group reference for this member — exempt
    from every vacuum path, so operators can GUARANTEE a GROUP travel
    depth (r11, VERDICT r10 item #3: the group twin of
    ``keep_last_gens``).  Without it the group horizon is the MINIMUM
    of its members' horizons: one aggressive member expiry vacuums a
    generation a recent txn record still references, and
    ``read_group_at`` can only fail NAMED — never stay green.

    A txn record pins, for each member rooted here: the recorded
    generation's base, plus every batch dir at or below the txn id
    that generation had not consumed (exactly the set _group_entries_at
    resolves).  Batch-name candidates are the union of the root
    listing and the live manifest's consumed map — a name consumed by
    a LATER generation is precisely the one that needs protecting.
    ``keep_last_txns`` is ``(group_root, K)``."""
    if not keep_last_txns:
        return set()
    group_root, k = keep_last_txns
    # BRANCH SCAN FIRST, main log second (r11 ordering, found by the
    # WAP threaded model): a publish_branch landing between the two
    # reads moves records from the branch namespace into the main log
    # — scanned in this order, a mid-flight publish's records are
    # caught by one side or the other; the reverse order has a window
    # where they are visible to neither and a racing vacuum reaps the
    # stage-time generation that just became one of the last K.
    staged_recs: list[tuple[int, dict]] = []
    try:
        gnames = os.listdir(group_root)
    except OSError:
        gnames = []
    bprefix = f"{_TXN}.b."
    for bn in gnames:
        if not bn.startswith(bprefix) or ".tmp" in bn:
            continue
        try:
            with open(os.path.join(group_root, bn)) as f:
                rec = json.load(f)
            staged_recs.append((int(rec["txn"]), rec))
        except (OSError, ValueError, KeyError, TypeError):
            continue
    tlog = txn_log(group_root)
    if not tlog and not staged_recs:
        return set()
    # TAGGED txns (r11): an immutable named ref pins its transaction
    # against retention FOREVER, however small K is — the
    # reproducible-dataset guarantee (Iceberg tag semantics); drop the
    # tag to let the snapshot age out
    keep = sorted(
        set(sorted(tlog)[-max(int(k), 1):])
        | {t for t in list_tags(group_root).values() if t in tlog}
    )
    mlog = read_manifest_log(root)
    man = _read_manifest(root)
    candidates = {
        d
        for d in (os.listdir(root) if os.path.isdir(root) else [])
        if d.startswith("b") and d[1:].isdigit()
    } | {
        n
        for n in (man["consumed"] if man else {})
        if n.startswith("b") and n[1:].isdigit()
    }
    # BRANCH-STAGED records join the pin (scanned above, before the
    # main log, for the publish-race ordering): a staged txn's
    # record is invisible to the main log until publish, yet its
    # stage-time generation becomes one of the "last K" the instant
    # the pointer moves.
    out: set[str] = set()
    rootn = os.path.normpath(root)
    records = [(t, tlog[t]) for t in keep] + staged_recs
    for t, rec in records:
        for member in rec["tables"].values():
            if os.path.normpath(member["root"]) != rootn:
                continue
            gen = int(member["gen"])
            consumed_at: set[str] = set()
            if gen in mlog:
                consumed_at = set(mlog[gen]["consumed"])
                if not os.path.isabs(mlog[gen]["base"]):
                    out.add(mlog[gen]["base"])
            for n in candidates:
                if int(n[1:]) <= t and n not in consumed_at:
                    out.add(n)
    return out


def expire_snapshots(
    root: str,
    keep_last_n: int,
    older_than_sec: float = 0.0,
    lease_ttl_sec: float = 3600.0,
    keep_last_txns: "tuple[str, int] | None" = None,
) -> list[int]:
    """RETENTION-COUNT snapshot expiry (VERDICT r8 item #4 — the
    Iceberg ``expire_snapshots`` twin): actively vacuum the base dirs
    of every generation EXCEPT the most recent ``keep_last_n``, so the
    table's travel horizon becomes exactly-the-last-N independent of
    wall-clock — time travel past the depth raises the NAMED
    SnapshotVacuumed.  ``older_than_sec`` composes the wall-clock knob
    (only expire generations whose base was manifest-excluded at least
    that long ago — Iceberg's ``older_than``; default 0 expires
    immediately, the deterministic-depth mode).

    Never deleted, regardless of N: the LIVE generation's base (always
    within the last N anyway — it is the max gen), any base SHARED
    with a kept generation (rollback commits FORWARD to an old base,
    so one dir can serve several log entries — expiring the old gen
    must not vacuum the rolled-forward live rows; its travel entry
    then simply outlives its siblings, the same files-shared-between-
    snapshots behavior Iceberg has), and external seed snapshots
    (absolute paths — referenced, never owned).  Manifest-log entries
    are kept: they are tiny, and a vacuumed gen's entry is what makes
    the failure a NAMED SnapshotVacuumed instead of a mystery.

    ``keep_last_txns=(group_root, K)`` (r11, VERDICT r10 item #3)
    additionally exempts every generation referenced by the group's
    last K transaction records — the GROUP retention guarantee: a
    member expiry can never shrink ``read_group_at``'s horizon below K
    transactions, however aggressive ``keep_last_n`` is.  Past K the
    vacuum proceeds and group travel raises the NAMED SnapshotVacuumed
    as before.

    Lease-guarded like any maintenance op (a concurrent compactor's
    in-flight build must not race the deletes).  Returns the expired
    generation numbers."""
    with _hold_lease(root, lease_ttl_sec):
        return _expire_snapshots_locked(
            root, keep_last_n, older_than_sec, keep_last_txns
        )


def _expire_snapshots_locked(
    root: str,
    keep_last_n: int,
    older_than_sec: float = 0.0,
    keep_last_txns: "tuple[str, int] | None" = None,
) -> list[int]:
    """expire_snapshots body for callers that already hold the table's
    lease (write_ann_index runs it inside its build-commit critical
    section)."""
    man = _read_manifest(root)
    log = read_manifest_log(root)
    gens = sorted(log)
    keep = set(gens[-max(int(keep_last_n), 1):])
    kept_bases = {log[g]["base"] for g in keep}
    kept_bases |= _group_protected_names(root, keep_last_txns)
    live_base = man["base"] if man else None
    consumed = dict(man["consumed"]) if man else {}
    now = time.time()
    expired: list[int] = []
    for g in gens:
        if g in keep:
            continue
        base = log[g]["base"]
        if os.path.isabs(base):
            continue  # external seed: referenced, never owned
        if base == live_base or base in kept_bases:
            continue  # shared with the live/kept generations
        if now - consumed.get(base, 0.0) < older_than_sec:
            continue
        p = os.path.join(root, base)
        if not os.path.isdir(p):
            continue  # already vacuumed (grace GC or a prior expiry)
        shutil.rmtree(p, ignore_errors=True)
        expired.append(g)
    return expired


def read_batched_at(
    spark: SparkSession,
    root: str,
    gen: int,
    schema: str | None = None,
    partitioned: bool = False,
) -> DataFrame:
    """TIME-TRAVEL read: the table exactly as of generation ``gen``'s
    commit.  Snapshots exist at COMPACTION POINTS — a commit
    consolidates every live dir into its base, so "the table at gen N"
    is precisely ``base<N>``'s rows (batches written after N belong to
    no snapshot until N+1 consumes them; Iceberg's snapshot-per-commit
    has the same shape, it just commits more often).  Readable while
    retention keeps the old base on disk (``gc_grace_sec``): within
    the grace window the dir is manifest-excluded but intact; once
    vacuumed, SnapshotVacuumed — time travel never blocks GC and never
    resurrects files.

    ``partitioned=True`` mirrors read_batched's flag (ADVICE r8
    medium): a base written by a ``partition_cols`` compaction is
    hive-partitioned (``col=value`` children), and the default
    recursiveFileLookup read DISABLES hive discovery — the partition
    column would read back null (with schema) or be missing (without).
    Pass True for probe-keyed state tables so time travel — and
    diff_batched keyed on a partition column — sees the full schema;
    ``schema`` (when given) must include the partition columns, same
    contract as read_batched."""
    log = read_manifest_log(root)
    if gen not in log:
        raise SnapshotVacuumed(
            f"batched table {root!r} has no manifest-log entry for "
            f"generation {gen} (pre-log table, never committed, or the "
            f"log append was lost to a crash); travelable: {sorted(log)}"
        )
    base = log[gen]["base"]
    entries = _entries(
        [base if os.path.isabs(base) else os.path.join(root, base)], log[gen]
    )
    if not entries:
        raise SnapshotVacuumed(
            f"generation {gen}'s base {base!r} of {root!r} was vacuumed "
            "(retention grace expired) — the travel horizon is the vacuum "
            "window"
        )
    return _union(
        spark,
        lambda e: _read_dir(spark, e, schema, partitioned),
        entries,
        schema,
        pack=False,
    )


def diff_batched(
    spark: SparkSession,
    root: str,
    gen_from: int,
    gen_to: int,
    key_cols: Sequence[str],
    schema: str | None = None,
    partitioned: bool = False,
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """CHANGE DATA FEED between two committed generations (the Delta
    CDF / Iceberg changelog twin, riding the r8 manifest log): the
    keyed delta a downstream consumer applies to catch up from
    ``gen_from`` to ``gen_to`` without replaying the table — rows
    whose key appears only in the newer snapshot come back with
    ``_change = 'insert'``, only in the older with ``'delete'``.
    Both snapshots must still be travelable (SnapshotVacuumed
    otherwise — the feed's horizon is the vacuum window, exactly like
    time travel).  Keyed, not positional: this protocol's tables
    mutate by append + retraction fold, so a key present in both
    snapshots is by construction the same row and emits nothing
    (an updated-payload table would retract + re-append, which this
    feed reports as delete + insert — the merge-on-read shape).

    IMMUTABLE-PAYLOAD-PER-KEY CONTRACT (ADVICE r9): the key-only diff
    is exact only when a key never re-appears with a different
    payload inside one feed window — a key retracted AND re-appended
    with new non-key values between the two snapshots emits nothing.
    For tables that mutate payloads in place, pass ``compare_cols``:
    keys present in BOTH snapshots whose named columns differ
    (null-safe comparison) then emit ``delete`` (old payload) +
    ``insert`` (new payload), the full merge-on-read shape.  Kept
    opt-in because comparison shuffles the payload columns, while the
    key-only diff shuffles keys alone.

    Cost: two base scans + one full-outer anti pass on the keys —
    never a replay of the intermediate batches.  ``partitioned=True``
    for probe-keyed tables whose bases are hive-partitioned — REQUIRED
    when ``key_cols`` names a partition column (the recursive read
    yields it null, which would report every row as both insert and
    delete; ADVICE r8 medium)."""
    lg = read_manifest_log(root)

    def _nops(g: int) -> int:
        e = (lg.get(g) or {}).get("extra")
        return len(e.get("schema_ops") or []) if isinstance(e, dict) else 0

    if _nops(gen_from) != _nops(gen_to):
        # the window crosses a rename/drop (r11): ONE explicit schema
        # cannot read both endpoints by name — the old end would yield
        # nulls for renamed columns and the keyed diff would silently
        # report every row as changed
        raise SchemaEvolved(
            f"change feed window ({gen_from}, {gen_to}] on {root!r} "
            "crosses a schema-evolution generation — re-seed the "
            "consumer from the evolved snapshot"
        )
    a = read_batched_at(spark, root, gen_from, schema, partitioned=partitioned)
    b = read_batched_at(spark, root, gen_to, schema, partitioned=partitioned)
    keys = [str(k) for k in key_cols]
    ins = b.join(a.select(*keys), keys, "left_anti").withColumn(
        "_change", F.lit("insert")
    )
    dels = a.join(b.select(*keys), keys, "left_anti").withColumn(
        "_change", F.lit("delete")
    )
    out = ins.unionByName(dels)
    if compare_cols:
        cc = [str(c) for c in compare_cols]
        av = a.select(*keys, *[F.col(c).alias(f"_a_{c}") for c in cc])
        bv = b.select(*keys, *[F.col(c).alias(f"_b_{c}") for c in cc])
        same = None
        for c in cc:
            eq = F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
            same = eq if same is None else (same & eq)
        changed = av.join(bv, keys, "inner").where(~same).select(*keys)
        out = out.unionByName(
            a.join(changed, keys, "left_semi").withColumn(
                "_change", F.lit("delete")
            )
        ).unionByName(
            b.join(changed, keys, "left_semi").withColumn(
                "_change", F.lit("insert")
            )
        )
    return out


def diff_batched_adjacent(
    spark: SparkSession,
    root: str,
    gen_from: int,
    gen_to: int,
    key_cols: Sequence[str],
    schema: str | None = None,
) -> DataFrame | None:
    """CHANGE-FILE CDF fast path (r10 — the Delta change-file shape):
    across a window of PLAIN folds, the delta between two generations
    is ALREADY MATERIALIZED on disk — the batch dirs the window's
    folds consumed are the inserts, the tombstone files they folded
    are the deletes.  Reading those directly is DELTA-PROPORTIONAL:
    no snapshot scan at all, unlike diff_batched's two key-pruned base
    scans (the sublinear-but-not-flat floor SCALE_r10 measured).

    r11 (VERDICT r10 item #4): a window may now also contain TRANSFORM
    generations that committed a materialized delta
    (``compact_batched(change_feed=True)`` — the Delta MERGE-CDF
    shape): per-generation events compose via _diff_adjacent_mixed,
    still zero snapshot scans.  Key-only semantics are preserved
    exactly: an in-window payload rewrite of a pre-existing key (a
    rebucket moving its bucket column) emits NOTHING, matching
    diff_batched without compare_cols.

    Returns None — caller falls back to the snapshot diff — whenever
    reconstruction is unsound or the change files are gone:
    any generation in ``(gen_from, gen_to]`` missing from the manifest
    log or neither ``plain`` nor carrying a ``change`` file (an
    opted-out transform; a rollback; a pre-r10 fold), a consumed batch
    dir, folded tombstone file, or change file already vacuumed, or a
    tombstone/change file lacking the key columns.

    EXACTNESS CONTRACT (the same append+retraction lifecycle the
    protocol's own tables follow, enforced for the batched MV by the
    resurrection guard): window batches append NEW keys only, and
    tombstones name keys live in the window or in ``gen_from``.  Under
    it the output matches diff_batched row-for-row on inserts; DELETE
    rows carry the key columns with every other column null — the
    change files record keys, not payloads (Delta's CDF has the same
    key-level shape for deletion vectors).  Consumers that only key on
    deletes (apply_change_feed / apply_change_feed_batched) are
    unaffected; a consumer needing full delete payloads uses the
    snapshot diff."""
    log = read_manifest_log(root)
    if gen_from not in log or gen_to not in log:
        return None
    window = list(range(gen_from + 1, gen_to + 1))
    if any(
        g not in log
        or not (log[g].get("plain") or log[g].get("change"))
        for g in window
    ):
        return None
    if all(log[g].get("plain") for g in window):
        cons_from = set(log[gen_from]["consumed"])
        cons_to = set(log[gen_to]["consumed"])
        batch_names = sorted(
            n
            for n in cons_to - cons_from
            if n.startswith("b") and n[1:].isdigit()
        )
        tombs_from = set(log[gen_from].get("tombs") or {})
        tombs_to = set(log[gen_to].get("tombs") or {})
        tomb_files = sorted(
            os.path.join(root, _TOMBSTONES, n) for n in tombs_to - tombs_from
        )
        return _assemble_change_feed(
            spark, root, batch_names, tomb_files, key_cols, schema
        )
    # MIXED window (r11, VERDICT r10 item #4): transform generations
    # that committed a change file compose with plain generations via
    # per-generation events — still zero snapshot scans
    return _diff_adjacent_mixed(
        spark, root, log, gen_from, gen_to, key_cols, schema
    )


def _diff_adjacent_mixed(
    spark: SparkSession,
    root: str,
    log: dict[int, dict],
    gen_from: int,
    gen_to: int,
    key_cols: Sequence[str],
    schema: str | None,
    presence_keys: DataFrame | None = None,
) -> DataFrame | None:
    """Per-generation event collection for an adjacent-diff window
    containing CHANGE-FILE transform generations (r11): plain
    generations contribute their consumed batch dirs (inserts, ord
    g-0.25) and folded tombstone files (deletes, ord g); change
    generations contribute their materialized delta (deletes at
    g-0.25, inserts at g — delete-then-insert inside one generation is
    a payload update, which resolves to finally-present).  Returns
    None whenever any needed artifact is gone or keyed differently —
    the caller falls back to the snapshot diff."""
    keys = [str(k) for k in key_cols]
    ins_events: list[tuple[DataFrame, float]] = []
    del_events: list[tuple[DataFrame, float]] = []
    for g in range(gen_from + 1, gen_to + 1):
        rec, prev = log[g], log.get(g - 1)
        if prev is None:
            return None  # per-generation attribution needs g-1's entry
        if rec.get("plain"):
            bnames = sorted(
                n
                for n in set(rec["consumed"]) - set(prev["consumed"])
                if n.startswith("b") and n[1:].isdigit()
            )
            for n in bnames:
                p = os.path.join(root, n)
                if not os.path.isdir(p):
                    return None  # change file vacuumed: fall back
                ins_events += [
                    (_read_dir(spark, e, schema, True), g - 0.25)
                    for e in _entries([p])
                ]
            tnames = set(rec.get("tombs") or {}) - set(
                prev.get("tombs") or {}
            )
            tfiles = sorted(
                os.path.join(root, _TOMBSTONES, n) for n in tnames
            )
            for fp in tfiles:
                if not os.path.exists(fp):
                    return None
            if tfiles:
                tk = spark.read.parquet(*tfiles)
                if not set(keys) <= set(tk.columns):
                    return None
                del_events.append((tk.select(*keys).distinct(), float(g)))
        else:  # change-file transform generation
            cdir = os.path.join(root, _CHANGES, str(rec["change"]))
            if not os.path.isdir(cdir):
                return None
            if not _entries([cdir]):
                if not os.path.exists(os.path.join(cdir, "_SUCCESS")):
                    return None
                continue  # complete, empty delta: no events
            cf = spark.read.parquet(cdir)
            if not set(keys) <= set(cf.columns):
                return None
            del_events.append(
                (
                    cf.where(F.col("_change") == "delete")
                    .select(*keys)
                    .distinct(),
                    g - 0.25,
                )
            )
            ins_events.append(
                (
                    cf.where(F.col("_change") == "insert").drop("_change"),
                    float(g),
                )
            )
    return _resolve_change_events(
        spark, ins_events, del_events, keys, schema, presence_keys
    )


def _align_to(df: DataFrame, fields) -> DataFrame:
    """Project ``df`` onto the reference fields by name, casting types
    (a hive-discovered partition column reads back INT where the table
    schema says BIGINT) and null-filling absent columns."""
    return df.select(
        *[
            (
                F.col(f.name).cast(f.dataType)
                if f.name in df.columns
                else F.lit(None).cast(f.dataType)
            ).alias(f.name)
            for f in fields
        ]
    )


def _resolve_change_events(
    spark: SparkSession,
    ins_events: "list[tuple[DataFrame, float]]",
    del_events: "list[tuple[DataFrame, float]]",
    key_cols: Sequence[str],
    schema: str | None,
    presence_keys: DataFrame | None = None,
) -> DataFrame | None:
    """Compose a window of per-generation change events into ONE keyed
    feed with exactly ``diff_batched``'s key-only semantics (r11 —
    what makes the change-file fast path sound across TRANSFORM
    generations): each event is (rows, ord) — batch-dir inserts and
    folded-tombstone deletes for plain generations, change-file
    deletes/inserts for transform generations — and per key the
    ordered history resolves to

    - first event insert, finally present  -> INSERT (last payload)
    - first event delete, finally absent   -> DELETE (key-level)
    - first delete, finally present        -> nothing (an in-window
      payload rewrite of a pre-existing key: the key-only snapshot
      diff emits nothing for it either — consumers needing payload
      updates use diff_batched(compare_cols=...))
    - first insert, finally absent         -> nothing (appeared and
      retracted entirely inside the window)

    Ordering inside one generation is what distinguishes a transform
    UPDATE (delete@g-eps then insert@g: finally present) from a plain
    fold that consumed a batch and folded its retraction in the same
    pass (insert@g-eps then tomb delete@g: finally absent) — callers
    assign the fractional ords accordingly.  ``presence_keys`` marks
    keys KNOWN present at window start even though their first event
    is an insert (the group overlay case: a pre-window live batch
    consumed by an in-window transform re-appears in its change file);
    such keys follow the pre-existing rules instead."""
    keys = [str(k) for k in key_cols]
    if not ins_events and schema is None:
        return None  # no schema and nothing to infer one from
    ref_fields = (
        spark.createDataFrame([], schema).schema.fields
        if schema is not None
        else ins_events[0][0].schema.fields
    )
    empty = spark.createDataFrame(
        [], spark.createDataFrame([], schema).schema
    ) if schema is not None else ins_events[0][0].limit(0)
    ins_all = (
        reduce(
            lambda a, b: a.unionByName(b),
            [
                _align_to(df, ref_fields).withColumn("_ord", F.lit(float(o)))
                for df, o in ins_events
            ],
        )
        if ins_events
        else _align_to(empty, ref_fields).withColumn("_ord", F.lit(0.0))
    )
    del_all = (
        reduce(
            lambda a, b: a.unionByName(b),
            [
                df.select(
                    *[F.col(k) for k in keys], F.lit(float(o)).alias("_ord")
                )
                for df, o in del_events
            ],
        )
        if del_events
        else ins_all.select(*keys, "_ord").limit(0)
    )
    INF = float("inf")
    ins_agg = ins_all.groupBy(*keys).agg(
        F.min("_ord").alias("_min_i"), F.max("_ord").alias("_max_i")
    )
    del_agg = del_all.groupBy(*keys).agg(
        F.min("_ord").alias("_min_d"), F.max("_ord").alias("_max_d")
    )
    st = ins_agg.join(del_agg, keys, "full_outer")
    if presence_keys is not None:
        # FULL outer, not left: a present-at-start key with NO window
        # events is a key the transform DROPPED entirely (a pre-window
        # live batch consumed by the fold while its tombstone was
        # folded in the same pass — absent from BOTH bases, so the
        # change file never mentions it).  It must emit DELETE; a left
        # join would silently drop it from the feed.
        st = st.join(
            presence_keys.select(*keys)
            .distinct()
            .withColumn("_pre", F.lit(True)),
            keys,
            "full_outer",
        )
    else:
        st = st.withColumn("_pre", F.lit(None).cast("boolean"))
    present_start = (
        F.coalesce(F.col("_min_d"), F.lit(INF))
        < F.coalesce(F.col("_min_i"), F.lit(INF))
    ) | F.coalesce(F.col("_pre"), F.lit(False))
    final_present = F.coalesce(F.col("_max_i"), F.lit(-INF)) > F.coalesce(
        F.col("_max_d"), F.lit(-INF)
    )
    ins_keys = st.where(~present_start & final_present).select(
        *keys, "_max_i"
    )
    del_keys = st.where(present_start & ~final_present).select(*keys)
    # ALL rows of the key's LAST contributing event — a key may own
    # several rows (the band index holds one row per (id, band) under
    # a single-column id key), and diff_batched emits every one; a
    # row_number()-style single-survivor pick would silently drop the
    # rest.  Rows within one event share its ord, so the max-ord
    # equijoin keeps exactly the winning event's row set.
    out = (
        ins_all.join(ins_keys, keys)
        .where(F.col("_ord") == F.col("_max_i"))
        .drop("_ord", "_max_i")
        .withColumn("_change", F.lit("insert"))
    )
    dels = del_keys
    for f in ref_fields:
        if f.name not in keys:
            dels = dels.withColumn(f.name, F.lit(None).cast(f.dataType))
    return out.unionByName(
        dels.select(*[f.name for f in ref_fields]).withColumn(
            "_change", F.lit("delete")
        )
    )


def _assemble_change_feed(
    spark: SparkSession,
    root: str,
    batch_names: Sequence[str],
    tomb_files: Sequence[str],
    key_cols: Sequence[str],
    schema: str | None,
) -> DataFrame | None:
    """Shared change-file feed assembly (diff_batched_adjacent /
    diff_group_adjacent): inserts = the named batch dirs minus window
    tombstone keys, deletes = window tombstone keys minus window
    inserts (key-level, other columns null).  None when a change file
    is gone or the tombstones aren't keyed on ``key_cols``."""
    keys = [str(k) for k in key_cols]
    paths = [os.path.join(root, n) for n in batch_names]
    if not all(os.path.isdir(p) for p in paths):
        return None  # change file vacuumed: fall back
    for fp in tomb_files:
        if not os.path.exists(fp):
            return None
    entries = _entries(paths)
    if not entries and schema is None:
        return None  # no schema, no insert files to infer one from
    ins_raw = _union(
        spark,
        lambda e: _read_dir(spark, e, schema, True),
        entries,
        schema,
        pack=False,
    )
    tomb_keys: DataFrame | None = None
    if tomb_files:
        tk = spark.read.parquet(*list(tomb_files))
        if not set(keys) <= set(tk.columns):
            return None  # tombstones keyed differently: fall back
        tomb_keys = tk.select(*keys).distinct()
    ins = ins_raw
    if tomb_keys is not None:
        ins = ins.join(tomb_keys, keys, "left_anti")
    out = ins.withColumn("_change", F.lit("insert"))
    if tomb_keys is not None:
        dels = tomb_keys.join(
            ins_raw.select(*keys).distinct(), keys, "left_anti"
        )
        for f in ins_raw.schema.fields:
            if f.name not in keys:
                dels = dels.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
        out = out.unionByName(
            dels.select(*ins_raw.columns).withColumn(
                "_change", F.lit("delete")
            )
        )
    return out


def diff_group_adjacent(
    spark: SparkSession,
    group_root: str,
    txn_from: int,
    txn_to: int,
    alias: str,
    key_cols: Sequence[str],
    schema: str | None = None,
) -> DataFrame | None:
    """GROUP-LEVEL change-file CDF (r10): the keyed delta of ONE
    member of a multi-table group between two committed TRANSACTIONS —
    inserts are the member's batch dirs in ``(txn_from, txn_to]``
    (batch ids are the group's trigger ids, so the window is the same
    for every member), deletes the tombstone files folded by the
    member's generations across the same window.  Calling this for
    each member at one txn pair advances a multi-MV consumer of the
    whole group (e.g. a serving tier mirroring the dedup trio) from
    ONE consistent vector — the group twin of diff_batched_adjacent,
    delta-proportional for the same reason.

    Returns None (fall back to per-member snapshot diffs between
    read_group_at views) when unsound: either txn missing from the
    group log, the member absent or re-rooted, any window generation
    missing from the member's manifest log or neither plain nor
    carrying a change file (r11 — transform folds that opted into
    ``change_feed=True`` now serve the fast path too), a change
    file vacuumed, or tombstones keyed differently.  Same
    append+retraction exactness contract as diff_batched_adjacent."""
    tlog = txn_log(group_root)
    if txn_from not in tlog or txn_to not in tlog:
        return None
    m_from = tlog[txn_from]["tables"].get(alias)
    m_to = tlog[txn_to]["tables"].get(alias)
    if not m_from or not m_to or m_from["root"] != m_to["root"]:
        return None
    root = m_to["root"]
    g_from, g_to = int(m_from["gen"]), int(m_to["gen"])
    mlog = read_manifest_log(root) if os.path.isdir(root) else {}
    window = list(range(g_from + 1, g_to + 1))
    for g in window:
        if g not in mlog or not (
            mlog[g].get("plain") or mlog[g].get("change")
        ):
            return None

    def _bid(n: str) -> bool:
        return n.startswith("b") and n[1:].isdigit()

    def _inwin(n: str) -> bool:
        return _bid(n) and txn_from < int(n[1:]) <= txn_to

    cons_from = (
        set(mlog[g_from]["consumed"]) if g_from in mlog else set()
    )
    cons_to = set(mlog[g_to]["consumed"]) if g_to in mlog else set()
    batch_names = sorted(
        d
        for d in (os.listdir(root) if os.path.isdir(root) else [])
        if _inwin(d)
    )
    # every batch id committed in the window must still be on disk —
    # one consumed-then-vacuumed dir makes the reconstruction silently
    # lossy.  Verify against the LIVE manifest's consumed set, not just
    # g_to's (ADVICE r10 medium): a window batch consumed by a LATER
    # generation (live gen > g_to — e.g. a maintenance fold after the
    # last txn_commit) and then grace-vacuumed is invisible to both the
    # os.listdir above and a g_to-only check, so the fast path would
    # return a silently lossy feed (missing inserts).  The live
    # consumed map is a superset of every generation's (names are
    # carried forever), so one check covers both vacuum paths;
    # _group_entries_at applies the same discipline for snapshot reads.
    live_man = _read_manifest(root) if os.path.isdir(root) else None
    cons_later = cons_to | (set(live_man["consumed"]) if live_man else set())
    for n in cons_later - cons_from:
        if _inwin(n) and n not in batch_names:
            return None  # consumed in window and already vacuumed
    if all(mlog[g].get("plain") for g in window):
        tombs_from = (
            set(mlog[g_from].get("tombs") or {})
            if g_from in mlog
            else set()
        )
        tombs_to = (
            set(mlog[g_to].get("tombs") or {}) if g_to in mlog else set()
        )
        tomb_files = sorted(
            os.path.join(root, _TOMBSTONES, n) for n in tombs_to - tombs_from
        )
        return _assemble_change_feed(
            spark, root, batch_names, tomb_files, key_cols, schema
        )
    # MIXED window (r11, VERDICT r10 item #4): transform generations
    # with change files compose per-generation, with two group-only
    # corrections — (a) pre-window LIVE batches a window transform
    # consumed re-appear in its change file as inserts although their
    # rows were already visible in the txn_from view: their keys are
    # marked present-at-start so the resolution treats them as
    # pre-existing; (b) window batches still unconsumed at g_to are
    # direct inserts ordered after every generation event.
    keys = [str(k) for k in key_cols]
    ins_events: list[tuple[DataFrame, float]] = []
    del_events: list[tuple[DataFrame, float]] = []
    presence_parts: list[DataFrame] = []
    covered: set[str] = set()

    def _rd_batches(p: str) -> list[DataFrame]:
        return [_read_dir(spark, e, schema, True) for e in _entries([p])]

    for g in window:
        rec = mlog[g]
        prev = mlog.get(g - 1)
        if prev is not None:
            prev_cons = set(prev["consumed"])
        elif g - 1 == g_from:
            prev_cons = cons_from  # pre-fold member: gen 0, no entry
        else:
            return None
        gained = {
            n for n in set(rec["consumed"]) - prev_cons if _bid(n)
        }
        if rec.get("plain"):
            for n in sorted(gained):
                if not _inwin(n):
                    continue  # pre-window batch folded: no view change
                covered.add(n)
                p = os.path.join(root, n)
                if not os.path.isdir(p):
                    return None
                ins_events += [(df, g - 0.25) for df in _rd_batches(p)]
            tnames = set(rec.get("tombs") or {}) - set(
                (prev or {}).get("tombs") or {}
            )
            tfiles = sorted(
                os.path.join(root, _TOMBSTONES, n) for n in tnames
            )
            for fp in tfiles:
                if not os.path.exists(fp):
                    return None
            if tfiles:
                tk = spark.read.parquet(*tfiles)
                if not set(keys) <= set(tk.columns):
                    return None
                del_events.append((tk.select(*keys).distinct(), float(g)))
        else:  # change-file transform generation
            for n in sorted(gained):
                p = os.path.join(root, n)
                if int(n[1:]) <= txn_from:
                    # pre-window live batch: its keys were visible at
                    # txn_from — needed for the presence correction
                    if not os.path.isdir(p):
                        return None
                    presence_parts += [df.select(*keys) for df in _rd_batches(p)]
                elif _inwin(n):
                    covered.add(n)  # the cf carries its rows
            cdir = os.path.join(root, _CHANGES, str(rec["change"]))
            if not os.path.isdir(cdir):
                return None
            if not _entries([cdir]):
                if not os.path.exists(os.path.join(cdir, "_SUCCESS")):
                    return None
                continue
            cf = spark.read.parquet(cdir)
            if not set(keys) <= set(cf.columns):
                return None
            del_events.append(
                (
                    cf.where(F.col("_change") == "delete")
                    .select(*keys)
                    .distinct(),
                    g - 0.25,
                )
            )
            ins_events.append(
                (
                    cf.where(F.col("_change") == "insert").drop("_change"),
                    float(g),
                )
            )
    for n in batch_names:  # unconsumed-at-g_to window batches
        if n in covered or n in cons_to or n in cons_from:
            continue
        ins_events += [
            (df, g_to + 0.75) for df in _rd_batches(os.path.join(root, n))
        ]
    presence = (
        reduce(lambda a, b: a.unionByName(b), presence_parts)
        if presence_parts
        else None
    )
    return _resolve_change_events(
        spark, ins_events, del_events, keys, schema, presence
    )


#: MV generation cursor — the consumer's transactional resume point
_MV_CURSOR = "_CURSOR"


def read_mv_cursor(mv_root: str) -> int | None:
    """The change-feed consumer's CHECKPOINTED GENERATION CURSOR (r10,
    VERDICT r9 item #3): the upstream generation the MV was last
    advanced to, committed atomically (tmp+fsync+rename — one PUT on
    an object store) AFTER the MV generation dir lands.  This is the
    consumer's resume point: a restart reads one tiny JSON instead of
    scanning MV dirs for _SUCCESS markers, and the value is
    transactional — a kill between the MV write and the cursor commit
    resumes at the OLD cursor and deterministically re-applies (the
    complete g<N> dir is simply overwritten with identical content).
    None = never seeded (or a pre-r10 MV — apply_change_feed falls
    back to the dir scan once and commits the cursor forward)."""
    try:
        with open(os.path.join(mv_root, _MV_CURSOR)) as f:
            return int(json.load(f)["gen"])
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _commit_mv_cursor(mv_root: str, gen: int) -> None:
    """Atomically advance the MV cursor (monotone: a late replay of an
    already-applied generation never regresses it)."""
    cur = read_mv_cursor(mv_root)
    if cur is not None and cur >= int(gen):
        return
    path = os.path.join(mv_root, _MV_CURSOR)
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(json.dumps({"gen": int(gen)}))
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
    dfd = os.open(mv_root, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def latest_materialized_gen(mv_root: str) -> int | None:
    """The newest COMPLETE generation of a change-feed-maintained
    materialized table (apply_change_feed), or None when never seeded.
    Complete = the dir's ``_SUCCESS`` marker exists — a consumer killed
    mid-application leaves an incomplete dir that is simply not the
    latest, so resume re-applies from the last complete one."""
    if not os.path.isdir(mv_root):
        return None
    best: int | None = None
    for n in os.listdir(mv_root):
        if not n.startswith("g"):
            continue
        try:
            g = int(n[1:])
        except ValueError:
            continue
        if os.path.exists(os.path.join(mv_root, n, "_SUCCESS")) and (
            best is None or g > best
        ):
            best = g
    return best


def read_materialized(
    spark: SparkSession, mv_root: str, schema: str | None = None, gen: int | None = None
) -> DataFrame:
    """Read the materialized table at its latest complete generation
    (or an explicit ``gen``)."""
    g = latest_materialized_gen(mv_root) if gen is None else gen
    if g is None:
        raise ValueError(
            f"materialized table {mv_root!r} was never seeded "
            "(materialize_snapshot)"
        )
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(os.path.join(mv_root, f"g{g}"))


def materialize_snapshot(
    spark: SparkSession,
    root: str,
    mv_root: str,
    gen: int,
    schema: str | None = None,
    partitioned: bool = False,
    lease_ttl_sec: float = 3600.0,
) -> None:
    """Seed a downstream materialized table with generation ``gen`` of
    a batched table — the bootstrap step of the CDF->MV maintenance
    loop (apply_change_feed).  Idempotent: a complete ``g<gen>`` dir is
    kept (re-seeding is a no-op); an incomplete one (killed mid-write,
    no _SUCCESS) is overwritten.  Lease-guarded like apply_change_feed
    (two racing seeders would overwrite one dir concurrently)."""
    dst = os.path.join(mv_root, f"g{gen}")
    if os.path.exists(os.path.join(dst, "_SUCCESS")):
        _commit_mv_cursor(mv_root, gen)  # heal a pre-cursor seed
        return
    os.makedirs(mv_root, exist_ok=True)
    with _hold_lease(mv_root, lease_ttl_sec):
        if os.path.exists(os.path.join(dst, "_SUCCESS")):
            _commit_mv_cursor(mv_root, gen)
            return  # a racing seeder finished while we claimed
        read_batched_at(
            spark, root, gen, schema, partitioned=partitioned
        ).write.mode("overwrite").parquet(dst)
        _commit_mv_cursor(mv_root, gen)  # the seed's commit point


def apply_change_feed(
    spark: SparkSession,
    root: str,
    mv_root: str,
    gen_to: int,
    key_cols: Sequence[str],
    schema: str | None = None,
    partitioned: bool = False,
    lease_ttl_sec: float = 3600.0,
    compare_cols: Sequence[str] | None = None,
    change_files: bool = False,
) -> int:
    """CHANGE-FEED CONSUMER (VERDICT r8 item #2 — the Delta-CDF->MV
    maintenance loop): advance a downstream materialized table to the
    upstream batched table's generation ``gen_to`` by APPLYING the
    keyed feed (diff_batched) instead of re-reading the snapshot —
    the incremental-view-maintenance shape: cost scales with the DELTA
    (two snapshot scans for the diff + the MV merge), never with the
    number of intermediate batches, and the MV itself is only
    rewritten, never replayed.

    INHERITS diff_batched's immutable-payload-per-key contract (ADVICE
    r9): with the default key-only feed, a key retracted and
    re-appended with a DIFFERENT payload entirely inside one
    application window emits no feed rows and the MV keeps the stale
    payload — exact only for this protocol's append + retraction
    tables, whose payloads never mutate under a living key.  For
    payload-mutating upstreams pass ``compare_cols``: changed keys
    then flow through as delete + insert and the merge below replaces
    the row.

    Protocol (r10 — VERDICT r9 item #3): resolve the resume point
    ``cur`` from the MV's CHECKPOINTED GENERATION CURSOR
    (read_mv_cursor — one tiny JSON beside the MV, committed
    atomically after each application; a pre-cursor MV falls back to
    the _SUCCESS dir scan once and commits the cursor forward); no-op
    when ``cur >= gen_to``; otherwise merge ``diff_batched(cur,
    gen_to)`` into the ``cur`` rows — deletes anti-joined out by key,
    inserts unioned in — write the result as ``g<gen_to>``, then
    COMMIT the cursor to ``gen_to``.  Each application is
    REPLAY-IDEMPOTENT (deterministic inputs: two immutable snapshots +
    the complete ``g<cur>``), so kill-and-resume is just calling this
    again — a kill between the MV write and the cursor commit resumes
    at the old cursor and overwrites the complete dir with identical
    content; old MV generations are kept for ``prune_materialized`` to
    prune.  Both upstream generations must still be travelable
    (SnapshotVacuumed otherwise — run the consumer more often than the
    upstream vacuum horizon).

    SINGLE-CONSUMER, lease-guarded (r9): two consumers racing the same
    ``mv_root`` would write the same ``g<N>`` dir concurrently —
    Spark's overwrite is not atomic under a concurrent writer, so the
    loser must abort with the NAMED CompactorBusy instead (the same
    ``.compact_lease`` protocol the upstream compactor uses, here on
    the MV root); a crashed consumer's lease expires by TTL/dead-pid
    and the takeover's application is a fresh deterministic rewrite.

    Returns the MV generation after application (``gen_to``, or
    ``cur`` when already caught up)."""

    def _resolve() -> int | None:
        c = read_mv_cursor(mv_root)
        return c if c is not None else latest_materialized_gen(mv_root)

    cur = _resolve()
    if cur is None:
        raise ValueError(
            f"materialized table {mv_root!r} was never seeded — call "
            "materialize_snapshot(root, mv_root, gen) first"
        )
    if cur >= gen_to:
        return cur
    with _hold_lease(mv_root, lease_ttl_sec):
        # re-resolve under the lease: a consumer that raced us here may
        # have advanced the MV while we waited for the claim
        cur = _resolve()
        if cur is None or cur >= gen_to:
            return cur if cur is not None else gen_to
        keys = [str(k) for k in key_cols]
        # change-file fast path (r10): delta-proportional across a
        # plain-fold window, silent fallback to the snapshot diff
        # whenever unsound/vacuumed (diff_batched_adjacent docstring);
        # compare_cols requires payload comparison only the snapshot
        # diff can do
        feed = None
        if change_files and not compare_cols:
            feed = diff_batched_adjacent(
                spark, root, cur, gen_to, keys, schema
            )
        if feed is None:
            feed = diff_batched(
                spark, root, cur, gen_to, keys, schema,
                partitioned=partitioned, compare_cols=compare_cols,
            )
        mv = read_materialized(spark, mv_root, schema, gen=cur)
        dels = feed.where(F.col("_change") == "delete").select(*keys).distinct()
        ins = feed.where(F.col("_change") == "insert").drop("_change")
        out = mv.join(dels, keys, "left_anti").unionByName(ins)
        out.write.mode("overwrite").parquet(os.path.join(mv_root, f"g{gen_to}"))
        _commit_mv_cursor(mv_root, gen_to)  # the application's commit
        return gen_to


def change_feed_consumer(
    spark: SparkSession,
    root: str,
    mv_root: str,
    key_cols: Sequence[str],
    schema: str | None = None,
    partitioned: bool = False,
    compare_cols: Sequence[str] | None = None,
) -> Callable[[DataFrame, int], None]:
    """STREAMED change-feed consumer (r10, VERDICT r9 item #3): a
    ``foreachBatch`` sink that, on every trigger, advances the
    downstream materialized table to the upstream batched table's LIVE
    generation by applying the keyed feed off the MV's checkpointed
    generation cursor (apply_change_feed + read_mv_cursor) — never by
    re-reading the snapshot.  First trigger against an unseeded MV
    seeds it from the live generation (materialize_snapshot); every
    later trigger applies ``diff_batched(cursor, live)``.  The trigger
    DataFrame itself is ignored — the stream is the maintenance
    heartbeat (file-drop feed, rate source, whatever ticks), while the
    source of truth is the upstream manifest; this keeps the consumer
    exactly-once under Structured Streaming's at-least-once foreachBatch
    semantics, because the cursor (not Spark's offsets) decides what to
    apply, and every application is replay-idempotent.  Kill-and-resume
    runs THROUGH both checkpoints: Spark's offsets replay the trigger,
    the cursor makes the replayed application a deterministic overwrite
    or a no-op."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        man = _read_manifest(root)
        if man is None:
            return  # upstream never compacted: nothing to materialize
        gen = int(man["gen"])
        if read_mv_cursor(mv_root) is None and latest_materialized_gen(
            mv_root
        ) is None:
            materialize_snapshot(
                spark, root, mv_root, gen, schema, partitioned=partitioned
            )
            return
        apply_change_feed(
            spark, root, mv_root, gen, key_cols, schema,
            partitioned=partitioned, compare_cols=compare_cols,
        )

    return sink


def materialize_snapshot_batched(
    spark: SparkSession,
    root: str,
    mv_root: str,
    gen: int,
    partitioned: bool = False,
    schema: str | None = None,
) -> None:
    """Seed a DELTA-PROPORTIONAL materialized table (r10): the MV is
    itself a batched table under the manifest protocol — the upstream
    snapshot lands as batch dir ``b<gen>`` and the cursor commits.
    See apply_change_feed_batched for why."""
    os.makedirs(mv_root, exist_ok=True)
    if read_mv_cursor(mv_root) is not None:
        return
    with _hold_lease(mv_root, 3600.0):
        if read_mv_cursor(mv_root) is not None:
            return
        idempotent_batch_write(
            read_batched_at(spark, root, gen, schema, partitioned=partitioned),
            mv_root,
            gen,
        )
        _commit_mv_cursor(mv_root, gen)


def apply_change_feed_batched(
    spark: SparkSession,
    root: str,
    mv_root: str,
    gen_to: int,
    key_col: str,
    schema: str | None = None,
    partitioned: bool = False,
    lease_ttl_sec: float = 3600.0,
    change_files: bool = False,
) -> int:
    """DELTA-PROPORTIONAL change-feed application (r10, VERDICT r9
    item #7): where ``apply_change_feed`` merges the feed into a FULL
    MV rewrite per generation (cost grows with the TABLE — honest, and
    measured in SCALE_r10), this mode makes the per-application write
    cost scale with the DELTA by storing the MV as a batched table
    under the manifest protocol itself: the feed's inserts land as one
    per-generation batch dir (idempotent_batch_write), its deletes as
    one tombstone file (append_tombstones), and the cursor commits —
    three delta-sized writes, zero table-sized ones.  Reads go through
    ``read_materialized_batched`` (live union + pending-tombstone
    anti-join, the same discipline every probe-keyed state table in
    this repo already uses); the table-sized rewrite is DEFERRED to
    ordinary maintenance (``maintain_batched(mv_root,
    tombstone_col=key_col)``), amortized across many applications
    exactly like any other batched table's fold.  The diff itself
    still scans the two upstream snapshots' key columns
    (column-pruned) — sublinear in bytes, not flat; SCALE_r10 records
    both components separately rather than claiming flatness the
    implementation doesn't have.

    CONTRACT (stricter than the merge mode): single ``key_col``, and a
    deleted key must never RE-APPEAR upstream — the MV's tombstones
    anti-join by key (and the fold drops by key), so a resurrection
    inside one maintenance window would be erased.  This matches the
    append+retraction lifecycle of this protocol's own tables (the
    dedup trio, the ANN index); for payload-mutating or resurrecting
    upstreams use the merge mode.  Replay-idempotent: the insert batch
    overwrites deterministically, a replayed tombstone file is a
    duplicate key set (anti-join unaffected), the cursor is monotone."""
    cur = read_mv_cursor(mv_root)
    if cur is None:
        raise ValueError(
            f"batched MV {mv_root!r} was never seeded — call "
            "materialize_snapshot_batched first"
        )
    if cur >= gen_to:
        return cur
    with _hold_lease(mv_root, lease_ttl_sec):
        cur = read_mv_cursor(mv_root)
        if cur is None or cur >= gen_to:
            return cur if cur is not None else gen_to
        # the feed is DELTA-sized but its PLAN scans both snapshots —
        # unless the change-file fast path applies (r10:
        # diff_batched_adjacent — a plain-fold window's consumed batch
        # dirs + folded tombstone files ARE the delta, zero snapshot
        # scans).  Either way, materialize once (localCheckpoint) so
        # the delete/insert consumers below don't re-run the diff.
        feed = None
        if change_files:
            feed = diff_batched_adjacent(
                spark, root, cur, gen_to, [key_col], schema
            )
        if feed is None:
            feed = diff_batched(
                spark, root, cur, gen_to, [key_col], schema,
                partitioned=partitioned,
            )
        feed = feed.localCheckpoint(eager=True)
        dels = feed.where(F.col("_change") == "delete").select(key_col)
        ins = feed.where(F.col("_change") == "insert").drop("_change")
        # RESURRECTION GUARD (r10): the keys-never-resurrect contract
        # is ENFORCED at apply time, not just documented — an insert
        # whose key has a PENDING (unfolded) MV tombstone would be
        # served correctly by the read's anti-join until the next fold
        # SILENTLY ERASED it (the fold drops by key).  Delta-sized
        # check: feed inserts semi-joined against the pending tombstone
        # keys; a hit is a NAMED error naming sample keys.  A key whose
        # tombstone was already folded is physically gone and genuinely
        # re-insertable — the guard covers exactly the silent-erasure
        # window.
        if has_tombstones(mv_root):
            pend = read_tombstones(
                spark, mv_root, None
            ).select(key_col).distinct()
            bad = [
                r[key_col]
                for r in ins.select(key_col)
                .join(F.broadcast(pend), key_col, "left_semi")
                .limit(5)
                .collect()
            ]
            if bad:
                raise ValueError(
                    f"apply_change_feed_batched: feed re-inserts keys "
                    f"with PENDING tombstones on {mv_root!r} (sample: "
                    f"{bad}) — the batched MV mode requires "
                    "keys-never-resurrect (the next fold would silently "
                    "erase them); use the merge mode (apply_change_feed) "
                    "for resurrecting upstreams"
                )
        if dels.limit(1).count():
            append_tombstones(dels.coalesce(1), mv_root)
        idempotent_batch_write(ins.coalesce(1), mv_root, gen_to)
        _commit_mv_cursor(mv_root, gen_to)
        return gen_to


def read_materialized_batched(
    spark: SparkSession,
    mv_root: str,
    key_col: str | Sequence[str],
    schema: str | None = None,
    key_schema: str | None = None,
) -> DataFrame:
    """Read a delta-proportional MV: the live batched union minus
    pending (not-yet-folded) tombstoned keys.  ``key_col`` accepts a
    single column or the MV's FULL composite key (ADVICE r10 medium:
    group mirrors keyed on e.g. ``[id, band, bk]`` append
    composite-key tombstone rows — anti-joining one component would
    silently drop every row sharing it, all bands of a doc at once);
    pass exactly the key columns the feed application used.
    ``key_schema`` types the tombstone read for the single-column
    no-files edge (defaults to ``<key_col> BIGINT``); with pending
    files on disk the tombstones' own parquet schema is used."""
    keys = [key_col] if isinstance(key_col, str) else [str(k) for k in key_col]
    df = read_batched(spark, mv_root, schema=schema)
    if has_tombstones(mv_root):
        default_sch = key_schema or ", ".join(f"{k} BIGINT" for k in keys)
        df = df.join(
            F.broadcast(
                read_tombstones(spark, mv_root, default_sch)
                .select(*keys)
                .distinct()
            ),
            keys,
            "left_anti",
        )
    return df


def materialize_group_member(
    spark: SparkSession,
    group_root: str,
    mv_root: str,
    alias: str,
    txn: int,
    schema: str | None = None,
) -> None:
    """Seed a downstream mirror of ONE group member at transaction
    ``txn`` (read_group_at snapshot as the MV's first batch; the MV's
    cursor tracks the GROUP TXN, not a table generation).  Batch dirs
    are named ``b<txn+1>`` — shifted so the seed txn −1 lands at b0
    and every later feed at its txn's successor, keeping ids natural.
    Idempotent like every seed."""
    os.makedirs(mv_root, exist_ok=True)
    if read_mv_cursor(mv_root) is not None:
        return
    with _hold_lease(mv_root, 3600.0):
        if read_mv_cursor(mv_root) is not None:
            return
        snap = read_group_at(
            spark, group_root, txn, alias, schema, partitioned=True
        )
        idempotent_batch_write(snap.coalesce(4), mv_root, txn + 1)
        _commit_mv_cursor(mv_root, txn)


def reseed_group_member(
    spark: SparkSession,
    group_root: str,
    mv_root: str,
    alias: str,
    txn: int,
    schema: str | None = None,
) -> None:
    """RE-SEED a group-member mirror from the live snapshot (r11 —
    the recovery the NAMED SchemaEvolved / SnapshotVacuumed refusals
    point at: the consumer lagged across a schema evolution or past
    the retention horizon, so no keyed feed can carry it forward).
    Under the MV lease: wipe the mirror's batch dirs, tombstones, and
    cursor, then seed fresh at ``txn`` with ``schema`` (the CURRENT
    names after an evolution).  The rebuild costs one snapshot read —
    exactly what Delta consumers pay after a schema-incompatible CDF
    break."""
    with _hold_lease(mv_root, 3600.0):
        for d in sorted(os.listdir(mv_root)) if os.path.isdir(mv_root) else []:
            p = os.path.join(mv_root, d)
            if d.startswith("b") and os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            elif d == _TOMBSTONES and os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
        try:
            os.remove(os.path.join(mv_root, _MV_CURSOR))
        except FileNotFoundError:
            pass
        snap = read_group_at(
            spark, group_root, txn, alias, schema, partitioned=True
        )
        idempotent_batch_write(snap.coalesce(4), mv_root, txn + 1)
        _commit_mv_cursor(mv_root, txn)


def apply_group_feed_batched(
    spark: SparkSession,
    group_root: str,
    mv_root: str,
    alias: str,
    key_cols: Sequence[str],
    txn_to: int,
    schema: str | None = None,
    lease_ttl_sec: float = 3600.0,
) -> int:
    """GROUP-CONSUMER application (r10): advance one member's
    downstream mirror from its GROUP-TXN cursor to ``txn_to`` — the
    change-file fast path (diff_group_adjacent: batch-dir inserts in
    the txn window + window-folded tombstone keys) with a
    group-time-travel snapshot diff as the sound fallback.  Because
    every member's feed is derived from the SAME txn pair, a consumer
    applying all members at one ``txn_to`` mirrors the group
    all-or-nothing: no member's MV ever reflects a trigger another
    member's MV lacks.  Delta artifacts only (insert batch dir named
    ``b<txn_to+1>``, tombstone file, cursor), replay-idempotent, same
    keys-never-resurrect contract as apply_change_feed_batched."""
    cur = read_mv_cursor(mv_root)
    if cur is None:
        raise ValueError(
            f"group-member mirror {mv_root!r} was never seeded — call "
            "materialize_group_member first"
        )
    if cur >= txn_to:
        return cur
    with _hold_lease(mv_root, lease_ttl_sec):
        cur = read_mv_cursor(mv_root)
        if cur is None or cur >= txn_to:
            return cur if cur is not None else txn_to
        keys = [str(k) for k in key_cols]
        feed = diff_group_adjacent(
            spark, group_root, cur, txn_to, alias, keys, schema
        )
        if feed is None:
            # the fallback's endpoints must agree on the member's
            # schema ops (r11): a rename/drop between the two recorded
            # generations makes one schema string unable to read both
            tlog = txn_log(group_root)

            def _gops(t: int) -> int:
                mem = (tlog.get(t) or {}).get("tables", {}).get(alias)
                if mem is None:
                    return 0
                mlg = read_manifest_log(mem["root"])
                e = (mlg.get(int(mem["gen"])) or {}).get("extra")
                return (
                    len(e.get("schema_ops") or [])
                    if isinstance(e, dict)
                    else 0
                )

            if _gops(cur) != _gops(txn_to):
                raise SchemaEvolved(
                    f"group feed window ({cur}, {txn_to}] of member "
                    f"{alias!r} crosses a schema-evolution generation "
                    "— re-seed the mirror from the evolved snapshot"
                )
            # sound fallback: keyed diff of the two group-travel views
            a = read_group_at(
                spark, group_root, cur, alias, schema, partitioned=True
            )
            b = read_group_at(
                spark, group_root, txn_to, alias, schema, partitioned=True
            )
            ins = b.join(a.select(*keys), keys, "left_anti").withColumn(
                "_change", F.lit("insert")
            )
            dels = a.join(b.select(*keys), keys, "left_anti").withColumn(
                "_change", F.lit("delete")
            )
            feed = ins.unionByName(dels)
        feed = feed.localCheckpoint(eager=True)
        dels = feed.where(F.col("_change") == "delete").select(*keys)
        ins = feed.where(F.col("_change") == "insert").drop("_change")
        # RESURRECTION GUARD (ADVICE r10 low — the same enforcement
        # apply_change_feed_batched has, on the COMPOSITE key): a feed
        # insert whose full key has a PENDING mirror tombstone would be
        # served correctly until the next fold silently erased it.
        if has_tombstones(mv_root):
            pend = (
                read_tombstones(spark, mv_root, None)
                .select(*keys)
                .distinct()
            )
            bad = (
                ins.select(*keys)
                .join(F.broadcast(pend), keys, "left_semi")
                .limit(5)
                .collect()
            )
            if bad:
                raise ValueError(
                    f"apply_group_feed_batched: feed re-inserts keys "
                    f"with PENDING tombstones on {mv_root!r} (sample: "
                    f"{[tuple(r) for r in bad]}) — group mirrors require "
                    "keys-never-resurrect (the next fold would silently "
                    "erase them)"
                )
        if dels.limit(1).count():
            append_tombstones(dels.distinct().coalesce(1), mv_root)
        idempotent_batch_write(ins.coalesce(1), mv_root, txn_to + 1)
        _commit_mv_cursor(mv_root, txn_to)
        return txn_to


def prune_materialized(mv_root: str, keep_last_n: int) -> list[int]:
    """Retention for a change-feed-maintained materialized table: keep
    the last ``keep_last_n`` COMPLETE generations, delete everything
    older (plus any incomplete dirs older than the newest complete one
    — crash debris a later successful application superseded).  The
    newest complete generation is never deleted (``keep_last_n`` is
    floored at 1): it is the consumer's resume point.  Returns the
    generation numbers removed."""
    latest = latest_materialized_gen(mv_root)
    if latest is None:
        return []
    complete: list[int] = []
    debris: list[int] = []
    for n in os.listdir(mv_root):
        if not n.startswith("g"):
            continue
        try:
            g = int(n[1:])
        except ValueError:
            continue
        if os.path.exists(os.path.join(mv_root, n, "_SUCCESS")):
            complete.append(g)
        elif g < latest:
            debris.append(g)
    keep = set(sorted(complete)[-max(int(keep_last_n), 1):])
    removed = sorted(set(complete) - keep | set(debris))
    for g in removed:
        shutil.rmtree(os.path.join(mv_root, f"g{g}"), ignore_errors=True)
    return removed


def rollback_batched(root: str, gen: int, lease_ttl_sec: float = 3600.0) -> int:
    """ROLL BACK the live table to historical generation ``gen`` —
    by COMMITTING FORWARD, never by rewriting history: a new
    generation is committed whose base is the old generation's base
    dir (which retention must still hold), whose extra is the old
    generation's (it describes those rows — the partition spec rides
    along), and whose consumed set additionally covers every currently
    live dir (the rolled-back rows must never be double-read if their
    batches replay).  Lease-guarded like any commit.  Returns the new
    live generation number.

    Rollback consumes INCOMPLETE batch dirs too — deliberately, unlike
    compaction (which must leave them for their checkpoint replay): a
    rollback's contract is "the table is exactly generation ``gen``",
    and post-snapshot data is being discarded by operator intent, so a
    crashed trigger's partial dir AND its later replay are both
    excluded.  A stream resumed after a rollback should restart from a
    fresh checkpoint (or accept that in-flight-at-rollback batches are
    gone — they are exactly the data the operator rolled back)."""
    with _hold_lease(root, lease_ttl_sec):
        log = read_manifest_log(root)
        if gen not in log:
            raise SnapshotVacuumed(
                f"cannot roll {root!r} back to generation {gen}: no "
                f"manifest-log entry; travelable: {sorted(log)}"
            )
        old = log[gen]
        base = old["base"]
        p = base if os.path.isabs(base) else os.path.join(root, base)
        if not os.path.isdir(p):
            raise SnapshotVacuumed(
                f"cannot roll {root!r} back to generation {gen}: its base "
                f"{base!r} was vacuumed"
            )
        cur = _read_manifest(root)
        now = time.time()
        consumed = dict(cur["consumed"]) if cur else {}
        # the restored base is LIVE again — remove it from the consumed
        # map so retention GC stops counting its grace (base names are
        # never replayed, unlike batch ids, so un-consuming is safe)
        consumed.pop(base, None)
        # consume every currently live dir by its MANIFEST NAME:
        # root-local dirs by basename (consumed keys the GC matches
        # against root listings); only an external seed base — the one
        # case where the manifest itself holds an absolute path — is
        # keyed absolutely (the isabs key is what tells GC "referenced,
        # never owned, never delete")
        cur_live = cur["base"] if cur else "base"
        for d in _live_dirs(root):
            name = d if d == cur_live else os.path.basename(d)
            if name != base:
                consumed.setdefault(name, now)
        new_gen = (cur["gen"] if cur else 0) + 1
        # CAS-on-gen at the commit point (ADVICE r8 low — the same
        # re-check compact_batched performs): a wedged rollback whose
        # lease was TTL-reclaimed could otherwise commit over a
        # takeover compactor's newer generation.  The window here is
        # tiny (no Spark job between the post-lease read and this
        # write), but the guard makes rollback symmetric with
        # compaction: the committed generation wins, the zombie aborts.
        latest = _read_manifest(root)
        if (latest["gen"] if latest else 0) != (cur["gen"] if cur else 0):
            raise CompactorBusy(
                f"batched table {root!r} advanced to gen "
                f"{(latest['gen'] if latest else 0)} while this rollback "
                "(expired lease) was preparing — aborting; the committed "
                "generation wins"
            )
        _write_manifest(
            root,
            new_gen,
            base,
            consumed,
            extra=old.get("extra"),
            tombs=cur.get("tombs") if cur else None,
        )
        return new_gen


#: cross-table transaction pointer — the Delta multi-table-txn twin
_TXN = "_TXN"


def txn_commit(
    group_root: str,
    batch_id: int,
    tables: dict[str, str],
    branch: str | None = None,
) -> int:
    """CROSS-TABLE TRANSACTIONAL COMMIT (r10, VERDICT r9 item #1 — the
    Delta multi-table-transaction shape): one atomic record naming, for
    every member table of a multi-table state group, the batch id just
    written plus the member's live manifest generation.  A trigger that
    updates several batched tables (the streamed-dedup trio: band
    index, arrived corpus, pairs) writes its per-table ``b<id>`` dirs
    first — those are INERT to transactional readers — then makes them
    visible across ALL tables in this single fsync'd PUT.  A reader
    resolving the committed vector (txn_vector / txn_watermark) and
    reading each member with ``max_batch=watermark`` sees either all
    of a trigger's writes or none of them: the torn-but-healing window
    between two member writes, which the pre-r10 model tolerated only
    by convention (quiescent-point checks), no longer exists for
    transactional readers.

    MONOTONE and REPLAY-IDEMPOTENT: a late replay of an
    already-committed batch re-commits the same id, and a commit with
    ``batch_id`` at or below the current watermark is a no-op — the
    watermark never regresses (Structured Streaming batch ids are
    monotone; the replayed dirs' content is deterministic, so the
    existing record already describes them).  ``batch_id = -1`` is the
    SEED commit: the group's gen-0 bases are visible, no batches yet.

    The per-txn log copies (``_TXN.t<id>``) are the group's history —
    together with each member's manifest log they make a consistent
    historical read possible (read each member at the recorded gen +
    batches ≤ that txn), the same pattern as single-table time travel.
    Returns the watermark after the call.

    LEASE-SERIALIZED (r10 hardening): the monotonicity check is
    read-then-write, so two RACING commits (unreachable under the
    single-writer stream discipline — a checkpoint never starts
    trigger N+1 before trigger N's sink returns — but cheap to close
    anyway) could interleave a late replay's stale read under a newer
    pointer and regress the watermark.  The group's lease serializes
    commits; a commit finding the lease held retries briefly (commits
    are millisecond-scale) and then surfaces the NAMED CompactorBusy.

    ``branch=`` (r11 — the Iceberg/Nessie WRITE-AUDIT-PUBLISH shape):
    commit to a STAGING BRANCH instead of the main pointer.  Staged
    transactions are invisible to every main-pointer reader (their
    batch ids sit ABOVE the main watermark, so ``max_batch=watermark``
    readers and watermark-disciplined folds never touch their dirs);
    audit them with read_branch_head, then make them ALL visible in
    one atomic pointer move with publish_branch — or walk away, and
    the staged dirs are inert debris.  The first branch commit records
    ``base_txn`` (the main watermark it forked from); staged ids must
    extend it, and publish fast-forwards ONLY when main still sits at
    ``base_txn`` (BranchConflict otherwise — the WAP retry contract).
    Branch state lives in ``_TXN.b.<branch>`` + per-txn history
    ``_TXN.b.<branch>.t<id>`` — a separate namespace, so a staged id
    can never collide with a main commit's history entry.  Stagers
    write their batch dirs with ``stage_batch_write`` (branch-scoped
    ``b<id>.stage.<branch>`` names, renamed into place by the
    publish): that — not the id range — is what guarantees an
    ABANDONED branch's data can never leak into main reads after a
    competing commit pushes the watermark past its staged ids; see
    drop_branch."""
    os.makedirs(group_root, exist_ok=True)
    wait_deadline = time.monotonic() + 120.0
    while True:
        pend_live = False
        with _hold_lease(group_root, _GROUP_LEASE_TTL_SEC, _LEASE_WAIT_SEC):
            if branch is not None:
                return _txn_commit_locked(
                    group_root, batch_id, tables, branch
                )
            bid = int(batch_id)
            w = txn_watermark(group_root)
            weff = -1 if w is None else int(w)
            exp_marker = os.path.join(
                group_root, f"{_TXN}.rsv.{bid}.expired"
            )
            if bid <= weff:
                # replay — UNLESS this id was an expired-and-swept
                # reservation the watermark already passed: the
                # writer's rows are gone, a silent no-op would eat
                # its trigger (r11 multi-writer)
                if os.path.exists(exp_marker) and bid not in txn_log(
                    group_root
                ):
                    raise ReservationExpired(
                        f"txn {bid} was reserved, expired, and swept "
                        f"on {group_root!r} — re-reserve (txn_reserve) "
                        "and rewrite under the fresh id"
                    )
                return _txn_commit_locked(group_root, bid, tables, None)
            # LOWER unresolved reservations gate this commit: a live
            # one means a slower writer is mid-flight (wait); an
            # expired one is swept here, under the lease
            for rid, rec in sorted(list_reservations(group_root).items()):
                if weff < rid < bid:
                    try:
                        ts, ttl = float(rec["ts"]), float(rec["ttl"])
                    except (KeyError, TypeError, ValueError):
                        ts, ttl = 0.0, 0.0
                    if time.time() - ts >= ttl:
                        _sweep_expired_reservation(group_root, rid, rec)
                    else:
                        pend_live = True
            if not pend_live:
                if os.path.exists(exp_marker):
                    raise ReservationExpired(
                        f"txn {bid} was reserved, expired, and swept "
                        f"on {group_root!r} — re-reserve (txn_reserve) "
                        "and rewrite under the fresh id"
                    )
                out = _txn_commit_locked(group_root, bid, tables, None)
                try:  # confirm: the reservation is fulfilled
                    os.remove(
                        os.path.join(group_root, f"{_TXN}.rsv.{bid}")
                    )
                except FileNotFoundError:
                    pass
                return out
        # only the live-lower-reservation path falls through: wait
        # OUTSIDE the lease (holding it would deadlock the slower
        # writer's own confirm), bounded and NAMED
        if time.monotonic() >= wait_deadline:
            raise ReservationPending(
                f"txn {batch_id} on {group_root!r} waited out its bound "
                "for a lower unresolved reservation — retry after the "
                "slower writer confirms or its reservation expires"
            )
        time.sleep(0.05)


def _validate_branch(branch: str) -> None:
    if not branch or not all(
        c.isalnum() or c in "-_" for c in branch
    ):
        raise ValueError(
            f"invalid branch name {branch!r}: letters, digits, '-' and "
            "'_' only (the name is embedded in pointer file names)"
        )


def _txn_commit_locked(
    group_root: str,
    batch_id: int,
    tables: dict[str, str],
    branch: str | None = None,
) -> int:
    if branch is not None:
        _validate_branch(branch)
        cur = txn_branch_vector(group_root, branch)
    else:
        cur = txn_vector(group_root)
    if cur is not None and int(batch_id) <= int(cur["txn"]):
        return int(cur["txn"])  # late replay of a committed batch
    vec: dict[str, dict] = {}
    for alias, root in tables.items():
        man = _read_manifest(root) if os.path.isdir(root) else None
        vec[alias] = {"root": root, "gen": int(man["gen"]) if man else 0}
    rec = {"txn": int(batch_id), "tables": vec}
    if branch is not None:
        if cur is not None:
            base = int(cur["base_txn"])
        else:
            mw = txn_watermark(group_root)
            base = -1 if mw is None else int(mw)
        if int(batch_id) <= base:
            raise ValueError(
                f"staged txn {batch_id} does not extend branch "
                f"{branch!r}'s fork point (main watermark {base} at "
                "fork) — staged ids must continue main's monotone chain "
                "for the fast-forward publish to be linear"
            )
        rec["base_txn"] = base
        path = os.path.join(group_root, f"{_TXN}.b.{branch}")
    else:
        path = os.path.join(group_root, _TXN)
    # PER-ATTEMPT tmp names (r11, found by the full-protocol threaded
    # model's debris leg on its first run): with the fixed ``.tmp``
    # name, any concurrent writer to that path — crash debris being
    # replanted, a TTL-reclaimed zombie committer — could have ITS
    # bytes published by this commit's rename (rename is atomic, but
    # the content under the shared name is not ours).  A unique name
    # keeps the content private until the atomic publish; stale
    # attempts' files are inert debris every reader skips (the
    # ``.tmp`` suffix filter) and the next maintenance sweep removes.
    tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
    payload = json.dumps(rec, sort_keys=True)
    with open(tmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
    dfd = os.open(group_root, os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)
    # history entry AFTER the pointer commit (same discipline as the
    # manifest log: a crash between the two only narrows history);
    # branch commits log under the branch's own namespace
    log = (
        f"{path}.t{int(batch_id)}"
        if branch is not None
        else os.path.join(group_root, f"{_TXN}.t{int(batch_id)}")
    )
    ltmp = f"{log}.tmp.{os.getpid()}.{threading.get_ident()}"
    with open(ltmp, "w") as f:
        f.write(payload)
        f.flush()
        os.fsync(f.fileno())
    os.rename(ltmp, log)
    return int(batch_id)


def txn_vector(group_root: str) -> dict | None:
    """The group's live committed transaction record ({"txn": id,
    "tables": {alias: {"root", "gen"}}}), or None when the group was
    never committed.  A present-but-corrupt pointer raises (atomic
    write protocol — corruption means outside interference)."""
    path = os.path.join(group_root, _TXN)
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return None
    try:
        rec = json.loads(text)
        _ = int(rec["txn"]), rec["tables"]
        return rec
    except (ValueError, KeyError, TypeError) as e:
        raise ValueError(
            f"corrupt cross-table txn pointer {path!r}: {e}; written "
            "atomically (tmp+fsync+rename), so this indicates outside "
            "modification"
        ) from e


def txn_log(group_root: str) -> dict[int, dict]:
    """The group's per-transaction history (txn id -> record), the
    group twin of read_manifest_log.  An entry missing (crash between
    the pointer commit and the log append) narrows group time travel
    by that transaction; the live pointer is unaffected."""
    out: dict[int, dict] = {}
    if not os.path.isdir(group_root):
        return out
    for n in os.listdir(group_root):
        if not n.startswith(_TXN + ".t") or ".tmp" in n:
            continue
        try:
            t = int(n[len(_TXN) + 2:])
            with open(os.path.join(group_root, n)) as f:
                out[t] = json.load(f)
        except (OSError, ValueError):
            continue
    return out


def _group_entries_at(
    group_root: str, txn_id: int, alias: str
) -> list[_DirEntry]:
    """Resolve the non-empty dirs making up one group member's state at
    transaction ``txn_id`` (read_group_at / read_group_at_pruned share
    this): the recorded generation's base + unconsumed batch dirs ≤
    the txn, resolved against that generation's manifest record (so an
    external seed base carries its committed spec/layout claim).
    Raises the NAMED SnapshotVacuumed past any horizon."""
    log = txn_log(group_root)
    if txn_id not in log:
        raise SnapshotVacuumed(
            f"group {group_root!r} has no txn-log entry for transaction "
            f"{txn_id}; travelable: {sorted(log)}"
        )
    member = log[txn_id]["tables"].get(alias)
    if member is None:
        raise ValueError(
            f"group {group_root!r} txn {txn_id} has no member {alias!r}; "
            f"members: {sorted(log[txn_id]['tables'])}"
        )
    root, gen = member["root"], int(member["gen"])
    paths: list[str] = []
    consumed_at_gen: set[str] = set()
    rec: dict | None = None
    mlog = read_manifest_log(root) if os.path.isdir(root) else {}
    if gen in mlog:
        rec = mlog[gen]
        consumed_at_gen = set(rec["consumed"])
        base = rec["base"]
        p = base if os.path.isabs(base) else os.path.join(root, base)
        if not os.path.isdir(p):
            raise SnapshotVacuumed(
                f"generation {gen}'s base {base!r} of member {alias!r} "
                "was vacuumed — the group travel horizon is the member's "
                "vacuum window"
            )
        paths.append(p)
    elif gen > 0:
        raise SnapshotVacuumed(
            f"member {alias!r} of group txn {txn_id} recorded generation "
            f"{gen}, which has no manifest-log entry on {root!r}; "
            f"travelable: {sorted(mlog)}"
        )
    # gen == 0 with no log entry = the member had no manifest at commit
    # time (pre-fold): its state was batch dirs only
    # a batch dir the snapshot needs may have been consumed by a LATER
    # generation and then grace-vacuumed — that is a vacuumed snapshot,
    # not an empty one: raise NAMED rather than silently dropping rows
    live_man = _read_manifest(root)
    later_consumed = (
        set(live_man["consumed"]) if live_man else set()
    ) - consumed_at_gen
    for name in later_consumed:
        if (
            name.startswith("b")
            and name[1:].isdigit()
            and int(name[1:]) <= txn_id
            and not os.path.isdir(os.path.join(root, name))
        ):
            raise SnapshotVacuumed(
                f"batch dir {name!r} of member {alias!r}, part of group "
                f"txn {txn_id}'s snapshot, was consumed by a later "
                "generation and vacuumed — the group travel horizon is "
                "the member's vacuum window"
            )
    for d in sorted(os.listdir(root)) if os.path.isdir(root) else []:
        if not (d.startswith("b") and d[1:].isdigit()):
            continue
        if int(d[1:]) > txn_id or d in consumed_at_gen:
            continue
        paths.append(os.path.join(root, d))
    return _entries(paths, rec)


def read_group_at_pruned(
    spark: SparkSession,
    group_root: str,
    txn_id: int,
    alias: str,
    col: str,
    values: Sequence[int],
    values_spec_n: int,
    schema: str,
) -> DataFrame:
    """SPEC-AWARE historical matched-bucket read of a group member
    (r10 — the group twin of read_batched_pruned): resolve the
    member's dirs at the txn (_group_entries_at), then prune each with
    a ``col IN (...)`` list TRANSLATED to the dir's own committed spec
    — a member re-bucketed between the txn and the read still serves
    the historical probe exactly (pre-rebucket batch dirs carry their
    writer's stamp; a verbatim-consolidated mixed base is unstamped
    and scans unpruned, the safe direction — same leg as the live
    pruned read).  Empty ``values`` short-circuits."""
    if not values:
        return spark.createDataFrame([], schema)
    return _union(
        spark,
        _spec_leg(spark, col, values, values_spec_n, schema),
        _group_entries_at(group_root, txn_id, alias),
        schema,
        pack=False,
    )


def read_group_at(
    spark: SparkSession,
    group_root: str,
    txn_id: int,
    alias: str,
    schema: str | None = None,
    partitioned: bool = False,
) -> DataFrame:
    """GROUP TIME TRAVEL (r10): read one member of a multi-table group
    exactly as transactional readers saw it at transaction ``txn_id``
    — the recorded generation's base plus the batch dirs at or below
    the txn watermark that generation had not yet consumed.  Because
    every member is resolved from the SAME txn record, reading several
    members at one ``txn_id`` yields a mutually CONSISTENT historical
    view — the all-or-nothing trigger visibility the live read has,
    projected backward.  Horizon: the member's own vacuum window (a
    consumed base or batch dir reclaimed by retention raises the NAMED
    SnapshotVacuumed) and the group's txn log (an entry lost to the
    tolerated commit/log crash window is simply not travelable).
    Same read semantics as read_batched: pending tombstones are a
    probe-time overlay, not part of the snapshot."""
    entries = _group_entries_at(group_root, txn_id, alias)
    if not entries and schema is None:
        raise SnapshotVacuumed(
            f"member {alias!r} has no surviving files at group txn "
            f"{txn_id} (pass schema= for an empty read)"
        )
    return _union(
        spark,
        lambda e: _read_dir(spark, e, schema, partitioned),
        entries,
        schema,
        pack=False,
    )


def txn_watermark(group_root: str) -> int | None:
    """The highest batch id committed across the group (None = never
    committed; -1 = seed-only).  Transactional readers pass this as
    ``max_batch=`` to read_batched / read_batched_pruned, and the
    group's maintenance passes it to compact_batched so a fold can
    never bake an uncommitted batch into a base."""
    rec = txn_vector(group_root)
    return int(rec["txn"]) if rec is not None else None


def txn_watermark_logged(group_root: str) -> int | None:
    """The highest committed transaction whose HISTORY ENTRY is also
    durable — the safe target for group-feed consumers and group time
    travel (r11, found by the full-protocol threaded model): the
    commit is two steps (pointer PUT, then per-txn log append), so a
    reader that resolves ``txn_watermark`` from the pointer and
    immediately travels to it can race the gap — the entry has not
    landed yet and read_group_at raises / diff_group_adjacent falls
    back spuriously.  A consumer advancing to THIS value never races
    it: the entry for txn N is durable before the pointer moves past
    N (the next commit happens-after the previous log append in the
    single-writer discipline, and the commit lease serializes racing
    writers).  Live ``max_batch=`` readers don't need this — the
    pointer alone defines their visibility; it matters exactly when
    the txn's HISTORY record is about to be dereferenced."""
    w = txn_watermark(group_root)
    if w is None:
        return None
    logged = [t for t in txn_log(group_root) if t <= w]
    return max(logged) if logged else None


class ReservationExpired(RuntimeError):
    """A writer confirmed a transaction id whose reservation expired
    and was swept (its batch dirs are gone): re-reserve, rewrite, and
    commit under the fresh id.  Raised NAMED instead of the silent
    replay no-op that would otherwise eat the writer's trigger."""


class ReservationPending(RuntimeError):
    """A commit waited out its bound for LOWER unresolved
    reservations (another writer holds an earlier id and has neither
    committed nor expired).  Retry later — committing over the hole
    would make the slower writer's rows visible out of watermark
    order, or strand them invisibly below it."""


def txn_reserve(
    group_root: str,
    tables: dict[str, str],
    ttl_sec: float = 600.0,
) -> int:
    """RESERVE the next transaction id for a multi-writer group (r11
    — the two-phase reserve/confirm shape that lets INDEPENDENT
    pipelines share one txn group): under the commit lease, allocate
    ``1 + max(watermark, live reservations, staged branch heads)``
    and record it in ``_TXN.rsv.<id>`` with the member roots and a
    TTL.  The writer then lands its ``b<id>`` dirs and confirms with
    the ordinary ``txn_commit(group, id, tables)``.

    Why ids must be allocated INSIDE the lease: the single-writer
    discipline computes ``watermark+1`` outside any lock, so two
    pipelines would collide on the same id and the idempotent batch
    write would silently adopt whichever wrote first.  Reservations
    serialize the allocation while keeping the data writes fully
    parallel.

    Out-of-order confirms are handled at commit time: a commit above
    unresolved LOWER reservations waits briefly (the slower writer is
    mid-flight), sweeps any that expired (batch dirs removed, an
    ``.expired`` marker left so the dead writer's late confirm gets
    the NAMED ReservationExpired instead of silent loss), and raises
    the NAMED ReservationPending if the wait runs out — the watermark
    never jumps a live writer's rows."""
    os.makedirs(group_root, exist_ok=True)
    with _hold_lease(group_root, _GROUP_LEASE_TTL_SEC, _LEASE_WAIT_SEC):
        w = txn_watermark(group_root)
        top = -1 if w is None else int(w)
        for rid in list_reservations(group_root):
            top = max(top, rid)
        for n in os.listdir(group_root):
            # branch POINTERS only: the name after "_TXN.b." has no
            # further dot (history entries are "<branch>.t<id>", tmp
            # debris carries ".tmp..."); a plain substring check would
            # wrongly skip branches whose name starts with "t"
            if not n.startswith(f"{_TXN}.b."):
                continue
            if "." in n[len(f"{_TXN}.b."):]:
                continue
            try:
                rec = json.loads(
                    open(os.path.join(group_root, n)).read()
                )
                top = max(top, int(rec["txn"]))
            except (OSError, ValueError, KeyError, TypeError):
                continue
        rid = top + 1
        _atomic_put_json(
            os.path.join(group_root, f"{_TXN}.rsv.{rid}"),
            {
                "txn": rid,
                "tables": {a: r for a, r in tables.items()},
                "ts": time.time(),
                "ttl": float(ttl_sec),
            },
        )
        return rid


def list_reservations(group_root: str) -> dict[int, dict]:
    """id -> reservation record for every live (unconfirmed,
    unswept) reservation of the group."""
    out: dict[int, dict] = {}
    if not os.path.isdir(group_root):
        return out
    prefix = f"{_TXN}.rsv."
    for n in os.listdir(group_root):
        if (
            not n.startswith(prefix)
            or ".tmp" in n
            or n.endswith(".expired")
        ):
            continue
        try:
            rid = int(n[len(prefix):])
            with open(os.path.join(group_root, n)) as f:
                out[rid] = json.load(f)
        except (OSError, ValueError):
            continue
    return out


def _sweep_expired_reservation(group_root: str, rid: int, rec: dict) -> None:
    """Remove an expired reservation's batch dirs (they were never
    committed — leaving them would let the watermark pass over live
    uncommitted rows) and mark the id ``.expired`` so the dead
    writer's late confirm fails NAMED rather than replay-no-op."""
    for root in (rec.get("tables") or {}).values():
        shutil.rmtree(os.path.join(root, f"b{rid}"), ignore_errors=True)
    _atomic_put_json(
        os.path.join(group_root, f"{_TXN}.rsv.{rid}.expired"),
        {"txn": rid},
    )
    try:
        os.remove(os.path.join(group_root, f"{_TXN}.rsv.{rid}"))
    except FileNotFoundError:
        pass


def create_tag(
    group_root: str, name: str, txn_id: int | None = None
) -> int:
    """IMMUTABLE NAMED REF to a group transaction (r11 — Iceberg tag
    semantics, the reproducible-dataset primitive): ``dataset-v1``
    names the exact multi-table snapshot a training run consumed, and
    every vacuum path carrying the group pin (``keep_last_txns=``)
    exempts the tagged transaction's member generations FOREVER —
    however aggressive the retention — until the tag is dropped.
    Defaults to the current logged watermark; the transaction must
    have a durable history record (that record is what the tag
    resolves through).  Tags are IMMUTABLE: re-tagging the same txn is
    an idempotent no-op, a different txn raises — drop first.
    Returns the tagged txn id."""
    _validate_branch(name)
    if txn_id is None:
        txn_id = txn_watermark_logged(group_root)
        if txn_id is None:
            raise ValueError(
                f"create_tag: group {group_root!r} has no logged "
                "transaction to tag"
            )
    txn_id = int(txn_id)
    if txn_id not in txn_log(group_root):
        raise ValueError(
            f"create_tag: txn {txn_id} has no history record in "
            f"{group_root!r} — only logged transactions are taggable"
        )
    path = os.path.join(group_root, f"{_TXN}.ref.{name}")
    if os.path.exists(path):
        cur = list_tags(group_root).get(name)
        if cur == txn_id:
            return txn_id  # idempotent re-tag
        raise ValueError(
            f"create_tag: tag {name!r} already names txn {cur} — tags "
            "are immutable; drop_tag first"
        )
    _atomic_put_json(path, {"txn": txn_id}, fsync_dir=True)
    return txn_id


def drop_tag(group_root: str, name: str) -> None:
    """Remove a tag — its transaction rejoins normal retention aging.
    Unknown tags are a no-op."""
    _validate_branch(name)
    try:
        os.remove(os.path.join(group_root, f"{_TXN}.ref.{name}"))
    except FileNotFoundError:
        pass


def list_tags(group_root: str) -> dict[str, int]:
    """name -> tagged txn id for every tag of the group."""
    prefix = f"{_TXN}.ref."
    out: dict[str, int] = {}
    if not os.path.isdir(group_root):
        return out
    for n in os.listdir(group_root):
        if not n.startswith(prefix) or ".tmp" in n:
            continue
        try:
            with open(os.path.join(group_root, n)) as f:
                out[n[len(prefix):]] = int(json.load(f)["txn"])
        except (OSError, ValueError, KeyError, TypeError):
            continue
    return out


def read_group_at_tag(
    spark: SparkSession,
    group_root: str,
    name: str,
    alias: str,
    schema: str | None = None,
    partitioned: bool = False,
) -> DataFrame:
    """Group time travel addressed by TAG — the consistent multi-table
    snapshot the tag pinned, by name."""
    tags = list_tags(group_root)
    if name not in tags:
        raise ValueError(
            f"group {group_root!r} has no tag {name!r}; tags: "
            f"{sorted(tags)}"
        )
    return read_group_at(
        spark, group_root, tags[name], alias, schema, partitioned
    )


class BranchConflict(RuntimeError):
    """publish_branch found main advanced past the branch's fork
    point: the fast-forward is no longer linear.  The WAP retry
    contract — re-stage against the new watermark (or audit+publish
    the competing writer's work first); nothing was modified."""


def txn_branch_vector(group_root: str, branch: str) -> dict | None:
    """The branch's staged head record ({"txn", "tables",
    "base_txn"}), or None when the branch does not exist."""
    _validate_branch(branch)
    path = os.path.join(group_root, f"{_TXN}.b.{branch}")
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        return None
    try:
        rec = json.loads(text)
        _ = int(rec["txn"]), rec["tables"], int(rec["base_txn"])
        return rec
    except (ValueError, KeyError, TypeError) as e:
        raise ValueError(
            f"corrupt branch pointer {path!r}: {e}; written atomically "
            "(tmp+fsync+rename), so this indicates outside modification"
        ) from e


def txn_branch_watermark(group_root: str, branch: str) -> int | None:
    """The branch's staged head txn id (None = no such branch)."""
    rec = txn_branch_vector(group_root, branch)
    return int(rec["txn"]) if rec is not None else None


def txn_branch_log(group_root: str, branch: str) -> dict[int, dict]:
    """The branch's staged per-transaction history (txn id ->
    record) — the branch twin of txn_log, read from the branch's own
    ``_TXN.b.<branch>.t<id>`` namespace."""
    _validate_branch(branch)
    prefix = f"{_TXN}.b.{branch}.t"
    out: dict[int, dict] = {}
    if not os.path.isdir(group_root):
        return out
    for n in os.listdir(group_root):
        if not n.startswith(prefix) or ".tmp" in n:
            continue
        try:
            t = int(n[len(prefix):])
            with open(os.path.join(group_root, n)) as f:
                out[t] = json.load(f)
        except (OSError, ValueError):
            continue
    return out


def read_branch_head(
    spark: SparkSession,
    group_root: str,
    branch: str,
    alias: str,
    schema: str | None = None,
    partitioned: bool = False,
) -> DataFrame:
    """AUDIT READ of a staging branch's head (r11 WAP): one member
    exactly as publish would make it visible — the member's LIVE
    state widened to ``max_batch = staged head`` (which INCLUDES the
    staged batches: their ids extend main's chain).  Resolving
    against the live manifest, not the record frozen at stage time,
    keeps the audit view current across concurrent watermark-
    disciplined folds — a fold rewrites storage, never visibility.
    Run the QA/constraint checks on this view, then publish_branch or
    walk away.  Raises for an unknown branch."""
    rec = txn_branch_vector(group_root, branch)
    if rec is None:
        raise ValueError(
            f"group {group_root!r} has no branch {branch!r}"
        )
    member = rec["tables"].get(alias)
    if member is None:
        raise ValueError(
            f"branch {branch!r} head has no member {alias!r}; "
            f"members: {sorted(rec['tables'])}"
        )
    root, head = member["root"], int(rec["txn"])
    return _union(
        spark,
        lambda e: _read_dir(spark, e, schema, partitioned),
        _live_entries(root, None, head) + _entries(_staged_dirs(root, branch, head)),
        schema,
    )


def _staged_dirs(root: str, branch: str, max_id: int) -> list[str]:
    """Paths of this branch's staged batch dirs (``b<id>.stage.<branch>``)
    with id <= max_id — empty ones included, so publishing renames and
    dropping removes every one of them."""
    suffix = f".stage.{branch}"
    return [
        os.path.join(root, d)
        for d in (sorted(os.listdir(root)) if os.path.isdir(root) else [])
        if d.startswith("b")
        and d.endswith(suffix)
        and d[1:-len(suffix)].isdigit()
        and int(d[1:-len(suffix)]) <= max_id
    ]


def publish_branch(group_root: str, branch: str) -> int:
    """PUBLISH a staging branch (r11 — the WAP fast-forward): under
    the group's commit lease, verify main still sits at the branch's
    fork point (``base_txn``; BranchConflict otherwise — nothing is
    modified), copy the staged history records into the main log
    namespace in ascending order, then move the main pointer to the
    branch head in ONE atomic rename — every staged transaction
    becomes visible to main-pointer readers at once, or none do.
    Finally the branch's own files are removed.

    Crash-safe in every window: before the pointer move, the copied
    main-log entries sit ABOVE the watermark and are inert (readers
    key off the pointer; a re-publish overwrites them with identical
    bytes); after the pointer move but before cleanup, a re-publish
    finds main already at the branch head and just finishes the
    cleanup (idempotent).  A staged id whose branch history entry was
    lost to the tolerated pointer/log crash window publishes with
    narrowed history, exactly like a main commit's lost entry —
    except the HEAD, whose record is the branch pointer itself.
    Returns the published watermark."""
    _validate_branch(branch)
    with _hold_lease(group_root, _GROUP_LEASE_TTL_SEC, _LEASE_WAIT_SEC):
        rec = txn_branch_vector(group_root, branch)
        if rec is None:
            raise ValueError(
                f"group {group_root!r} has no branch {branch!r}"
            )
        head, base = int(rec["txn"]), int(rec["base_txn"])
        mw = txn_watermark(group_root)
        mweff = -1 if mw is None else int(mw)
        if mweff == head:
            _cleanup_branch(group_root, branch)  # crash-window replay
            return head
        if mweff != base:
            raise BranchConflict(
                f"cannot fast-forward branch {branch!r}: main moved "
                f"from the fork point (forked at txn {base}, main now "
                f"at {mweff}) — re-stage against the new watermark"
            )
        # materialize staged batch dirs under their main-path names
        # BEFORE the pointer move: ids above the watermark are inert
        # until the rename below, and a crash mid-way re-publishes
        # idempotently (complete targets are skipped)
        for alias, member in rec["tables"].items():
            root = member["root"]
            suffix = f".stage.{branch}"
            for p in _staged_dirs(root, branch, head):
                dst = p[: -len(suffix)]
                if os.path.exists(os.path.join(dst, "_SUCCESS")):
                    shutil.rmtree(p, ignore_errors=True)  # replay
                    continue
                if os.path.isdir(dst):
                    shutil.rmtree(dst, ignore_errors=True)  # partial
                os.rename(p, dst)
        staged = txn_branch_log(group_root, branch)
        main_rec = {"txn": head, "tables": rec["tables"]}
        for t in sorted(k for k in staged if base < k <= head):
            r = staged[t] if t != head else rec
            body = {k: v for k, v in r.items() if k != "base_txn"}
            _atomic_put_json(
                os.path.join(group_root, f"{_TXN}.t{t}"), body
            )
        if head not in staged:
            _atomic_put_json(
                os.path.join(group_root, f"{_TXN}.t{head}"), main_rec
            )
        _atomic_put_json(
            os.path.join(group_root, _TXN), main_rec, fsync_dir=True
        )  # THE visibility event
        _cleanup_branch(group_root, branch)
        return head


def _atomic_put_json(path: str, rec: dict, fsync_dir: bool = False) -> None:
    tmp = f"{path}.tmp.{os.getpid()}.{threading.get_ident()}"
    with open(tmp, "w") as f:
        f.write(json.dumps(rec, sort_keys=True))
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
    if fsync_dir:
        dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)


def _cleanup_branch(group_root: str, branch: str) -> None:
    prefix = f"{_TXN}.b.{branch}"
    for n in sorted(os.listdir(group_root)):
        if n == prefix or n.startswith(prefix + "."):
            try:
                os.remove(os.path.join(group_root, n))
            except OSError:
                pass


class SchemaEvolved(RuntimeError):
    """A change-feed window crosses a schema-evolution generation
    (rename/drop): column names are not stable across the window, so
    a keyed feed reading old dirs through the new schema would
    silently yield nulls.  Re-seed the consumer from the evolved
    snapshot — the same contract Delta's CDF has for
    schema-incompatible changes."""


def schema_ops(root: str) -> list[dict]:
    """The table's recorded schema-evolution ops, oldest first
    (empty = never evolved)."""
    man = _read_manifest(root) if os.path.isdir(root) else None
    if not man or not isinstance(man.get("extra"), dict):
        return []
    return list(man["extra"].get("schema_ops") or [])


def apply_schema_ops(df: DataFrame, ops: Sequence[dict]) -> DataFrame:
    """Apply recorded rename/drop ops to ONE dir's raw read, in
    order, by name-presence — idempotent: a dir written after an op
    already carries the new name, so the op no-ops on it; a fold
    union carrying BOTH names (old dirs + new dirs) resolves by
    coalesce (per row exactly one side is non-null: a row either came
    from a pre-rename dir or a post-rename one)."""
    for op in ops:
        if op["op"] == "rename":
            src, dst = op["from"], op["to"]
            if src in df.columns and dst in df.columns:
                df = df.withColumn(
                    dst, F.coalesce(F.col(dst), F.col(src))
                ).drop(src)
            elif src in df.columns:
                df = df.withColumnRenamed(src, dst)
        elif op["op"] == "drop":
            if op["col"] in df.columns:
                df = df.drop(op["col"])
    return df


def evolve_schema(
    spark: SparkSession,
    root: str,
    rename: dict[str, str] | None = None,
    drop: Sequence[str] | None = None,
    lease_ttl_sec: float = 3600.0,
) -> int:
    """NON-ADDITIVE SCHEMA EVOLUTION (r11 — the Iceberg/Delta
    column-mapping twin for the batched protocol): commit a
    METADATA-ONLY generation recording rename/drop ops — no data
    rewrite, however large the table.  The live pointer advances to a
    generation sharing the previous base and consumed set, with the
    ops appended to ``extra.schema_ops``; expire_snapshots already
    treats shared bases correctly.

    Read paths: ``read_batched_evolved`` applies the ops per dir
    (exact immediately, pre- and post-rename dirs mixed);
    ``normalize_schema_transform`` lets the NEXT fold rewrite rows
    physically to the current names, after which plain explicit-schema
    readers are exact again.  Time travel returns the HISTORICAL
    shape: a read at an old generation takes the schema the data had
    then (Iceberg semantics — the caller-supplied schema string names
    it).  Change feeds never cross an evolution silently: the
    metadata generation carries no plain/change marker (fast path
    falls back) and the snapshot diff raises the NAMED SchemaEvolved
    when its endpoints disagree on the op count — consumers re-seed.

    Validates against the CURRENT evolved live schema: rename sources
    and dropped columns must exist; rename targets must be unused now
    AND never used before (reusing a historical name would make the
    coalesce-based mixed-dir read ambiguous).  Requires a manifest
    (fold at least once before evolving).  Returns the new
    generation."""
    ren = dict(rename or {})
    drops = [str(c) for c in (drop or [])]
    if not ren and not drops:
        raise ValueError("evolve_schema: nothing to do")
    # the op itself is metadata-scale; wait through a racing fold's
    # lease (txn_commit's bound) before surfacing NAMED
    with _hold_lease(root, lease_ttl_sec, _LEASE_WAIT_SEC):
        man = _read_manifest(root)
        if man is None:
            raise ValueError(
                f"evolve_schema: {root!r} has no manifest generation to "
                "record the ops on — run compact_batched once first"
            )
        prior_extra = (
            dict(man["extra"]) if isinstance(man.get("extra"), dict) else {}
        )
        ops = list(prior_extra.get("schema_ops") or [])
        # current evolved live columns, from the live dirs' footers —
        # COMPLETE dirs only (an in-flight trigger write has no
        # _SUCCESS and its files move under the reader), racing reads
        # tolerated by skipping: the validation view is the stable
        # dirs', which is what the ops will apply to
        from pyspark.errors import AnalysisException

        live: set[str] = set()
        entries = _entries(_live_dirs(root), man)
        for e in entries:
            name = os.path.basename(e.path)
            if (
                name.startswith("b")
                and name[1:].isdigit()
                and not os.path.exists(os.path.join(e.path, "_SUCCESS"))
            ):
                continue
            try:
                live |= set(
                    apply_schema_ops(_read_dir(spark, e, None, True), ops).columns
                )
            except AnalysisException:
                continue
        # partition columns are LAYOUT, not schema: renaming one would
        # orphan every hive dir name; that migration is a rebucket/
        # re-layout fold's job, not a metadata op
        part_cols = set().union(*(e.hive for e in entries))
        for c in set(ren) | set(ren.values()) | set(drops):
            if c in part_cols:
                raise ValueError(
                    f"evolve_schema: {c!r} is a partition column of "
                    f"{root!r} — layout columns evolve via a re-layout "
                    "fold (rebucket_transform), not a metadata op"
                )
        historical: set[str] = set()
        for op in ops:
            if op["op"] == "rename":
                historical |= {op["from"], op["to"]}
            else:
                historical.add(op["col"])
        new_ops: list[dict] = []
        gen = int(man["gen"]) + 1
        for src, dst in ren.items():
            if src not in live:
                raise ValueError(
                    f"evolve_schema: rename source {src!r} is not a "
                    f"live column of {root!r} (live: {sorted(live)})"
                )
            if dst in live or dst in historical:
                raise ValueError(
                    f"evolve_schema: rename target {dst!r} is already "
                    "a live or historical column name — reusing names "
                    "would make the mixed-dir read ambiguous"
                )
            new_ops.append(
                {"op": "rename", "from": str(src), "to": str(dst),
                 "gen": gen}
            )
        for c in drops:
            if c not in live:
                raise ValueError(
                    f"evolve_schema: drop column {c!r} is not a live "
                    f"column of {root!r} (live: {sorted(live)})"
                )
            if c in ren:
                raise ValueError(
                    f"evolve_schema: column {c!r} both renamed and "
                    "dropped in one call"
                )
            new_ops.append({"op": "drop", "col": c, "gen": gen})
        prior_extra["schema_ops"] = ops + new_ops
        _write_manifest(
            root, gen, man["base"], dict(man["consumed"]),
            extra=prior_extra, tombs=man.get("tombs") or None,
        )  # no plain/change marker: CDF windows crossing this fall back
        return gen


def read_batched_evolved(
    spark: SparkSession,
    root: str,
    schema: str | None = None,
    max_batch: int | None = None,
) -> DataFrame:
    """Evolution-aware live read: per-dir raw reads with the recorded
    rename/drop ops applied (pre- and post-rename dirs mix exactly),
    unioned by name.  ``schema`` (the CURRENT names) aligns and types
    the result.  Until a normalize fold has rewritten the rows, this
    is THE exact reader for an evolved table — a plain explicit-schema
    read of a pre-rename dir yields nulls for renamed columns."""
    ops = schema_ops(root)
    df = _union(
        spark,
        lambda e: apply_schema_ops(_read_dir(spark, e, None, True), ops),
        _live_entries(root, None, max_batch),
        schema,
    )
    if schema is not None:
        df = _align_to(df, spark.createDataFrame([], schema).schema.fields)
    return df


def normalize_schema_transform(
    root: str,
) -> Callable[[DataFrame], "tuple[DataFrame, dict]"]:
    """``compact_batched(transform=)`` hook physically rewriting rows
    to the CURRENT evolved names (the fold's allowMissingColumns
    union carries old and new names side by side; apply_schema_ops
    resolves them by coalesce).  After this fold, plain
    explicit-schema readers are exact again; the ops stay recorded
    for any still-unfolded stragglers (in-flight batch dirs, staged
    branches), which read_batched_evolved keeps handling."""
    ops = schema_ops(root)

    def t(df: DataFrame) -> tuple[DataFrame, dict]:
        return apply_schema_ops(df, ops), {"schema_ops": ops}

    return t


def drop_branch(group_root: str, branch: str) -> None:
    """ABANDON a staging branch (r11 WAP): delete its pointer,
    staged history entries, and every member's staged batch dirs.
    Nothing was ever visible to main readers (stage_batch_write's
    names are invisible to them by construction), so dropping is pure
    cleanup — the audit said no, walk away.  Unknown branches are a
    no-op (drop is the crash-cleanup path)."""
    _validate_branch(branch)
    rec = txn_branch_vector(group_root, branch)
    if rec is not None:
        head, base = int(rec["txn"]), int(rec["base_txn"])
        logged = set(txn_log(group_root))
        for member in rec["tables"].values():
            root = member["root"]
            for p in _staged_dirs(root, branch, 1 << 62):
                shutil.rmtree(p, ignore_errors=True)
            # a publish that crashed AFTER renaming staged dirs into
            # their b<id> names left them as uncommitted main-path
            # dirs; dropping the branch without removing them would
            # let a LATER main commit with the same id silently adopt
            # the branch's data (idempotent_batch_write skips complete
            # dirs).  Ids in the staged window that never reached the
            # main txn log are the branch's — remove them with it.
            for t in range(base + 1, head + 1):
                if t in logged:
                    continue
                shutil.rmtree(
                    os.path.join(root, f"b{t}"), ignore_errors=True
                )
    if os.path.isdir(group_root):
        _cleanup_branch(group_root, branch)


def _live_dirs(
    root: str,
    exclude_batch: int | None = None,
    max_batch: int | None = None,
) -> list[str]:
    """The subdirectories a reader should union: per the manifest, the
    live base generation plus every per-batch dir not yet consumed
    into it.  Base generations the manifest does NOT name are ignored
    — a compactor that crashed after promoting its build but before
    the manifest write leaves an inert ``base<n>`` dir that must not
    be double-read (the consumed dirs it covers are still live); the
    next compaction garbage-collects it.  Readers only LIST and READ
    — never delete, rename, or repair — so any number of concurrent
    readers race neither each other nor a live compactor."""
    man = _read_manifest(root)
    skip: set[str] = set(man["consumed"]) if man else set()
    if exclude_batch is not None:
        skip.add(f"b{exclude_batch}")
    live_base = man["base"] if man else "base"
    out = []
    # an ABSOLUTE live base is an external seed snapshot referenced in
    # place (seed_batched — the shallow-clone seed); it never appears
    # in the root listing, so resolve it explicitly
    if os.path.isabs(live_base) and os.path.isdir(live_base):
        out.append(live_base)
    for d in sorted(os.listdir(root)):
        if d.startswith(".") or d in skip:
            continue
        if ".stage." in d:
            continue  # WAP branch-scoped dirs (r11): invisible to
            # every main-path reader/fold until publish renames them
        if not os.path.isdir(os.path.join(root, d)):
            continue
        if d.startswith("base") and d != live_base:
            continue
        # transactional visibility (r10): a reader resolving a
        # cross-table txn watermark excludes batch dirs above it — a
        # trigger's writes stay inert across ALL member tables until
        # its one txn_commit
        if (
            max_batch is not None
            and d.startswith("b")
            and d[1:].isdigit()
            and int(d[1:]) > max_batch
        ):
            continue
        out.append(os.path.join(root, d))
    return out


class _DirEntry(NamedTuple):
    """One resolved, NON-EMPTY directory of a batched table — the
    per-directory half of the format, decided in one place (_entries):
    its non-empty ``.parquet`` files as ``(path, bytes)``, their
    summed ``nbytes``, the partition ``spec`` and derived
    ``layout`` its rows were written under (None = unstamped, scan
    unpruned), and ``hive`` — the ``col=value`` partition columns at its
    top level (empty = flat or binpack-nested, read recursively)."""

    path: str
    files: tuple[tuple[str, int], ...]
    nbytes: int
    spec: int | None
    layout: str | None
    hive: frozenset[str]


def _entries(paths: Iterable[str], rec: dict | None = None) -> list[_DirEntry]:
    """THE per-directory resolver: one ``os.walk`` per dir, whose first
    step (the top-level names) also yields the spec/layout stamps and
    the hive-ness.  Dirs holding no parquet bytes are DROPPED here —
    the one emptiness rule of the format (an empty trigger writes only
    ``_SUCCESS``; a vacuumed or missing dir walks to nothing).
    Zero-byte ``.parquet`` files count as no data: Spark's scan already
    skips zero-length files, so skipping them changes no rows — it only
    keeps schema inference (and a binpack fold's footer reads) off a
    file that has no footer.

    ``rec`` is the committed manifest record the paths were resolved
    from: when its ``base`` is an EXTERNAL seed snapshot (absolute,
    immutable, unstampable — seed_batched), that dir takes its spec and
    layout from the record's ``extra`` claim (``spec_n`` /
    ``layout_id``), committed atomically with the reference; every
    other dir — a compacted base included — answers for its own rows
    via its own stamps (a verbatim fold of mixed-spec inputs is
    unstamped, and claiming the writer-facing ``spec_n`` for it would
    prune older-spec rows away)."""
    seed = rec["base"] if rec and os.path.isabs(rec["base"]) else None
    out: list[_DirEntry] = []
    for p in paths:
        files: list[tuple[str, int]] = []
        top: tuple[list[str], list[str]] | None = None
        for d, subdirs, names in os.walk(p):
            top = top or (subdirs, names)
            for n in sorted(names):
                if not n.endswith(".parquet"):
                    continue
                try:
                    size = os.path.getsize(os.path.join(d, n))
                except OSError:
                    continue
                if size:
                    files.append((os.path.join(d, n), size))
        if not files:
            continue
        stamps = top[1]
        if p == seed:
            extra = rec.get("extra") if isinstance(rec.get("extra"), dict) else {}
            claims = ((_SPEC_PREFIX, "spec_n"), (_LAYOUT_PREFIX, "layout_id"))
            stamps = [
                f"{prefix}{extra[key]}"
                for prefix, key in claims
                if extra.get(key) is not None
            ]
        out.append(
            _DirEntry(
                p,
                tuple(files),
                sum(sz for _, sz in files),
                *_stamps(stamps),
                frozenset(n.split("=", 1)[0] for n in top[0] if "=" in n),
            )
        )
    return out


def _live_entries(
    root: str, exclude_batch: int | None = None, max_batch: int | None = None
) -> list[_DirEntry]:
    """The live dirs (_live_dirs) resolved against the live manifest."""
    if not os.path.isdir(root):
        return []
    return _entries(_live_dirs(root, exclude_batch, max_batch), _read_manifest(root))


def _read_dir(
    spark: SparkSession,
    e: _DirEntry,
    schema: str | None = None,
    partitioned: bool = False,
) -> DataFrame:
    """THE per-dir read.  Recursive file lookup unless the caller wants
    hive partition columns AND the dir has them: a BINPACK base nests
    its files in ``g<i>`` subdirs, and a hive-discovery read of it
    lists nothing — every one of its rows would silently drop (r11
    re-seed test; the binpack-base regression test).  ``schema`` skips
    footer inference; without one, a flat read merges footers so an
    additively evolved table yields the union schema."""
    r = spark.read
    if not (partitioned and e.hive):
        r = r.option("recursiveFileLookup", "true")
    if schema is not None:
        r = r.schema(schema)
    elif not partitioned:
        r = r.option("mergeSchema", "true")
    return r.parquet(e.path)


def _union(
    spark: SparkSession,
    leg: Callable[[_DirEntry], DataFrame],
    entries: Sequence[_DirEntry],
    schema: str | None = None,
    pack: bool = True,
) -> DataFrame:
    """THE multi-dir union: one ``leg`` per entry (per-dir reads — Spark
    cannot partition-discover several roots in one relation, and
    static per-leg filters are how pruning reaches each scan), unioned
    by name with allowMissingColumns (dirs from before an additive
    schema change lack the newer columns — null-filled, not failed),
    then packed by the entries' summed bytes (_pack_union).  No
    entries: the typed empty table when ``schema`` is given, else a
    named error.

    ``pack=False`` is for HISTORICAL reads (time travel, change-feed
    windows): their dirs are no longer live, so a zero-grace vacuum
    may reclaim them once the snapshot leaves its retention pin.
    Packing serializes the scan into ceil(bytes / split) tasks that
    read the files one after another, which stretches the read past
    that point — the WAP threaded model's travel reader then lost a
    vacuumed batch file mid-scan; the unpacked parallel scan does not."""
    if not entries:
        if schema is None:
            raise ValueError(
                "no live data files to read (pass schema= for an empty read)"
            )
        return spark.createDataFrame([], schema)
    df = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [leg(e) for e in entries],
    )
    if not pack:
        return df
    return _pack_union(spark, df, sum(e.nbytes for e in entries))


def _pack_union(spark: SparkSession, df: DataFrame, total_bytes: int) -> DataFrame:
    """SCALE-ADAPTIVE TASK PACKING for multi-dir unions (r11
    optimization; guide §6 small files, §2.2 fewer map tasks).

    Every per-dir relation in a union is split to >=
    ``spark.sql.files.minPartitionNum`` scan partitions (default: the
    core count), so a table of N live trigger dirs x ~32
    hive-partition slivers schedules N*cores sliver tasks per
    evaluation — measured 160 map tasks for a 5-dir index whose bytes
    fit ONE 128 MB split, and a maintenance fold (k-means retrain)
    evaluates its input union several times.  Coalesce the union to
    the data-proportional count, ceil(total_bytes /
    maxPartitionBytes): at contract scale that packs the slivers into
    a handful of tasks; at 100 TB the target exceeds the union's
    partition count and coalesce is a no-op (it never increases
    partitions).  Sits ABOVE the per-leg scans, so per-leg partition
    pruning / static probed-cell filters are untouched.  The bytes
    come from the resolver's one walk per dir (ADVICE r11), never a
    second listing."""
    max_split = _size_conf_bytes(
        spark, "spark.sql.files.maxPartitionBytes", 128 * 1024 * 1024
    )
    target = max(1, -(-total_bytes // max(max_split, 1)))
    return df.coalesce(int(target))


def _size_conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    """A byte-size session conf as int (accepts plain ints and the
    k/m/g suffix forms Spark's docs use)."""
    try:
        raw = str(spark.conf.get(key, str(default))).strip().lower()
        mult = 1
        for suf, m in (("kb", 1024), ("mb", 1024**2), ("gb", 1024**3),
                       ("k", 1024), ("m", 1024**2), ("g", 1024**3),
                       ("b", 1)):
            if raw.endswith(suf):
                raw = raw[: -len(suf)]
                mult = m
                break
        return int(float(raw) * mult)
    except Exception:
        return default


def read_batched(
    spark: SparkSession,
    root: str,
    exclude_batch: int | None = None,
    partitioned: bool = False,
    schema: str | None = None,
    max_batch: int | None = None,
) -> DataFrame:
    """Union of the table's live subdirectories (manifest-aware, see
    _live_dirs).  ``exclude_batch`` omits that batch's own subdir —
    load-bearing for stateful sinks whose reads must not see the
    crashed attempt's own partial output on replay.

    ``partitioned=True`` reads each live dir with hive partition
    discovery (``col=value`` children from a partition_cols write) and
    unions them, so the partition column is part of the schema and an
    ``isin``/equality filter on it pushes through the union into EVERY
    scan's PartitionFilters — plan-time matched-bucket reads (the
    probe-keyed state contract, VERDICT r5 item #1; Spark cannot
    partition-discover multiple roots in one relation, and Dynamic
    Partition Pruning does not reach through a Union, so STATIC
    pruning off a collected bucket list is the mechanism here — see
    suites/streaming_real._incr_dedup_apply_batch).  The default
    recursive read serves flat per-batch layouts.  ``schema`` supplies
    the result schema when the table may have no live dirs yet
    (returns an empty DataFrame instead of an opaque zero-path scan
    error) — AND, when given, is passed to every per-root read to skip
    parquet footer schema inference: a hot probe path re-opening the
    state table every trigger was measured paying ~0.3 s per
    read_batched call in per-root footer reads alone (r7 job-budget
    work); state-table owners know their schema, so they should pass
    it (include the partition columns — hive-style reads expect the
    FULL schema).

    ``max_batch`` (r10) restricts the union to batch dirs at or below
    the given id — pass a cross-table ``txn_watermark`` for a
    torn-window-free read of one member of a multi-table group.

    The partitioned read resolves every live dir (_entries: one walk
    each), so empty dirs and zero-byte files drop out there.  The flat
    read is the hot path: ONE multi-path relation over _live_dirs,
    walking nothing — with ``schema=`` Spark's scan skips a zero-byte
    ``.parquet`` file by itself; without one, footer inference still
    fails loudly on such a file (it has no footer)."""
    if partitioned:
        return _union(
            spark,
            lambda e: _read_dir(spark, e, schema, partitioned=True),
            _live_entries(root, exclude_batch, max_batch),
            schema,
        )
    paths = (
        _live_dirs(root, exclude_batch, max_batch)
        if os.path.isdir(root)
        else []
    )
    if not paths:
        if schema is not None:
            return spark.createDataFrame([], schema)
        raise ValueError(
            f"read_batched: no live subdirectories under {root!r} "
            "(seed the table or pass schema= for an empty read)"
        )
    r = spark.read.option("recursiveFileLookup", "true")
    if schema is not None:
        r = r.schema(schema)
    else:
        # no declared schema: merge footers so an additively evolved
        # table yields the union schema, not the first file's
        r = r.option("mergeSchema", "true")
    return r.parquet(*paths)


#: per-dir partition-spec marker — the local twin of Iceberg's
#: per-data-file spec id in partition evolution: a probe-key-bucketed
#: dir records WHICH bucket count its partition values were computed
#: under, so readers can prune a mixed-spec table exactly
_SPEC_PREFIX = "_spec_"


def stamp_spec(root: str, batch_id: int, n: int) -> None:
    """Record the probe-key partition spec (bucket count ``n``) a
    batch dir's partition values were computed under.  Written AFTER
    the batch's parquet lands: a replay that rewrites the dir
    (mode-overwrite clears it, marker included) re-stamps with its own
    spec, and a crash between write and stamp leaves an UNSTAMPED dir
    — which spec-aware readers scan unpruned (safe: one trigger's
    data, correctness preserved, only that dir's pruning lost until
    the next compaction absorbs it).  Keep-existing: a marker already
    present describes the bytes on disk (the complete-dir replay
    no-op skipped the rewrite, so the original spec still holds)."""
    d = batch_subdir(root, batch_id)
    for name in os.listdir(d):
        if name.startswith(_SPEC_PREFIX):
            return
    with open(os.path.join(d, f"{_SPEC_PREFIX}{int(n)}"), "w"):
        pass


def dir_spec(path: str) -> int | None:
    """The spec a dir was stamped with, or None (unstamped — scan it
    unpruned)."""
    try:
        return _stamps(os.listdir(path))[0]
    except OSError:
        return None


def _stamps(names: Iterable[str]) -> tuple[int | None, str | None]:
    """The (spec, layout) stamps among a dir's top-level names — the
    one parse of the ``_spec_<n>`` / ``_layout_<id>`` markers."""
    spec: int | None = None
    layout: str | None = None
    for name in names:
        if spec is None and name.startswith(_SPEC_PREFIX):
            try:
                spec = int(name[len(_SPEC_PREFIX):])
            except ValueError:
                pass
        elif layout is None and name.startswith(_LAYOUT_PREFIX):
            layout = name[len(_LAYOUT_PREFIX):]
    return spec, layout


def current_spec(root: str, default_n: int) -> int:
    """The table's LIVE probe-key spec: the ``spec_n`` the last
    compaction (or the gen-0 seed) committed atomically in the
    manifest, else ``default_n`` for a table that predates spec
    tracking.  Writers read this once per trigger and compute their
    partition values under it; it only ever changes at a compaction
    commit, so all rows of any one generation share one spec."""
    extra = read_manifest_extra(root)
    try:
        return int(extra["spec_n"])
    except (KeyError, TypeError, ValueError):
        return int(default_n)


def spec_values(values: Sequence[int], n_from: int, n_to: int) -> list[int] | None:
    """Translate a probe's bucket-value list computed under spec
    ``n_from`` into the SOUND list for a dir laid out under spec
    ``n_to``, exploiting ``pmod(h, m) == pmod(pmod(h, n), m)`` for
    ``m | n`` (specs grow by DOUBLING, so any two specs divide one
    another).  Coarser dir (``n_to | n_from``): each value maps to
    ``v % n_to`` — no false negatives; rows that collide into the same
    coarse bucket without matching the probe are false POSITIVES the
    exact join above discards.  Finer dir (``n_from | n_to``): each
    value expands to ``{v + k·n_from}`` — every residue class mod
    ``n_to`` consistent with the known residue mod ``n_from``.
    Incompatible specs return None (scan unpruned — correctness over
    pruning; unreachable under the doubling discipline)."""
    vals = sorted(set(int(v) for v in values))
    if n_to == n_from:
        return vals
    if n_from % n_to == 0:
        return sorted({v % n_to for v in vals})
    if n_to % n_from == 0:
        return sorted(
            {v + k * n_from for v in vals for k in range(n_to // n_from)}
        )
    return None


def read_batched_pruned(
    spark: SparkSession,
    root: str,
    col: str,
    values: Sequence[int],
    values_spec_n: int,
    schema: str,
    exclude_batch: int | None = None,
    max_batch: int | None = None,
) -> DataFrame:
    """Spec-aware matched-bucket read of a probe-key-partitioned
    batched table (PARTITION-SPEC EVOLUTION, r8): union the live dirs
    with a per-dir static ``col IN (...)`` partition filter whose
    value list is TRANSLATED to each dir's own spec (spec_values), so
    pruning stays exact across an online re-bucketing —
    the Iceberg-partition-evolution read shape adapted to the manifest
    protocol.  Per-dir spec resolution (_entries): an external seed
    base takes the manifest's ``spec_n`` claim (committed atomically
    with the reference); every root-local dir its own stamp
    (stamp_spec); an UNSTAMPED dir (crash between write and stamp, a
    mixed-spec verbatim fold, or a legacy table) is scanned unpruned —
    the safe direction.  Empty ``values`` short-circuits to
    an empty DataFrame (nothing to probe).  The static per-scan IN
    lists push into every scan's PartitionFilters exactly as the
    fixed-spec read did (plan-pinned in tests/test_plans.py).
    ``max_batch`` restricts to txn-committed batch dirs (r10, see
    read_batched)."""
    if not values:
        return spark.createDataFrame([], schema)
    return _union(
        spark,
        _spec_leg(spark, col, values, values_spec_n, schema),
        _live_entries(root, exclude_batch, max_batch),
        schema,
    )


def _spec_leg(
    spark: SparkSession,
    col: str,
    values: Sequence[int],
    values_spec_n: int,
    schema: str,
) -> Callable[[_DirEntry], DataFrame]:
    """The spec-translating leg of the live and historical pruned
    reads: a static ``col IN (...)`` over each dir, with the probe's
    values TRANSLATED to the dir's own spec (spec_values) so the list
    pushes into its scan's PartitionFilters; an unstamped dir (or an
    incompatible spec) scans unpruned — the safe direction."""

    def leg(e: _DirEntry) -> DataFrame:
        df = _read_dir(spark, e, schema, partitioned=True)
        vals = None if e.spec is None else spec_values(values, values_spec_n, e.spec)
        if vals is None:
            return df
        return df.where(F.col(col).isin(vals) if vals else F.lit(False))

    return leg


#: per-dir LAYOUT marker (r9) — the equality-only sibling of the
#: _spec_ doubling marker: a dir records WHICH derived-layout recipe
#: (e.g. which trained quantizer) its partition values were computed
#: under.  Unlike bucket specs, two quantizers have NO sound value
#: translation (unrelated Voronoi partitions), so the read discipline
#: is match-or-scan: a dir stamped with the layout being probed prunes
#: by partition values; any other (or unstamped) dir is scanned
#: unpruned — the safe direction, one trigger's data per dir.
_LAYOUT_PREFIX = "_layout_"


def stamp_layout(root: str, batch_id: int, layout_id: str) -> None:
    """Record the derived-layout id (e.g. quantizer content hash) a
    batch dir's partition values were computed under.  Same discipline
    as stamp_spec: written after the parquet lands, keep-existing on
    replay, a crash between write and stamp leaves the dir unstamped
    (scanned unpruned — safe)."""
    d = batch_subdir(root, batch_id)
    for name in os.listdir(d):
        if name.startswith(_LAYOUT_PREFIX):
            return
    safe = "".join(c for c in str(layout_id) if c.isalnum() or c in "-_")
    with open(os.path.join(d, f"{_LAYOUT_PREFIX}{safe}"), "w"):
        pass


def dir_layout(path: str) -> str | None:
    """The layout id a dir was stamped with, or None (unstamped —
    scan it unpruned)."""
    try:
        return _stamps(os.listdir(path))[1]
    except OSError:
        return None


def read_batched_layout_split(
    spark: SparkSession,
    root: str,
    col: str,
    values: Sequence,
    layout_id: str,
    schema: str,
    exclude_batch: int | None = None,
    max_batch: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Layout-aware split read (r9 — the quantizer sibling of
    read_batched_pruned): returns ``(matched, foreign)`` over the live
    dirs.  ``matched`` unions the dirs stamped with ``layout_id`` (the
    layout the probe's ``values`` were computed under), pruned by
    ``col IN (values)`` — the fast serving path.  ``foreign`` unions
    every OTHER dir (stamped with a layout a later re-train replaced,
    or unstamped) UNPRUNED and UNFILTERED: their partition values are
    incomparable with the probe's (no translation exists between two
    trained quantizers — unlike doubling bucket specs), so the caller
    must score those rows directly (e.g. brute force) instead of
    relying on the layout column at all.  Each foreign dir is one
    trigger's data, so the window is bounded, and the next compaction
    (which re-derives the layout for every retained row) empties it.
    The external seed base takes its layout from the manifest extra
    claim (``layout_id``), exactly like the spec reader.
    ``max_batch`` restricts to txn-committed batch dirs (r10/r11 — a
    cross-family group's serve reads AT the group watermark, so an
    uncommitted trigger's index rows stay invisible)."""
    entries = _live_entries(root, exclude_batch, max_batch)
    vals = sorted(set(values))
    lid = str(layout_id)
    return (
        _union(
            spark,
            lambda e: _read_dir(spark, e, schema, True).where(F.col(col).isin(vals)),
            [e for e in entries if e.layout == lid] if vals else [],
            schema,
        ),
        _union(
            spark,
            lambda e: _read_dir(spark, e, schema, True),
            [e for e in entries if e.layout != lid],
            schema,
        ),
    )


def rebucket_transform(
    col: str,
    recompute: Callable[[int], Column],
    n_cur: int,
    cap_rows: int,
    prior_extra: dict | None = None,
    n_max: int = 1 << 20,
) -> Callable[[DataFrame], tuple[DataFrame, dict]]:
    """``compact_batched(transform=)`` hook: ADAPTIVE ONLINE
    RE-BUCKETING of a probe-key-partitioned table (the dedup/CDC twin
    of the ANN hot-cell re-split, r8).  A fixed bucket count chosen at
    table creation stops being corpus-flat as the table grows — every
    bucket's size grows linearly with the corpus, so probes of
    "matched buckets" eventually read corpus-linear bytes per trigger.
    At compaction (the one moment the whole table is rewritten
    anyway), measure the hottest bucket and DOUBLE the spec until the
    projected max fits ``cap_rows``; recompute ``col`` over the
    retained rows and commit the new spec atomically with them
    (manifest ``extra.spec_n``).  Doubling — never arbitrary resizes —
    keeps every pair of specs divisible, which is what makes
    spec_values' mixed-window translation exact.  Hash-bucketed keys
    split ~evenly per doubling; a single irreducible hot KEY (all rows
    sharing one (band, bk)) cannot split — those rows must colocate to
    join at all, the same floor the ANN per-cell cap has.

    The measurement is one bounded job over the union being rewritten
    (groupBy(col).max — a single collected row); ``prior_extra``
    carries any other committed metadata forward (the transform's
    return REPLACES the manifest extra)."""

    def t(df: DataFrame) -> tuple[DataFrame, dict]:
        row = (
            df.groupBy(col)
            .count()
            .agg(F.max("count").alias("mx"))
            .first()
        )
        mx = int(row["mx"]) if row and row["mx"] is not None else 0
        n_new = int(n_cur)
        est = mx
        while est > cap_rows and n_new < n_max:
            n_new *= 2
            est = (est + 1) // 2
        extra = dict(prior_extra or {})
        extra["spec_n"] = n_new
        # recompute UNCONDITIONALLY — even when the spec did not grow
        # (ADVICE r8 medium): the union being rewritten may contain an
        # old-spec in-flight batch (the writer-in-flight-during-commit
        # window the read path explicitly tolerates), and carrying its
        # rows verbatim into a base stamped ``spec_n`` would make
        # spec-translated probes prune them away (silent false
        # negatives).  The table is being fully rewritten anyway, so
        # normalizing every row to the output spec costs one column
        # expression, not an extra pass.
        df = df.withColumn(col, recompute(n_new))
        return df, extra

    return t


def compact_batched(
    spark: SparkSession,
    root: str,
    target_bytes: int = 128 << 20,
    min_dirs: int = 8,
    partition_cols: Sequence[str] | None = None,
    gc_grace_sec: float = 300.0,
    transform: Callable[[DataFrame], "DataFrame | tuple[DataFrame, dict]"] | None = None,
    tombstone_col: str | None = None,
    lease_ttl_sec: float = 3600.0,
    keep_last_gens: int | None = None,
    max_batch: int | None = None,
    keep_last_txns: "tuple[str, int] | None" = None,
    change_feed: bool = False,
) -> int:
    """Index maintenance for streaming upserts (VERDICT r4 item #4):
    fold a ``read_batched`` table's accumulated per-batch
    subdirectories into one consolidated base generation.

    ``tombstone_col`` names the table column matched against the
    ``.tombstones`` side table (append_tombstones): the rewrite DROPS
    dead rows (anti-join) and, after the manifest commit, deletes
    exactly the tombstone files it folded — the set resets per
    generation instead of growing forever, and probes stop paying the
    anti-join for rows that are now physically gone.  Only the files
    present when the fold STARTED are consumed: a retraction appended
    mid-compaction survives untouched for the next fold (and its
    probe-time anti-join keeps it correct meanwhile).  Crash-safe in
    both windows — before the commit the rows are unfolded and the
    tombstones intact; between commit and file deletion the fold is
    already durable and re-anti-joining already-deleted keys is a
    no-op.

    A band-index/arrived-docs sink gains one file set per trigger; at
    daily-crawl cadence that is unbounded small files — each probe
    pays the per-file open cost forever.  Two rewrite shapes:

    - default: the SAME exclusive-running-sum binpack rule as the
      batch planner (suites/analytics.etl_compaction_binpack: group =
      cumulative-size-before div target, over the file listing ordered
      by path), one output file per group;
    - ``partition_cols``: rewrite the union PARTITIONED BY the probe
      key (repartition-then-partitionBy, one file per key value) —
      the layout that keeps later triggers' state reads
      partition-prunable (VERDICT r5 item #1) instead of folding the
      probe key away.

    ``transform`` (partition_cols path only) rewrites the union's ROWS
    before the partitioned write — the hook index maintenance uses to
    recompute derived layout columns over the WHOLE table (e.g.
    re-splitting ANN hot cells into capped (cell, sub) partitions,
    VERDICT r6 what's-wrong #1).  It may return ``(df, extra)`` where
    ``extra`` is a JSON payload committed atomically inside the
    manifest (read_manifest_extra) — serving metadata that must stay
    exactly in sync with the rewritten rows.  A compaction WITHOUT a
    transform carries the previous generation's ``extra`` forward
    unchanged: its rows are preserved verbatim, so the metadata that
    described them still does.

    Probe results are unchanged — the table's rows are identical,
    only the layout changes (pinned by test: same band-probe output
    and hash before/after).

    Returns the number of output groups (0 = below ``min_dirs``,
    nothing done).  Run it BETWEEN committed triggers (or with the
    stream stopped) — batch-id bookkeeping is unaffected: future
    batches keep appending ``b<id>`` subdirs beside the new base.
    Batch ids must be monotone per table (Structured Streaming's
    checkpoint guarantees this); a consumed ``b<id>`` name is excluded
    by the manifest forever, so an out-of-band writer must never reuse
    one.  At scale the group rewrites are independent jobs (parallel
    per group); here they run sequentially.

    CRASH SAFETY — manifest commit, readers never repair:
    1. garbage-collect leftovers of earlier crashes (the in-flight
       build dir, unreferenced base generations, consumed dirs whose
       deletion failed) — all invisible to readers by construction;
    2. build the rewrite in a dot-prefixed dir readers skip;
    3. promote it to ``base<gen+1>`` — still INERT: readers ignore
       base generations the manifest doesn't name;
    4. COMMIT = atomically write the manifest naming the new base and
       the consumed dirs (fsync'd tmp+rename; a single PUT on an
       object store — no atomic-rename requirement, VERDICT r5
       what's-wrong #2);
    5. GC consumed dirs only after ``gc_grace_sec`` has elapsed since
       their exclusion (retention-based vacuum, the Iceberg/Delta
       discipline): an in-flight reader that resolved the PREVIOUS
       manifest may still be scanning the previous base when the next
       compaction commits — deleting it immediately yields
       FileNotFoundException mid-scan (caught by the concurrent-reader
       test).  Within the grace window victims stay on disk, excluded
       by the manifest; any later compaction deletes them once
       expired.  ``gc_grace_sec=0`` restores immediate cleanup for
       single-process callers.
    A crash in ANY window leaves every concurrent reader seeing
    exactly the pre- or post-compaction table, with no reader-side
    recovery step — unit-proven per window in tests/test_streaming.py.

    SINGLE-COMPACTOR, now GUARDED (VERDICT r6 what's-wrong #3): entry
    claims the table's ``.compact_lease`` via exclusive-create (the
    local twin of a conditional PUT); a second concurrent compactor
    raises CompactorBusy instead of reclaiming the winner's in-flight
    build and double-promoting generations.  A crashed holder's lease
    expires by TTL (or immediately when its pid is provably dead), and
    the expired-takeover window is narrowed by a generation re-check
    at the commit point — a wedged pre-takeover compactor that wakes
    up after the new holder committed aborts with CompactorBusy and
    removes its own orphan build (two-thread race unit-proven in
    tests/test_streaming.py).

    ``keep_last_gens`` (r9, VERDICT r8 item #4) exempts the bases of
    the most recent N generations from grace-based vacuuming — the
    retain-last retention knob: operators GUARANTEE a time-travel
    depth independent of wall-clock (a burst of rapid compactions with
    a short grace can no longer shrink the horizon below N).  The
    deterministic expiry direction is the standalone expire_snapshots.

    ``keep_last_txns=(group_root, K)`` (r11, VERDICT r10 item #3):
    exempt from grace-based GC every base and batch dir the group's
    last K transaction records reference — the group-retention twin of
    ``keep_last_gens``, so member maintenance can never shrink
    ``read_group_at``'s horizon (or the group change-file feed's
    window) below K transactions.

    ``max_batch`` (r10, cross-table transactions): only consume batch
    dirs at or below the given id — the group's txn watermark.  A
    member table of a multi-table group may hold a COMPLETE-looking
    ``b<id>`` dir from a trigger that crashed before its txn_commit
    (its sibling tables may lack the batch entirely); folding it would
    bake an uncommitted batch into the base and exclude the name
    forever, making it visible to transactional readers below the
    watermark — the torn window, permanently.  Group maintenance must
    pass ``txn_watermark(group_root)`` here."""
    if not os.path.isdir(root):
        return 0
    with _hold_lease(root, lease_ttl_sec) as lease:
        return _compact_batched_locked(
            spark,
            root,
            target_bytes,
            min_dirs,
            partition_cols,
            gc_grace_sec,
            transform,
            tombstone_col,
            lease,
            lease_ttl_sec,
            keep_last_gens,
            max_batch,
            keep_last_txns,
            change_feed,
        )


def _compact_batched_locked(
    spark: SparkSession,
    root: str,
    target_bytes: int,
    min_dirs: int,
    partition_cols: Sequence[str] | None,
    gc_grace_sec: float,
    transform: Callable[[DataFrame], "DataFrame | tuple[DataFrame, dict]"] | None,
    tombstone_col: str | None,
    lease_token: str,
    lease_ttl_sec: float,
    keep_last_gens: int | None = None,
    max_batch: int | None = None,
    keep_last_txns: "tuple[str, int] | None" = None,
    change_feed: bool = False,
) -> int:
    man = _read_manifest(root)
    now = time.time()
    # travel-depth guarantee (r9): bases of the last N generations are
    # never grace-vacuumed; recomputed after the commit below so the
    # window slides with the new generation.  The group-txn guarantee
    # (r11) additionally pins every base/batch dir the group's last K
    # txn records reference.
    protected = _protected_bases(root, keep_last_gens)
    protected |= _group_protected_names(root, keep_last_txns)
    # GC (compactor-only): the legacy shared build-dir name is always
    # crash debris; PER-TOKEN build dirs (ADVICE r7 medium: concurrent
    # builders that race past the lease must never share a tmp path)
    # are reclaimed only once TTL-stale — a zombie pre-takeover
    # builder may still be writing its own dir, and it will lose at
    # CAS-on-gen and remove it itself.  Unreferenced base generations
    # (crashed before their manifest write) were NEVER visible to any
    # reader — immediate delete; grace-expired consumed dirs go too.
    shutil.rmtree(os.path.join(root, _COMPACT_NEW), ignore_errors=True)
    for d in os.listdir(root):
        if d.startswith(_COMPACT_NEW + ".") and d != f"{_COMPACT_NEW}.{lease_token}":
            p = os.path.join(root, d)
            try:
                if now - os.path.getmtime(p) >= lease_ttl_sec:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass
    live_base = man["base"] if man else "base"
    consumed_prev: dict[str, float] = dict(man["consumed"]) if man else {}
    for d in os.listdir(root):
        p = os.path.join(root, d)
        if not os.path.isdir(p) or d.startswith("."):
            continue
        if d in consumed_prev:
            if now - consumed_prev[d] >= gc_grace_sec and d not in protected:
                shutil.rmtree(p, ignore_errors=True)
        elif d.startswith("base") and d != live_base and d not in protected:
            shutil.rmtree(p, ignore_errors=True)
    # consumed names are carried in the manifest FOREVER — never
    # pruned to "dirs that still exist" (the pre-r7 behavior): a
    # trigger that crashed before its checkpoint commit can be
    # replayed arbitrarily late, and if two maintenance compactions
    # ran meanwhile (stream down, cron maintenance up) a pruned
    # manifest would stop excluding the consumed name, so the replay's
    # recreated b<id> dir would be DOUBLE-READ beside the consolidated
    # base (caught by the model-based protocol property test).  Growth
    # is one ~20-byte entry per consumed batch — bounded by trigger
    # count, trivial for years of daily-crawl cadence.

    subs = _live_dirs(root)
    # a batch dir WITHOUT its _SUCCESS marker is an in-flight or
    # CRASHED trigger write (r9 — found by the ANN chaos model on its
    # first run): its content is partial and its batch id WILL be
    # replayed from the checkpoint.  Consuming it would bake the
    # partial rows into the base and exclude the name forever, so the
    # replay's complete rewrite would never be read — silent permanent
    # loss of the rest of the batch.  Leave it LIVE and unconsumed:
    # readers keep the at-least-once partial visibility they already
    # tolerate, the replay overwrites the dir in place, and the next
    # fold consumes it complete.  Only b<id> dirs are screened — bases
    # and external seeds always carry their writer's marker.
    def _complete(p: str) -> bool:
        name = os.path.basename(p)
        if not (name.startswith("b") and name[1:].isdigit()):
            return True
        # cross-table txn guard (r10): a complete-looking dir above
        # the group watermark belongs to a trigger whose txn never
        # committed — its siblings may be missing; leave it live for
        # the replay, exactly like an incomplete dir
        if max_batch is not None and int(name[1:]) > max_batch:
            return False
        return os.path.exists(os.path.join(p, "_SUCCESS"))

    subs = [p for p in subs if _complete(p)]
    if len(subs) < min_dirs:
        return 0
    # ONE walk per input dir serves the emptiness check, the fold's
    # sizing, the spec/layout inheritance and the binpack file list
    entries = _entries(subs, man)
    # data-less table (empty partitioned batches write only _SUCCESS):
    # nothing to rewrite — without this guard the partition_cols path
    # reduces over an empty union and the binpack path renames a
    # never-created build dir (ADVICE r6).  Pending tombstones are
    # still CONSUMED here (anti-joining no rows is a no-op, so marking
    # the snapshot consumed is the fold) — otherwise a data-less table
    # under tombstone pressure re-triggers a no-op compaction on every
    # maintenance pass and the side table never resets (ADVICE r7).
    if not entries:
        if tombstone_col is not None:
            pending = _live_tomb_files(root)
            if pending:
                tombs_man = dict(man.get("tombs", {})) if man else {}
                tombs_man.update({os.path.basename(fp): now for fp in pending})
                # the recommit REWRITES this generation's manifest (and
                # its log entry), so the plain/change markers must ride
                # along (r11 self-review): dropping them silently
                # poisoned every change-file window containing this
                # generation — the rows are untouched here, so the
                # markers still describe them exactly
                _write_manifest(
                    root,
                    man["gen"] if man else 0,
                    live_base,
                    consumed_prev,
                    extra=read_manifest_extra(root) or None,
                    tombs=tombs_man,
                    plain=man.get("plain") if man else None,
                    change=man.get("change") if man else None,
                )
                _vacuum_tombs(root, tombs_man, now, gc_grace_sec)
        return 0
    tmp = os.path.join(root, f"{_COMPACT_NEW}.{lease_token}")
    extra = read_manifest_extra(root) or None  # carried unless transformed
    if transform is not None and not partition_cols:
        raise ValueError(
            "compact_batched: transform= requires partition_cols (the "
            "binpack path moves files verbatim and never sees rows)"
        )
    # tombstone fold: snapshot the LIVE (unconsumed) side-table file
    # list BEFORE the rewrite — those files' keys are dropped and
    # exactly those files marked consumed in the committed manifest;
    # concurrent appends survive to the next fold.  Consumed files are
    # excluded by NAME and stay on disk for gc_grace_sec (r8): a
    # concurrent probe that planned its anti-join against the pre-fold
    # list may still be executing at commit time — an immediate delete
    # would fail it mid-scan, the exact race the consumed-dir grace
    # window already covers for data.
    tomb_files: list[str] = []
    tomb: DataFrame | None = None
    if tombstone_col is not None:
        tomb_files = _live_tomb_files(root)
        if tomb_files:
            tomb = (
                spark.read.parquet(*tomb_files)
                .select(F.col(tombstone_col))
                .distinct()
            )

    def _fold(df: DataFrame) -> DataFrame:
        if tomb is None:
            return df
        return df.join(F.broadcast(tomb), tombstone_col, "left_anti")

    if partition_cols:
        # per-dir legs (_read_dir): a previous BINPACK fold nests its
        # group files in g<N> subdirs that a hive-discovery read cannot
        # see (r10 group change-feed test: UNABLE_TO_INFER_SCHEMA), so
        # only hive dirs keep the plain read.  ADDITIVE SCHEMA
        # EVOLUTION (r8): a long-lived state table gains columns over
        # its life (a quality score on the dedup index, a norm column
        # on the ANN index); the union's allowMissingColumns null-fills
        # them for older dirs (Delta mergeSchema semantics), so the
        # consolidated base carries the UNION schema.  Additive only: a
        # renamed/retyped column needs a transform= rewrite.  The
        # union is packed (_pack_union): it is the table's full sliver
        # history, and a transform= (k-means retrain) evaluates it
        # several times.
        df = _fold(
            _union(spark, lambda e: _read_dir(spark, e, None, True), entries)
        )
        transform_extra: dict | None = None
        if transform is not None:
            res = transform(df)
            if isinstance(res, tuple):
                df, transform_extra = res
                # MERGE over the prior generation's extra, transform
                # keys winning (r9): a transform owns only the keys it
                # returns — replacing the whole payload would silently
                # drop metadata a DIFFERENT maintenance pass committed
                # (e.g. a plain hot-cell re-split after a quantizer
                # re-train clobbering ``centroids``: serving would fall
                # back to the stale creation-time quantizer and probe
                # the wrong cells).  A transform that must retire a key
                # it owns overwrites it; foreign keys survive.
                extra = {**(extra or {}), **transform_extra}
            else:
                df = res
        df.repartition(*[F.col(c) for c in partition_cols]).write.mode(
            "overwrite"
        ).partitionBy(*partition_cols).parquet(tmp)
        # SPEC DISCIPLINE (r8 partition-spec evolution): stamp the
        # build with the spec its ROWS are actually laid out under —
        # a transform that returned ``spec_n`` normalized them itself
        # (rebucket_transform's contract); a transform-less rewrite
        # carries rows VERBATIM, so the build inherits its inputs'
        # spec only when they all share one known spec.  Mixed or
        # unknown inputs leave the base UNSTAMPED, which spec-aware
        # readers scan unpruned — the safe direction; claiming the
        # manifest's writer-facing spec_n for verbatim-carried
        # mixed-spec rows drops the older-spec ones (a pruning false
        # negative found by the r8 spec model check on its first run).
        out_spec: int | None = None
        if transform_extra is not None and "spec_n" in transform_extra:
            try:
                out_spec = int(transform_extra["spec_n"])
            except (TypeError, ValueError):
                out_spec = None
        else:
            in_specs = {e.spec for e in entries}
            if len(in_specs) == 1:
                out_spec = in_specs.pop()
        if out_spec is not None:
            with open(os.path.join(tmp, f"{_SPEC_PREFIX}{out_spec}"), "w"):
                pass
        # LAYOUT DISCIPLINE (r9 — the quantizer sibling of the spec
        # stamp above, same inheritance rule): a transform that claims
        # ``layout_id`` re-derived the partition values itself; a
        # transform-less (or layout-agnostic) rewrite carries rows
        # verbatim, so the build inherits its inputs' layout only when
        # they all share one.  Mixed or unknown inputs leave the base
        # UNSTAMPED — layout-aware readers scan it unpruned.
        out_layout: str | None = None
        if transform_extra is not None and "layout_id" in transform_extra:
            out_layout = str(transform_extra["layout_id"])
        else:
            in_layouts = {e.layout for e in entries}
            if len(in_layouts) == 1:
                out_layout = in_layouts.pop()
        if out_layout is not None:
            safe = "".join(
                c for c in out_layout if c.isalnum() or c in "-_"
            )
            with open(os.path.join(tmp, f"{_LAYOUT_PREFIX}{safe}"), "w"):
                pass
        n_groups = len(
            {os.path.dirname(fp) for e in _entries([tmp]) for fp, _ in e.files}
        )
    else:
        # the file listing the binpack plans over (path-ordered, like
        # the batch planner's file_id order)
        groups: dict[int, list[str]] = {}
        cum_before = 0
        for fp, sz in sorted(f for e in entries for f in e.files):
            groups.setdefault(cum_before // target_bytes, []).append(fp)
            cum_before += sz
        for g, paths in groups.items():
            # mergeSchema: a binpack group may span generations with
            # additively evolved schemas — the rewrite must carry the
            # union schema, not whichever file's footer came first
            _fold(
                spark.read.option("mergeSchema", "true").parquet(*paths)
            ).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(tmp, f"g{g}")
            )
        n_groups = len(groups)
    gen = (man["gen"] if man else 0) + 1
    target = f"base{gen}"
    consumed = dict(consumed_prev)
    for p in subs:
        # an external seed base (seed_batched) is consumed under its
        # ABSOLUTE path — its basename could collide with root-local
        # names, and the GC paths key "never delete" off isabs
        consumed.setdefault(p if p == live_base else os.path.basename(p), now)
    # CAS-on-gen (narrows the expired-lease takeover window): if
    # another compactor committed while we built — only possible after
    # our lease was reclaimed as stale — our build is based on a dead
    # generation; abort and remove the orphan instead of clobbering
    # the winner's commit.  Checked BEFORE the promote rename too: a
    # takeover winner that already committed owns the base<gen> name,
    # and renaming onto it would fail with a raw ENOTEMPTY instead of
    # the protocol's named abort (found by the r8 interleaving model).
    def _cas_or_abort(orphan: str | None) -> None:
        cur = _read_manifest(root)
        if (cur["gen"] if cur else 0) != (man["gen"] if man else 0):
            if orphan is not None:
                shutil.rmtree(orphan, ignore_errors=True)
            raise CompactorBusy(
                f"batched table {root!r} advanced to gen "
                f"{(cur['gen'] if cur else 0)} while this compactor (expired "
                "lease) was building — aborting; the committed generation wins"
            )

    _cas_or_abort(tmp)
    try:
        os.rename(tmp, os.path.join(root, target))  # inert until committed
    except OSError:
        # the generation name is already occupied — a concurrent
        # builder (expired-lease takeover race) promoted its build
        # between our CAS read and this rename; it owns the commit
        shutil.rmtree(tmp, ignore_errors=True)
        raise CompactorBusy(
            f"batched table {root!r}: generation dir {target!r} already "
            "promoted by a concurrent compactor — aborting; the promoted "
            "build wins"
        ) from None
    _cas_or_abort(os.path.join(root, target))
    # CHANGE FILE (r11, VERDICT r10 item #4): a transform fold that
    # opted in materializes its row-level delta now — inside the
    # single-owner window (we own the promoted base<gen> name, so no
    # racing compactor can commit this generation), before the commit
    # that references it (a crash in between leaves an unreferenced
    # orphan the next claim of this generation overwrites)
    change_name: str | None = None
    if change_feed and transform is not None:
        change_name = _write_change_file(
            spark, root, gen, os.path.join(root, target), man
        )
    # the folded tombstone files are consumed — mark exactly the
    # snapshot in the manifest (names kept forever, like consumed
    # dirs); later appends (mid-compaction retractions) remain live
    tombs_man = dict(man.get("tombs", {})) if man else {}
    tombs_man.update({os.path.basename(fp): now for fp in tomb_files})
    _write_manifest(
        root, gen, target, consumed, extra=extra, tombs=tombs_man or None,
        plain=transform is None, change=change_name,
    )  # COMMIT POINT
    # vacuum: only grace-expired victims die now; fresh ones stay on
    # disk (manifest-excluded) for in-flight readers of the previous
    # generation.  Absolute entries are external seed snapshots
    # (seed_batched) — referenced, never owned, never deleted.  The
    # travel-depth guarantee re-resolves against the log INCLUDING the
    # generation just committed (the keep window slides forward).
    protected = _protected_bases(root, keep_last_gens)
    protected |= _group_protected_names(root, keep_last_txns)
    for d, ts in consumed.items():
        if os.path.isabs(d) or d in protected:
            continue
        if now - ts >= gc_grace_sec:
            shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    _vacuum_tombs(root, tombs_man, now, gc_grace_sec)
    return n_groups


def _write_change_file(
    spark: SparkSession, root: str, gen: int, new_base: str, man: dict | None
) -> str | None:
    """Materialize a TRANSFORM generation's row-level delta as a
    CHANGE FILE (r11, VERDICT r10 item #4 — the Delta MERGE-CDF
    shape): the full-row diff between the previous base and the
    promoted build, written to ``.changes/g<gen>`` with a ``_change``
    column, referenced from the manifest committed right after.  A
    rebucket/requantize/PQ-re-encode fold rewrites rows it can
    enumerate — materializing the diff lets adjacent-generation CDF
    consumers cross the maintenance window delta-proportionally
    instead of paying the table-bound snapshot diff.

    Cost: two row-level scans + one shuffle (exceptAll both ways) on
    top of a fold that is already rewriting the whole table, and the
    written file is DELTA-sized (a rebucket that moved 3%% of rows
    writes 6%% of rows: delete+insert per moved row).  Runs inside the
    fold's single-owner window (after the promote rename, before the
    manifest commit), so a racing compactor can never overwrite a
    committed generation's file; a crash before the commit leaves an
    orphan the next fold's claim of the same generation overwrites.

    Columns follow the NEW build's schema; a column the transform
    dropped is absent from the diff (payload comparison happens on the
    output schema).  Returns the change name for the manifest, or None
    when the previous base is gone (consumers then fall back)."""
    newb = spark.read.parquet(new_base)  # hive (partition_cols path)
    base = man["base"] if man is not None else None
    prev = _entries(
        [base if os.path.isabs(base) else os.path.join(root, base)] if base else [],
        man,
    )
    prev_al = (
        _align_to(
            _union(spark, lambda e: _read_dir(spark, e, None, True), prev),
            newb.schema.fields,
        )
        if prev
        else spark.createDataFrame([], newb.schema)
    )
    dels = prev_al.exceptAll(newb).withColumn("_change", F.lit("delete"))
    ins = newb.exceptAll(prev_al).withColumn("_change", F.lit("insert"))
    cdir = os.path.join(root, _CHANGES, f"g{gen}")
    dels.unionByName(ins).write.mode("overwrite").parquet(cdir)
    return f"g{gen}"


def _vacuum_tombs(
    root: str, tombs: dict[str, float], now: float, gc_grace_sec: float
) -> None:
    """Physically delete consumed tombstone files whose retention
    grace expired (manifest exclusion happened at their fold's commit;
    the delete is idempotent — names stay in the manifest)."""
    tdir = os.path.join(root, _TOMBSTONES)
    for name, ts in tombs.items():
        if now - ts >= gc_grace_sec:
            try:
                os.remove(os.path.join(tdir, name))
            except OSError:
                pass


def maintain_batched(
    spark: SparkSession,
    root: str,
    max_dirs: int = 16,
    target_bytes: int = 128 << 20,
    partition_cols: Sequence[str] | None = None,
    gc_grace_sec: float = 300.0,
    transform: Callable[[DataFrame], "DataFrame | tuple[DataFrame, dict]"] | None = None,
    tombstone_col: str | None = None,
    lease_ttl_sec: float = 3600.0,
    max_tombstone_files: int = 16,
    rebucket: tuple[str, Callable[[int], Column], int, int] | None = None,
    keep_last_gens: int | None = None,
    ann: "tuple | None" = None,
    max_batch: int | None = None,
    keep_last_txns: "tuple[str, int] | None" = None,
    change_feed: bool = False,
) -> int:
    """AUTO-compaction policy (VERDICT r5 item #3): compact when the
    live-dir count reaches ``max_dirs``, else no-op.  Called by the
    stream owner in its maintenance window (after awaitTermination /
    between runs), this bounds ``read_batched``'s listing-and-union
    cost at O(max_dirs) forever without anyone remembering to run
    compaction by hand — a long-lived table oscillates between
    ``1`` (fresh base) and ``max_dirs`` live dirs.  Returns the group
    count from compact_batched (0 = below threshold).

    TOMBSTONE PRESSURE (r7): when ``tombstone_col`` is set, pending
    retraction files also trigger the fold at ``max_tombstone_files``
    — a QUIET table (few live dirs, steady retractions) must not pay a
    growing probe-time anti-join forever just because its dir count
    never crosses ``max_dirs``.  The threshold is file-count, not row
    count: each append_tombstones call is one file, so this bounds the
    number of retraction BATCHES a probe re-reads, the actual
    per-trigger cost.

    AUTO RE-BUCKETING (r8 spec evolution): ``rebucket=(col,
    recompute, default_n, cap_rows)`` makes every maintenance
    compaction a spec-evolving one — the transform is built fresh per
    pass from the table's CURRENT committed spec, so nobody has to
    remember to re-bucket either: when the hottest bucket has outgrown
    ``cap_rows`` by the time dir/tombstone pressure triggers a pass,
    the same rewrite doubles the spec; when it hasn't, the transform
    is measurement-only and the layout is carried unchanged.
    Mutually exclusive with ``transform`` (a caller with a custom
    transform owns its own spec discipline).

    AUTO ANN MAINTENANCE (r9): ``ann=(cap_rows, retrain)`` gives an
    IVF index table the same nobody-has-to-remember discipline —
    every triggered pass runs ``similarity.ann_maintenance_transform``
    (hot-cell re-split; with ``retrain=(k, iters, cell_cap_rows)``
    also the drift-triggered quantizer re-train).  r10 adds the PQ
    leg: ``ann=(cap_rows, None, (m, dsub, k_codes, iters,
    distortion_cap))`` measures the sampled codebook distortion
    (similarity.pq_distortion) and re-trains + re-encodes past the
    cap (or bootstraps a book-less table).  Mutually exclusive with
    ``transform`` and ``rebucket``."""
    if not os.path.isdir(root):
        return 0
    if sum(x is not None for x in (transform, rebucket, ann)) > 1:
        raise ValueError(
            "maintain_batched: pass at most one of transform=, "
            "rebucket=, ann="
        )
    if rebucket is not None:
        col, recompute, default_n, cap_rows = rebucket
        transform = rebucket_transform(
            col,
            recompute,
            current_spec(root, default_n),
            cap_rows,
            prior_extra=read_manifest_extra(root),
        )
    if ann is not None:
        from mo_etl_spark.operators.similarity import (
            ann_maintenance_transform,
        )

        # (cap_rows, retrain) — r9; (cap_rows, retrain, pq) — r10 adds
        # the codebook drift trigger (similarity.pq_distortion)
        cap_rows, retrain, *rest = ann
        pq = rest[0] if rest else None
        transform = ann_maintenance_transform(
            cap_rows, retrain=retrain, pq=pq, root=root
        )
    tomb_pressure = False
    if tombstone_col is not None:
        # LIVE files only: consumed files retained inside their grace
        # window must not re-trigger the fold they already got
        tomb_pressure = len(_live_tomb_files(root)) >= max_tombstone_files
    if len(_live_dirs(root)) < max_dirs and not tomb_pressure:
        return 0
    return compact_batched(
        spark,
        root,
        target_bytes=target_bytes,
        min_dirs=0,
        partition_cols=partition_cols,
        gc_grace_sec=gc_grace_sec,
        transform=transform,
        tombstone_col=tombstone_col,
        lease_ttl_sec=lease_ttl_sec,
        keep_last_gens=keep_last_gens,
        max_batch=max_batch,
        keep_last_txns=keep_last_txns,
        change_feed=change_feed,
    )


def tumbling_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Non-overlapping event-time windows (epoch-aligned grid)."""
    return df.groupBy(F.window(ts_col, width).alias("win"), *keys).agg(*aggs)


def sliding_agg(
    df: DataFrame,
    ts_col: str,
    width: str,
    slide: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Overlapping windows: each event lands in width/slide windows."""
    return df.groupBy(F.window(ts_col, width, slide).alias("win"), *keys).agg(*aggs)


def session_agg(
    df: DataFrame,
    ts_col: str,
    gap: str,
    keys: Sequence[str],
    aggs: Sequence[Column],
) -> DataFrame:
    """Gap-based session windows (merges events closer than ``gap``).
    Batch twin of the window-function sessionize (suites/windows.py)."""
    return df.groupBy(F.session_window(ts_col, gap).alias("win"), *keys).agg(*aggs)


def stateful_dedup(
    df: DataFrame, keys: Sequence[str], watermark: tuple[str, str] | None = None
) -> DataFrame:
    """Exactly-once by key: batch dropDuplicates; with ``watermark=
    (ts_col, delay)`` on a stream, state is bounded by the watermark
    (late duplicates beyond it age out — the 100 TB/unbounded path)."""
    if watermark is not None:
        df = df.withWatermark(*watermark)
    return df.dropDuplicates(list(keys))


def file_stream_source(
    spark: SparkSession, path: str, schema, fmt: str = "parquet"
) -> DataFrame:
    """Incremental file-drop source — the Spark-native analog of the
    reference's S3-block queue consumption (u, ActiveData-ETL
    s3_bucket + pulse: workers pick up new blocks as they appear)."""
    return spark.readStream.schema(schema).format(fmt).load(path)


def foreach_batch_etl(
    stream_df: DataFrame,
    transform: Callable[[DataFrame, int], DataFrame],
    sink: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Per-microbatch transform+sink — the ActiveData block-ETL shape
    (u: transform(source_key, source, dest) per S3 block) with
    exactly-once bookkeeping via the checkpoint dir."""

    def run(batch_df: DataFrame, batch_id: int) -> None:
        sink(transform(batch_df, batch_id), batch_id)

    writer = stream_df.writeStream.foreachBatch(run).option(
        "checkpointLocation", checkpoint
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stateful_count(
    stream_df: DataFrame,
    key_col: str,
    timeout: str = "NoTimeout",
) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): a per-key
    running event counter held in the state store — the
    arbitrary-stateful shape for operators the built-in windows can't
    express.  Each micro-batch updates the count and emits the key's
    new total; state survives across batches via the checkpoint."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

    def update(key, pdfs, state: GroupState):
        n = sum(len(pdf) for pdf in pdfs)
        (total,) = state.get if state.exists else (0,)
        total += n
        state.update((total,))
        yield pd.DataFrame({key_col: [key[0]], "n_events": [total]})

    return stream_df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType=f"{key_col} long, n_events long",
        stateStructType="n_events long",
        outputMode="update",
        timeoutConf=timeout,
    )


def tws_user_stats(stream_df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Next-generation arbitrary state (Spark 4 transformWithState):
    per-key running count/sum/max held in typed ValueState on the
    RocksDB state store.  Vs applyInPandasWithState above: named state
    variables (value/list/map), timers, TTL, and state-schema evolution
    — the API a long-lived 100 TB streaming deployment should target.
    Requires spark.sql.streaming.stateStore.providerClass =
    RocksDBStateStoreProvider (set by the caller before .start())."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats", "n_events BIGINT, total_cents BIGINT, max_cents BIGINT"
            )

        def handleInputRows(self, key, rows, timerValues):
            prev = self._state.get() if self._state.exists() else None
            n, tot, mx = prev if prev is not None else (0, 0, None)
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                tot += int(pdf["value_cents"].sum())
                m = int(pdf["value_cents"].max())
                mx = m if mx is None else max(mx, m)
            self._state.update((n, tot, mx))
            yield pd.DataFrame(
                {
                    key_col: [key[0]],
                    "n_events": [n],
                    "total_cents": [tot],
                    "max_cents": [mx],
                }
            )

        def close(self) -> None:
            pass

    return stream_df.groupBy(key_col).transformWithStateInPandas(
        statefulProcessor=UserStats(),
        outputStructType=(
            f"{key_col} long, n_events long, total_cents long, max_cents long"
        ),
        outputMode="Update",
        timeMode="None",
    )
