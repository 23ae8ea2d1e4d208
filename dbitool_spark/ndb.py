"""ndb: persistent keyed table with last-write-wins upsert, replay,
and lookup (reference dbitoolmod_ndb, scripts/dbitool.pl:2561-2694).

The reference ties a DB_File hash: each incoming row overwrites the
row stored under its key (hash semantics = last-write-wins in stream
order), the table replays as a source in unordered key order, and the
TODO (:61-72) earmarks it as the lookup/join side. The Spark-native
realization is a parquet-backed keyed table, MERGE-ON-READ (the
Delta Lake / Iceberg MoR shape, Armbrust et al. VLDB 2020):

- `upsert(df)` APPENDS: it resolves the batch within itself (an
  explicit `order_by` — or a deterministic struct-max — breaks ties,
  since DataFrames have no stream order to inherit), tags every row
  with its generation (`__ndb_gen`) and key-hash bucket
  (`__ndb_bucket`) as data columns, and writes ONE delta file. It
  never reads the stored state, so a batch costs O(batch) whatever
  the table size or key spread;
- every read (`replay()`, `replay(as_of=)`, `lookup()`, the state
  read of `merge_upsert`) resolves last-write-wins: per key, the row
  with the highest `__ndb_gen` over the base files plus the deltas
  wins. A version without deltas is a plain parquet scan; with
  deltas, the base rows whose key a delta holds are dropped by an
  anti-join against the delta keys (the fold bound keeps that side a
  few batches, so the planner broadcasts it) and the deltas resolve
  among themselves by one key window. `lookup` on a table larger
  than the session's broadcast bound applies its bucket and
  key-range filters to every source BEFORE resolving, so it only
  resolves the probed buckets; a table within the bound (data files
  summed on the driver) is resolved and broadcast whole, with no
  probe pass;
- `compact()` is the FOLD: it merges the pending deltas into the
  bucket files, rewriting only the buckets the deltas touch (and,
  with files_per_bucket > 1, only the key-range files inside them the
  deltas intersect); untouched buckets and range-missed files
  hardlink forward byte-identical. `upsert` runs the fold itself once
  a version holds more than _FOLD_AFTER deltas, which bounds what
  every read resolves. With no deltas pending, `compact()` coalesces
  buckets whose file count grew past files_per_bucket (OPTIMIZE).

ON-DISK FORMAT. Every committed version is one directory `v{gen}/`:
`__ndb_bucket=<i>/` subdirectories holding the folded base (payload
columns + `__ndb_gen`, the bucket as the hive partition), an optional
`_delta/` subdirectory of `<gen>.parquet` files (payload + `__ndb_gen`
+ `__ndb_bucket`, one row per key each, named by the generation that
wrote them — the underscore keeps Spark's file index from listing
them in the base scan), the `_committed` marker and (when the key
type serializes) `_manifest.json` with one entry per base AND delta
file. Every file of the previous version hardlinks forward, so a
commit costs its own delta plus one link per file.

COMMIT PROTOCOL (optimistic concurrency, the Delta-log shape on a
filesystem): every write builds its FULL version content — parquet
writes plus hardlink carryover plus a `_committed` marker file — in a
private staging directory (`.stage-v{gen}-pid{pid}`), then publishes
it with ONE atomic `os.rename` to `v{gen}`. rename-onto-existing
fails, so of two writers racing the same generation exactly one
commits and the loser raises NdbWriteConflict (re-read and retry) —
no torn state, no lost update, even with the advisory writer lock
disabled. The committed-generation authority is the in-dir marker
(max committed v{gen}) or the backend's commit log; nothing else
names the head. A crashed writer leaves only an unpublished staging
dir, GC'd once its pid is dead. A fold is an ordinary commit of its
own generation: the snapshot it publishes reads exactly like the one
before it. Honest scope: atomic rename is a local/POSIX-filesystem
guarantee — on S3-class object stores the same protocol needs a
log/CAS service, exactly as Delta/Iceberg require there. That swap is
a named SEAM: CommitBackend (committed_gens + rename_cas) with the
shipped PosixCommitBackend; implement those two calls against a
conditional-put log service and the rest of the engine carries over
unchanged.
SqliteCommitBackend is the shipped REFERENCE log backend — commit
authority in an ACID sqlite table, the insert and the data rename
bracketed by one transaction — proving the seam with a real
non-rename authority, not just a mock (tests drive both backends
through the full upsert/conflict/replay path plus a threaded CAS
race). Hardlinks keep shared files alive across version GC.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

_GEN = "__ndb_gen"
_BUCKET = "__ndb_bucket"
_META = "meta.json"
_LOCK = ".writer_lock"
# in-dir commit marker: a v{gen} dir is a COMMITTED snapshot iff it
# contains this file (written in staging, published atomically by the
# rename — data and marker become visible together). Underscore
# prefix keeps parquet readers from treating it as data.
_COMMITTED = "_committed"
# per-version file-range manifest (the Delta/Iceberg checkpoint
# analog at this module's scale): {relpath: {"r": [key_min, key_max]
# | null, "n": rows}} for every base and delta file, written INTO the
# staging dir so the
# commit rename publishes data + manifest atomically. Each file's
# range is footer-probed ONCE at creation; carried files inherit
# their entry by relpath (hardlinks keep relpaths stable), so folds
# and compact selection stop re-probing stored files on every
# write — at object-store scale that turns per-file GETs into
# one small JSON read. Optional everywhere: a version without one
# (non-JSON-serializable key types, e.g. dates) falls back to footer
# probes.
_MANIFEST = "_manifest.json"
# merge-on-read delta files (one `<gen>.parquet` per upsert) live in
# this subdir of a version dir; the underscore keeps Spark's file
# index from listing them in the base (`__ndb_bucket=<i>/`) scan
_DELTA = "_delta"
# the fold bound: an upsert whose version holds more delta files than
# this folds them into the bucket files (one more commit by the same
# writer). Each read resolves base + deltas, so read cost grows with
# the delta count; see ROADMAP "ndb commit" for the measurement
_FOLD_AFTER = 8


class NdbWriteConflict(RuntimeError):
    """Another writer committed the generation this writer was about
    to publish (optimistic-concurrency loser). The table state is
    intact and includes the winner's commit; re-read and retry."""

# sentinel: /proc entry exists but is unreadable (hidepid) — the
# process is ALIVE, its identity just can't be checked; must never
# read as "owner gone" (same contract as plans/state_ops scratch
# reclamation)
_ALIVE_UNREADABLE = -1
# stamp sentinel: the WRITER could not read its own start ticks
# (non-Linux, masked procfs) so PID-reuse detection is impossible for
# this lock; checkers must ASSUME the owner is alive rather than
# classify it PID-recycled and silently steal (a 0 stamp would make
# every lock stealable on such platforms — the guard a no-op)
_NO_SELF_IDENTITY = -2


def _proc_start_ticks(pid: int) -> int | None:
    """Kernel start time of `pid` from /proc/<pid>/stat field 22 — the
    PID-reuse-proof identity. None = gone; _ALIVE_UNREADABLE = alive
    but unreadable."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
        return int(stat.rsplit(b")", 1)[1].split()[19])
    except PermissionError:
        return _ALIVE_UNREADABLE
    except (OSError, IndexError, ValueError):
        return None


def _link_tree(src_dir: str, dst_dir: str) -> None:
    """Hardlink every file under src_dir into the same relative spot
    under dst_dir — byte-identical sharing with the previous version
    at zero copy cost (falls back to copy2 if the filesystem refuses
    links). Inodes survive GC of the old version dir."""
    os.makedirs(dst_dir, exist_ok=True)
    for name in os.listdir(src_dir):
        s = os.path.join(src_dir, name)
        d = os.path.join(dst_dir, name)
        if os.path.isdir(s):
            _link_tree(s, d)
        else:
            try:
                os.link(s, d)
            except OSError:
                shutil.copy2(s, d)


class CommitBackend:
    """Commit-coordination seam: the ONLY two primitives of the table
    engine whose correctness depends on the storage system's
    concurrency semantics. Everything else (bucket layout, intra-
    bucket range pruning, the manifest, hardlink carry, retention GC,
    time travel) is plain file I/O that any store provides. The
    documented object-store swap (module docstring: an S3-class store
    has no atomic rename-onto-existing, so Delta/Iceberg route
    commits through a log/CAS service) is therefore THIS interface:
    implement these two calls against DynamoDB-style conditional
    puts or an Iceberg-catalog pointer swap and NdbTable's commit
    protocol — stale-publish guards, retention clamp, conflict
    semantics — carries over unchanged.

    - committed_gens(table_path): every generation number with a
      PUBLISHED commit record — the transaction log read. Max() of it
      is the table head.
    - rename_cas(staging, final): atomically publish the fully-built
      staging dir as `final` iff nothing is committed there — the
      compare-and-swap. True = published; False = CAS lost (a racer
      holds the slot). Non-conflict failures (permissions, I/O) must
      RAISE, never return False — the caller preserves the staging
      dir for inspection on a raise and cleans it on a conflict.
    """

    #: Written as the _committed marker's CONTENT by the table layer,
    #: so a later reader can tell WHICH commit protocol published a
    #: dir: under POSIX the marker's presence IS the commit record
    #: ("posix"), under a log backend it is advisory debris metadata
    #: ("log:<path>"). A log backend uses this to distinguish a
    #: generation genuinely committed under another authority (refuse
    #: to destroy) from its own rename-then-died crash debris (safe to
    #: clear).
    marker_tag = "posix"

    def committed_gens(self, table_path: str) -> list[int]:
        raise NotImplementedError

    def rename_cas(self, staging: str, final: str) -> bool:
        raise NotImplementedError

    def forget(self, table_path: str, gen: int) -> None:
        """Retention GC retired v{gen}: drop its commit record so the
        log stays bounded by keep_versions. No-op by default — on the
        POSIX backend the in-dir marker IS the record and dies with
        the dir; log-service backends override."""

    def verify_table(self, table_path: str) -> None:
        """Open-time authority check: a marker-committed generation
        this backend's log never recorded means the table was written
        under ANOTHER commit authority (a POSIX table opened with a
        log backend, or a second log misconfigured onto one table).
        rename_cas catches the case where the foreign generation
        collides with a staged slot, but a fresh log whose head is
        empty stages v0 — BELOW foreign generations that retention
        already moved past v0 — so the two authorities would
        interleave gens, and retention GC under either would
        eventually destroy the other's committed data. No-op by
        default: on POSIX the markers ARE the log, so the mismatch
        cannot exist; log-service backends override."""


class PosixCommitBackend(CommitBackend):
    """The shipped implementation: POSIX rename-onto-existing-dir
    fails with EEXIST/ENOTEMPTY, so one os.rename IS the CAS, and the
    in-dir _committed marker (written into staging before the rename)
    makes data + commit record visible in the same atomic step."""

    def committed_gens(self, table_path: str) -> list[int]:
        out = []
        for name in os.listdir(table_path):
            if (
                name.startswith("v")
                and name[1:].isdigit()
                and os.path.exists(os.path.join(table_path, name, _COMMITTED))
            ):
                out.append(int(name[1:]))
        return out

    def rename_cas(self, staging: str, final: str) -> bool:
        import errno

        try:
            os.rename(staging, final)
            return True
        except OSError as exc:
            if exc.errno in (errno.EEXIST, errno.ENOTEMPTY, errno.ENOTDIR):
                return False
            raise  # genuine I/O failure: never mask as conflict


class SqliteCommitBackend(CommitBackend):
    """REAL log-service implementation of the seam (stdlib sqlite3) —
    commit authority lives in an ACID transactions table, NOT in
    filesystem rename semantics: the shape Delta's log store /
    Iceberg's catalog provide on object stores, runnable here without
    any service. The CAS is an INSERT under a PRIMARY KEY
    (table_path, gen) inside ONE transaction that also brackets the
    data rename:

        BEGIN IMMEDIATE            -- serializes writers (busy wait)
        INSERT (table_path, gen)   -- IntegrityError = CAS lost
        os.rename(staging, final)  -- data placement
        COMMIT                     -- the publish instant

    A reader's committed_gens() only sees the row after COMMIT, so a
    renamed-but-unlogged dir is as invisible as a staging dir — no
    torn window between data and log. A rename failure rolls the
    insert back (conflict errnos -> CAS loss; anything else
    re-raises with the staging dir intact). A dir already in an
    accepted slot is unlogged (the log, not the dir listing, is
    truth): its marker decides between clearing it as this log's own
    crash remnant and refusing it as another authority's commit.

    Scope note (honest): sqlite's locking is a LOCAL-disk guarantee —
    this backend demonstrates and tests the seam's contract; an
    object-store deployment implements the same two calls against a
    conditional-put service (DynamoDB, an Iceberg REST catalog)."""

    def __init__(self, db_path: str):
        self.db_path = db_path
        # instance-specific tag: markers record WHICH log published a
        # generation, not merely "some log" — two sqlite logs pointed
        # at one table (a misconfiguration) must not read each other's
        # committed generations as own crash debris and destroy them.
        # realpath so the same log reached via a symlink still matches
        # its own markers; a spurious path mismatch only REFUSES (the
        # data-safe direction), never clears.
        self.marker_tag = f"log:{os.path.realpath(db_path)}"
        con = self._conn()
        try:
            con.execute(
                "CREATE TABLE IF NOT EXISTS commits ("
                " table_path TEXT NOT NULL, gen INTEGER NOT NULL,"
                " committed_at REAL NOT NULL,"
                " PRIMARY KEY (table_path, gen))"
            )
            con.commit()
        finally:
            con.close()  # sqlite3's context manager commits, never closes

    def _conn(self):
        import sqlite3

        con = sqlite3.connect(self.db_path, timeout=30.0)
        con.execute("PRAGMA busy_timeout = 30000")
        return con

    def committed_gens(self, table_path: str) -> list[int]:
        con = self._conn()
        try:
            rows = con.execute(
                "SELECT gen FROM commits WHERE table_path = ?",
                (os.path.abspath(table_path),),
            ).fetchall()
        finally:
            con.close()
        return [int(r[0]) for r in rows]

    def rename_cas(self, staging: str, final: str) -> bool:
        import errno
        import sqlite3
        import time as _time

        table_path, vname = os.path.split(final)
        gen = int(vname[1:])
        conflict_errnos = (errno.EEXIST, errno.ENOTEMPTY, errno.ENOTDIR)
        con = self._conn()
        try:
            con.execute("BEGIN IMMEDIATE")  # serializes log writers
            try:
                con.execute(
                    "INSERT INTO commits (table_path, gen, committed_at)"
                    " VALUES (?, ?, ?)",
                    (os.path.abspath(table_path), gen, _time.time()),
                )
            except sqlite3.IntegrityError:
                con.rollback()
                return False  # conditional put failed: CAS lost
            # data placement under the HELD write transaction: the
            # insert was accepted, so the log — the authority — says
            # nothing is committed at this gen, and a directory
            # already in the slot whose marker says THIS protocol
            # ("log") can only be the remnant of a writer that died
            # between ITS rename and ITS COMMIT (whose insert rolled
            # back). Clear it atomically and retry once — self-healing
            # for the rename->commit crash window; the held
            # transaction excludes concurrent loggers of this slot, so
            # the clear races nobody (review finding: this remnant
            # otherwise wedged the table permanently). Any other tag
            # ("posix", another log's, or an empty marker) instead
            # means a generation GENUINELY COMMITTED under an
            # authority this log never recorded — a table migrated
            # between backends mid-life. Destroying it would be
            # silent data loss, so refuse with a migration error.
            for attempt in (0, 1):
                try:
                    os.rename(staging, final)
                    break
                except OSError as exc:
                    if exc.errno not in conflict_errnos:
                        con.rollback()
                        raise
                    if attempt == 1 or not os.path.isdir(final):
                        con.rollback()
                        return False
                    marker = os.path.join(final, _COMMITTED)
                    if os.path.exists(marker):
                        try:
                            with open(marker) as fh:
                                tag = fh.read().strip()
                        except OSError:
                            tag = "posix"  # unreadable: assume committed
                        if tag != self.marker_tag:
                            con.rollback()
                            raise RuntimeError(
                                f"ndb migration conflict at {final}: the "
                                f"slot holds a generation marker-committed "
                                f"under the {tag!r} protocol that this "
                                f"commit log ({self.db_path}) never "
                                "recorded — refusing to destroy it. "
                                "Import the generation into the log (one "
                                "INSERT INTO commits per marker-committed "
                                "v* dir) or remove the directory "
                                "explicitly before writing with this "
                                "backend."
                            )
                    grave = f"{final}.unlogged.pid{os.getpid()}"
                    try:
                        os.rename(final, grave)
                    except OSError:
                        con.rollback()
                        return False
                    shutil.rmtree(grave, ignore_errors=True)
            try:
                con.commit()  # the publish instant
            except sqlite3.Error:
                # data placed but the log row didn't land: restore the
                # dir to the staging path so log and data agree AND
                # the caller's raise contract (staging left intact for
                # inspection) holds (review finding)
                try:
                    os.rename(final, staging)
                except OSError:
                    grave = f"{final}.unlogged.pid{os.getpid()}"
                    try:
                        os.rename(final, grave)
                        shutil.rmtree(grave, ignore_errors=True)
                    except OSError:
                        pass
                raise
            return True
        finally:
            con.close()

    def forget(self, table_path: str, gen: int) -> None:
        con = self._conn()
        try:
            con.execute(
                "DELETE FROM commits WHERE table_path = ? AND gen = ?",
                (os.path.abspath(table_path), int(gen)),
            )
            con.commit()
        finally:
            con.close()

    def verify_table(self, table_path: str) -> None:
        if not os.path.isdir(table_path):
            return  # fresh table: nothing to verify
        logged = set(self.committed_gens(table_path))
        for name in sorted(os.listdir(table_path)):
            if not (name.startswith("v") and name[1:].isdigit()):
                continue
            gen = int(name[1:])
            if gen in logged:
                continue
            marker = os.path.join(table_path, name, _COMMITTED)
            if not os.path.exists(marker):
                continue  # markerless staging/debris: rename_cas heals
            try:
                with open(marker) as fh:
                    tag = fh.read().strip()
            except OSError:
                tag = "posix"  # unreadable: assume committed
            if tag != self.marker_tag:
                raise RuntimeError(
                    f"ndb migration conflict at {table_path}: generation "
                    f"v{gen} is marker-committed under the {tag!r} "
                    f"protocol but this commit log ({self.db_path}) never "
                    "recorded it — refusing to adopt the table. Import "
                    "the marker-committed generations into the log (one "
                    "INSERT INTO commits per v* dir) or remove them "
                    "explicitly before writing with this backend."
                )
            # own-tag + unlogged = this log's rename->commit crash
            # debris; leave it for rename_cas's in-slot healing


class NdbTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        key: str,
        *,
        n_buckets: int = 32,
        files_per_bucket: int = 1,
        keep_versions: int | None = None,
        single_writer: bool = True,
        evolve_schema: bool = False,
        commit_backend: CommitBackend | None = None,
    ):
        self.spark = spark
        self.path = path
        self.key = key
        # the commit-coordination seam (see CommitBackend): default is
        # the POSIX rename-CAS; a log-service backend swaps in here
        self._backend = commit_backend or PosixCommitBackend()
        # open-time authority check: refuse a table whose committed
        # generations this backend's log does not know (see
        # CommitBackend.verify_table) before any gen arithmetic runs
        self._backend.verify_table(path)
        self.n_buckets = n_buckets
        # keep_versions > 2 enables TIME TRAVEL: the last K generation
        # dirs are retained across upserts/compactions and replay(
        # as_of=gen) reads any retained snapshot — the transaction-log
        # facility of the Delta/Iceberg swap, on plain parquet.
        # Retention is CHEAP by construction: every file a commit did
        # not write hardlinks forward between versions, so K snapshots
        # share inodes and cost only each version's own delta (or
        # fold output), exactly like a table format's log. The
        # default None means "2 for a new table, meta's value on
        # reopen"; an EXPLICIT arg wins on reopen in both directions
        # (max(meta, arg) would silently ignore an explicit smaller
        # value, so a one-time accidental widening would retain extra
        # snapshots forever), floored at 2 (current + the
        # crash-recovery previous).
        self.keep_versions = 2 if keep_versions is None else max(2, int(keep_versions))
        # advisory cross-PROCESS writer guard (default on): two live
        # processes upserting the same table race for each commit, and
        # the loser's work ends in NdbWriteConflict; the lock turns
        # that into an upfront error. Same-process
        # writers (nested merge_upsert->upsert, multiple instances,
        # sequential foreachBatch micro-batches) always pass. Stale
        # locks (dead or PID-recycled owner, proven via the kernel
        # start-time stamp) are stolen; a LIVE foreign owner raises.
        # Best-effort by design: O_EXCL semantics are local-FS; on a
        # cluster the Delta/Iceberg swap's transaction log is the
        # real answer (module docstring).
        self.single_writer = bool(single_writer)
        # evolve_schema=True lets a batch ADD or DROP non-key columns:
        # the merge unions by name with NULL backfill, old version
        # files keep their written schema (hardlink carry is
        # byte-identical by design), and every read goes through
        # parquet mergeSchema once the table has evolved — the
        # schema-evolution half of the Delta/Iceberg swap. Default
        # False keeps drift a LOUD error (a renamed column silently
        # nulling out is the nastier failure mode).
        self.evolve_schema = bool(evolve_schema)
        self._evolved = False  # any evolution recorded in meta
        self._columns: list[str] | None = None  # stored payload columns
        # files_per_bucket > 1 enables INTRA-bucket pruning: each
        # bucket's base is written as ~this many key-RANGE files,
        # sorted by key inside each file (tight parquet row-group
        # min/max stats), so a fold reads only the files whose key
        # range intersects the deltas' per-bucket key range and
        # HARDLINKS the rest forward — O(state*b/n * hit_fraction +
        # deltas) when key locality exists. Range disjointness is
        # PRESERVED across folds (see compact()); what accumulates is
        # small files — each fold replaces the intersecting files with
        # ~files_per_bucket new ones — and compact() on a delta-free
        # head is the bounded OPTIMIZE analog that coalesces them.
        self.files_per_bucket = max(1, int(files_per_bucket))
        #: observability: stats of the last fold's intra-bucket file
        #: selection ({} until a files_per_bucket>1 table folds) —
        #: read by pytest and by curious operators.
        self.last_prune_stats: dict = {}
        #: observability: why the last lookup() read what it read —
        #: {"table_bytes", "broadcast_threshold"} when the table fit the
        #: broadcast bound and no bucket was probed, the bucket/range
        #: selection when the probe pass ran, {} for a full replay
        #: (prune=False, right/full joins, key dtype drift) and before
        #: any lookup
        self.last_lookup_stats: dict = {}
        os.makedirs(path, exist_ok=True)
        # the stored layout is authoritative: a reopened table keeps
        # the bucket count it was written with (the constructor arg is
        # a default for NEW tables), and a key mismatch is a hard error
        meta_path = os.path.join(path, _META)
        self._key_type: str | None = None
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                meta = json.load(fh)
            if meta.get("key") != key:
                raise ValueError(
                    f"ndb table at {path} is keyed by {meta.get('key')!r}, "
                    f"not {key!r}"
                )
            self.n_buckets = int(meta.get("n_buckets", n_buckets))
            self.files_per_bucket = int(
                meta.get("files_per_bucket", files_per_bucket)
            )
            # retention on reopen: the DEFAULT (no arg) keeps meta's
            # recorded window — it never narrows IMPLICITLY, so
            # already-retained snapshots stay readable; an EXPLICIT
            # arg wins in both directions (widening is the remediation
            # replay(as_of)'s error message prescribes), floored at 2
            if keep_versions is None:
                self.keep_versions = max(2, int(meta.get("keep_versions", 2)))
            self._key_type = meta.get("key_type")
            self._evolved = bool(meta.get("evolved", False))
            self._columns = meta.get("columns")

    def _refresh_schema_state(self) -> None:
        """Re-read meta's SCHEMA-AUTHORITY fields (key_type, evolved,
        columns) — called under the writer lock before upsert's schema
        decisions (review finding: a cached snapshot predating another
        process's evolution caused reads without mergeSchema, silent
        loss of the evolved column, and a meta regression). evolved is
        merged MONOTONE (never un-evolves). Retention/layout knobs
        (keep_versions, n_buckets, files_per_bucket) keep their
        constructor-resolved values: their reopen semantics are
        decided in __init__, not here."""
        meta_path = os.path.join(self.path, _META)
        if not os.path.exists(meta_path):
            return
        try:
            with open(meta_path) as fh:
                meta = json.load(fh)
        except (OSError, ValueError):
            return
        self._key_type = meta.get("key_type") or self._key_type
        self._evolved = self._evolved or bool(meta.get("evolved", False))
        cols = meta.get("columns")
        if cols is not None:
            self._columns = list(cols)

    # -- committed head --------------------------------------------------

    def _committed_gens(self) -> list[int]:
        """Generations with a published commit record — delegated to
        the commit backend (the transaction-log read)."""
        return self._backend.committed_gens(self.path)

    def _current_gen(self) -> int | None:
        """The newest COMMITTED generation (max over the commit
        records). Deriving it from max(__ndb_gen) over the stored rows
        would (a) pay a full state scan per upsert and (b) go stale
        after an empty batch (a v2 written from an empty upsert still
        carries only _GEN=1 rows, so the next max()+1 would collide
        with the LIVE v2 dir and overwrite the path being read)."""
        return max(self._committed_gens(), default=None)

    def _current_dir(self) -> str | None:
        gen = self._current_gen()
        return None if gen is None else os.path.join(self.path, f"v{gen}")

    def _commit_version(self, staging: str, gen: int) -> str:
        """Atomically publish a fully-built staging dir as v{gen} —
        the optimistic-concurrency commit. The marker is written into
        the staging dir FIRST, so the single rename makes data and
        marker visible together; rename-onto-existing fails, so of
        two racers exactly one wins. A non-empty dir in the way fails
        the POSIX CAS and the commit conflicts; this method never
        touches it: no writer leaves a markerless v{gen} above the
        head (data only reaches v{gen} by renaming a staging dir that
        already holds the marker, and GC removes only generations at
        or below the retained window), so such a dir is foreign and
        not this writer's to clear. Raises NdbWriteConflict (staging
        cleaned up) only for genuine commit collisions (EEXIST/
        ENOTEMPTY/ENOTDIR); any other rename failure (permissions,
        I/O) re-raises as itself with the staging dir left intact for
        inspection.

        STALE-PUBLISH GUARD: a writer stalled across >= keep_versions
        newer commits targets a v{gen} slot GC already VACATED — its
        rename succeeds (nothing in the way) and would publish a
        generation BELOW the table's real head, after which its own
        retention GC (keyed off its stale gen) would delete every newer
        committed version. Two checks close it: (a) before renaming, any
        committed generation >= gen means this writer's read is stale —
        conflict, nothing published; (b) after a successful rename, any
        committed generation > gen can only be the same staleness seen
        through the residual check->rename window (a LEGITIMATE
        successor would have had to read this very commit and finish a
        full Spark write inside microseconds), so the just-published dir
        is moved aside and the writer conflicts. _gc_versions carries
        the matching clamp (never deletes committed generations above
        the published one) as defense in depth.

        The CAS itself and the committed-generation listing go
        through self._backend (the CommitBackend seam): on POSIX the
        CAS is one os.rename; an object-store backend routes both
        through its log service and this method's guard logic carries
        over verbatim."""
        final = os.path.join(self.path, f"v{gen}")
        newest = max(self._committed_gens(), default=-1)
        if newest >= gen:
            shutil.rmtree(staging, ignore_errors=True)
            how = (
                "committed by another writer between this writer's read "
                "and its publish"
                if newest == gen
                else f"read stale — the committed head is already v{newest}"
            )
            raise NdbWriteConflict(
                f"ndb commit conflict at {self.path}: generation v{gen} was "
                f"{how} — re-read the table state and retry the write"
            )
        # marker content = backend kind (CommitBackend.marker_tag), so
        # a log backend can later tell a migrated POSIX commit from
        # its own crash debris — see SqliteCommitBackend.rename_cas
        with open(os.path.join(staging, _COMMITTED), "w") as fh:
            fh.write(self._backend.marker_tag)
        # a non-conflict failure inside rename_cas RAISES (staging left
        # intact for inspection); False is a genuine CAS loss
        if not self._backend.rename_cas(staging, final):
            shutil.rmtree(staging, ignore_errors=True)
            raise NdbWriteConflict(
                f"ndb commit conflict at {self.path}: generation v{gen} was "
                "committed by another writer between this writer's read and "
                "its publish — re-read the table state and retry the write"
            )
        # post-rename stale-publish check (guard (b) above): a
        # committed generation ABOVE ours at this instant means our
        # slot had been GC-vacated and we published below the table's
        # head — unpublish and conflict
        newest = max(self._committed_gens(), default=gen)
        if newest > gen:
            stale_grave = f"{final}.stale.pid{os.getpid()}"
            try:
                os.rename(final, stale_grave)
                shutil.rmtree(stale_grave, ignore_errors=True)
            except OSError:
                pass  # a racer moved it first; either way: conflict
            # retire the unpublished generation's commit record too: a
            # log backend would otherwise keep a committed row for data
            # that no longer exists — phantom head risk + unbounded
            # growth (a no-op on POSIX, where the marker left with the
            # dir)
            self._backend.forget(self.path, gen)
            raise NdbWriteConflict(
                f"ndb commit conflict at {self.path}: v{gen} was "
                f"published below the committed head v{newest} "
                "(stale read across a GC'd window) — re-read the "
                "table state and retry the write"
            )
        return final

    def _staging_dir(self, gen: int) -> str:
        """Private, pid-unique staging path for building v{gen} —
        concurrent racers never write into each other's files."""
        return os.path.join(self.path, f".stage-v{gen}-pid{os.getpid()}")

    def _write_meta(self) -> None:
        meta_path = os.path.join(self.path, _META)
        want = {
            "key": self.key,
            "n_buckets": self.n_buckets,
            "key_type": self._key_type,
            "files_per_bucket": self.files_per_bucket,
            "keep_versions": self.keep_versions,
            "evolved": self._evolved,
            "columns": self._columns,
        }
        stale = True
        if os.path.exists(meta_path):
            with open(meta_path) as fh:
                stale = json.load(fh) != want
        if stale:
            tmp = meta_path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(want, fh)
            os.replace(tmp, meta_path)

    def _reader(self):
        """DataFrameReader for state files: once the table has EVOLVED
        its schema, version dirs legitimately hold mixed-schema files
        (hardlink carryover keeps old files byte-identical), so reads
        must merge footers; un-evolved tables keep the cheap
        single-footer read."""
        r = self.spark.read
        return r.option("mergeSchema", "true") if self._evolved else r

    def _state(self) -> DataFrame | None:
        current = self._current_dir()
        if current is None:
            return None
        return self._read(current)

    def _broadcast_bound(self) -> int:
        """The session's spark.sql.autoBroadcastJoinThreshold in bytes
        (-1 when broadcasting is off)."""
        return self.spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()

    @staticmethod
    def _data_bytes(version_dir: str) -> int:
        """Bytes of the version's data files (base bucket files plus
        deltas; markers, manifest and checksums excluded), summed on
        the driver without a Spark job."""
        return sum(
            os.path.getsize(os.path.join(dp, fn))
            for dp, _, fns in os.walk(version_dir)
            for fn in fns
            if not fn.startswith((".", "_"))
        )

    @staticmethod
    def _delta_files(version_dir: str) -> list[str]:
        """The version's delta files, oldest generation first (names
        are zero-padded generations, so name order is gen order)."""
        ddir = os.path.join(version_dir, _DELTA)
        if not os.path.isdir(ddir):
            return []
        return sorted(
            os.path.join(ddir, n)
            for n in os.listdir(ddir)
            if not n.startswith((".", "_"))
        )

    def _newest(self, rows: DataFrame) -> DataFrame:
        """One row per key: the one with the highest generation. Each
        generation holds at most one row per key, so the order is
        total."""
        w = Window.partitionBy(self.key).orderBy(F.desc(_GEN))
        return (
            rows.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _read(
        self,
        version_dir: str,
        *,
        buckets: list[int] | None = None,
        key_range: tuple | None = None,
    ) -> DataFrame:
        """The version's visible rows (with _GEN and _BUCKET), one per
        key: last-write-wins over the base bucket files plus the
        deltas. `buckets`/`key_range` narrow EVERY source before the
        resolution — both depend only on the key, so all versions of a
        key are kept or dropped together. Without deltas this is the
        plain (partition-pruned) scan. With them, base rows whose key
        any delta holds are dropped by a null-safe anti-join against
        the delta keys — at most _FOLD_AFTER + 1 batches, so on a table
        much larger than a batch the planner broadcasts them and the
        base scan does not shuffle — and the deltas resolve among
        themselves by one key window."""
        reader = self._reader()

        def narrow(df: DataFrame) -> DataFrame:
            if buckets is not None:
                df = df.filter(F.col(_BUCKET).isin([int(b) for b in buckets]))
            if key_range is not None:
                lo, hi = key_range
                df = df.filter(F.col(self.key).between(F.lit(lo), F.lit(hi)))
            return df

        base = (
            narrow(reader.parquet(version_dir))
            if self._bucket_dirs(version_dir)
            else None
        )
        deltas = self._delta_files(version_dir)
        if not deltas:
            return base
        rows = narrow(reader.parquet(*deltas))
        delta = self._newest(rows) if len(deltas) > 1 else rows
        if base is None:
            return delta
        keys = rows.select(self.key)
        kept = base.join(keys, base[self.key].eqNullSafe(keys[self.key]), "left_anti")
        return kept.unionByName(delta, allowMissingColumns=self._evolved)

    def _bucket_expr(self):
        return F.pmod(F.xxhash64(F.col(self.key)), F.lit(self.n_buckets)).cast("int")

    @staticmethod
    def _bucket_dirs(version_dir: str) -> dict[int, str]:
        """bucket value -> subdir name for a version dir."""
        out: dict[int, str] = {}
        for name in os.listdir(version_dir):
            if name.startswith(f"{_BUCKET}="):
                try:
                    out[int(name.split("=", 1)[1])] = name
                except ValueError:
                    continue
        return out

    def _range_safe_key_type(self) -> bool:
        """Whether footer min/max stats and Spark-collected values for
        the key share one comparable domain (see _split_touched_files'
        domain gate). Unknown/unset types answer False — over-read."""
        kt = self._key_type or ""
        return kt in (
            "tinyint", "smallint", "int", "bigint",
            "float", "double", "string", "date", "boolean",
        ) or kt.startswith("decimal")

    @staticmethod
    def _file_stats(path: str, key: str):
        """ONE driver-side footer read -> ((min, max) of `key`, row
        count). Range is None when statistics are missing (caller must
        then treat the file as a hit — safe over-read, never a skipped
        rewrite); rows is None only when the footer itself is
        unreadable. Bounded work: one footer per candidate file, only
        for TOUCHED buckets — the row count rides along for free while
        the footer is already open (manifest v2)."""
        import pyarrow.parquet as pq

        try:
            md = pq.read_metadata(path)
        except (OSError, ValueError):
            # pyarrow's ArrowInvalid subclasses ValueError: a corrupt
            # or truncated footer degrades to the safe over-read, it
            # never crashes the pruning path (review finding — the
            # original _file_key_range contract)
            return None, None
        rows = md.num_rows
        try:
            idx = md.schema.names.index(key)
        except ValueError:
            return None, rows
        lo = hi = None
        for g in range(md.num_row_groups):
            st = md.row_group(g).column(idx).statistics
            if st is None or not st.has_min_max:
                return None, rows
            gmin, gmax = st.min, st.max
            if isinstance(gmin, bytes):
                gmin = gmin.decode("utf-8", "replace")
            if isinstance(gmax, bytes):
                gmax = gmax.decode("utf-8", "replace")
            lo = gmin if lo is None or gmin < lo else lo
            hi = gmax if hi is None or gmax > hi else hi
        return (None if lo is None else (lo, hi)), rows

    @staticmethod
    def _file_key_range(path: str, key: str):
        """Range-only view of _file_stats (the pruning callers' and
        the probe-counting tests' single entry point)."""
        return NdbTable._file_stats(path, key)[0]

    def _load_manifest(self, version_dir: str | None) -> dict | None:
        """The version's file-range manifest ({relpath: {"r": [lo, hi]
        | null, "n": rows}}), or None when it is missing, unreadable
        or not in that shape — callers then fall back to footer
        probes."""
        if version_dir is None:
            return None
        try:
            with open(os.path.join(version_dir, _MANIFEST)) as fh:
                man = json.load(fh)
        except (OSError, ValueError):
            return None
        if not all(isinstance(e, dict) for e in man.values()):
            return None
        return man

    def _manifest_range(self, manifest: dict | None, version_dir: str, full: str):
        """File key range from the manifest when it has an entry,
        else a footer probe. A stored null means 'no stats' — the
        same safe-over-read contract _file_key_range returns None
        for."""
        if manifest is not None:
            ent = manifest.get(os.path.relpath(full, version_dir))
            if ent is not None:
                rng = ent["r"]
                return None if rng is None else (rng[0], rng[1])
        return self._file_key_range(full, self.key)

    def _write_manifest(self, out_dir: str, prev_dir: str | None) -> None:
        """Build the staged version's manifest: carried files reuse
        the previous manifest's entry by relpath — verified by
        os.path.samefile so a reused relpath with FRESH content is
        re-probed instead of silently inheriting a stale range (a
        carried stale range would mis-prune the next fold); freshly
        written files are footer-probed ONCE here, capturing key range
        AND row count in the same read (entries {"r": [lo, hi] | null,
        "n": rows}). Written before the commit rename, so it publishes
        atomically with the data. Best-effort by design: a
        non-serializable key type skips the manifest and every reader
        falls back to probing."""
        prev = self._load_manifest(prev_dir) or {}
        man: dict = {}
        for dirpath, _dirs, files in os.walk(out_dir):
            for fn in files:
                if fn.startswith((".", "_")):
                    continue
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, out_dir)
                if rel in prev:
                    try:
                        same = os.path.samefile(
                            os.path.join(prev_dir, rel), full
                        )
                    except OSError:
                        same = False
                    if same:  # hardlink carry: the entry is the file's
                        man[rel] = prev[rel]
                        continue
                rng, rows = self._file_stats(full, self.key)
                man[rel] = {
                    "r": list(rng) if rng is not None else None,
                    "n": rows,
                }
        try:
            payload = json.dumps(man)
        except (TypeError, ValueError):
            return  # non-JSON key type: readers keep probing footers
        with open(os.path.join(out_dir, _MANIFEST), "w") as fh:
            fh.write(payload)

    def _split_touched_files(
        self, current: str, bucket_dirs: dict[int, str],
        touched: list[int], rng: dict,
    ) -> tuple[list[str], list[str]]:
        """Intra-bucket pruning (files_per_bucket > 1): partition the
        touched buckets' base files into (read_files, carry_files) by
        intersecting each file's footer key range with the deltas'
        per-bucket key range `rng` ({bucket: (lo, hi)}). A carry
        file's range is DISJOINT from the deltas' [min, max], so it
        cannot hold any delta key — it hardlinks forward untouched and
        per-key uniqueness survives. Range-vs-range (not
        range-vs-key-set) keeps the driver edge bounded: one
        n_buckets-row aggregate plus one manifest entry (or footer)
        per touched-bucket file.

        Domain gate (review finding): footer statistics live in
        pyarrow's value domain — bytes decode to str, timestamps come
        back as naive-UTC datetimes — while the delta range is
        Spark-collected (bytearray; session-timezone datetimes). The
        comparison is only sound for key types whose two domains
        coincide (ints, strings, floats, decimals, dates); for
        anything else (binary, timestamps) the caller passes no
        ranges and every touched-bucket file is read — the safe
        over-read, never a TypeError or a tz-offset mis-carry that
        would duplicate keys."""
        manifest = self._load_manifest(current)
        read: list[str] = []
        carry: list[str] = []
        for b in touched:
            name = bucket_dirs.get(int(b))
            if name is None:
                continue
            bdir = os.path.join(current, name)
            lo, hi = rng.get(int(b), (None, None))
            for fn in sorted(os.listdir(bdir)):
                full = os.path.join(bdir, fn)
                if not os.path.isfile(full) or fn.startswith((".", "_")):
                    continue
                frange = self._manifest_range(manifest, current, full)
                if (
                    frange is None
                    or lo is None
                    or (frange[0] <= hi and lo <= frange[1])
                ):
                    read.append(full)
                else:
                    carry.append(full)
        return read, carry

    # -- operations ------------------------------------------------------

    def upsert(
        self,
        df: DataFrame,
        *,
        order_by: str | list[str] | None = None,
    ) -> None:
        """Append a batch: per key, the newest generation wins; within
        this batch, `order_by` desc wins (defaults to a deterministic
        struct-max over all non-key columns — DataFrames carry no
        stream order, so unordered batches need an explicit rule).

        Merge-on-read (module docstring): the batch is resolved within
        itself, tagged with this commit's generation and each row's
        key-hash bucket, and written as ONE delta file into the staged
        version; every file of the previous version hardlinks forward.
        The stored state is never read, so the cost is O(batch) — one
        job for the resolution and the write — whatever the table
        size or how many buckets the keys spread over. Once the
        committed version holds more than _FOLD_AFTER deltas the same
        call folds them (compact()); a conflict lost by that fold is
        left to the next upsert, because this batch is already
        committed and a retry would apply it twice."""
        if self.key not in df.columns:
            raise ValueError(f"key {self.key!r} not in columns {df.columns}")
        claimed = [
            c
            for c in df.columns
            if c in (_GEN, _BUCKET, "__rn", "__slot") or c.startswith("__old_")
        ]
        if claimed:
            raise ValueError(
                f"columns {claimed} are reserved by ndb (engine-internal "
                f"names: {_GEN}/{_BUCKET}/__rn/__slot/__old_*), got "
                f"{df.columns}"
            )
        owns_lock = self._acquire_writer_lock()
        try:
            # the schema-authority snapshot must be CURRENT for the
            # decisions below: re-read meta under the writer lock
            # (review finding: a writer instance whose cached snapshot
            # predates another process's schema evolution would write
            # without recording the evolution, and every read after
            # would skip mergeSchema — then regress meta)
            self._refresh_schema_state()
            # the bucket hash (xxhash64) is TYPE-sensitive: the same key
            # value under a drifted dtype (int vs bigint, int vs string)
            # hashes to a different bucket, a fold would rewrite the
            # wrong bucket and replay would silently return TWO rows
            # for one key. Pin the key dtype in meta at first write and
            # refuse drifted batches loudly — casting silently could
            # corrupt keys (e.g. string->int nulls).
            batch_key_type = df.schema[self.key].dataType.simpleString()
            if self._key_type is not None and batch_key_type != self._key_type:
                raise ValueError(
                    f"ndb key dtype drift: table stores {self.key!r} as "
                    f"{self._key_type}, batch has {batch_key_type} — cast the "
                    "batch key to the stored type before upserting"
                )
            # schema decisions are computed into LOCALS and applied to
            # the instance only AFTER the version commit publishes
            # (the monotone evolved flag is the one deliberate
            # exception, below): a conflict loser (or any failed
            # write) must not keep phantom evolution state that a
            # later _write_meta would persist (review finding)
            new_key_type = self._key_type or batch_key_type
            payload = sorted(df.columns)
            known = self._columns
            new_evolved = self._evolved
            if known is None:
                new_columns = payload
            elif payload != known:
                added = [c for c in payload if c not in known]
                dropped = [c for c in known if c not in payload]
                if not self.evolve_schema:
                    raise ValueError(
                        f"ndb schema drift: table stores columns "
                        f"{known}, batch has {payload} (added {added}, "
                        f"missing {dropped}) — pass evolve_schema=True to "
                        "union by name with NULL backfill, or align the batch"
                    )
                # schema EVOLUTION: record it so every future read
                # merges parquet footers (a version now legitimately
                # holds mixed-schema base and delta files)
                new_evolved = True
                new_columns = sorted(set(known) | set(payload))
            else:
                new_columns = known
            prev_gen = self._current_gen()
            current = (
                None if prev_gen is None
                else os.path.join(self.path, f"v{prev_gen}")
            )
            gen = 0 if prev_gen is None else prev_gen + 1
            if order_by is None:
                others = [c for c in df.columns if c != self.key]
                tie = (
                    [F.struct(*[F.col(c) for c in others]).alias("__tie")]
                    if others
                    else []
                )
            else:
                cols = [order_by] if isinstance(order_by, str) else list(order_by)
                tie = [F.col(c) for c in cols]
            batch = df.withColumn(_GEN, F.lit(gen).cast("long")).withColumn(
                _BUCKET, self._bucket_expr()
            )
            w = Window.partitionBy(self.key).orderBy(
                F.desc(_GEN), *[F.desc(t) for t in tie]
            )
            resolved = (
                batch.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            # build the full version in a private staging dir; the
            # atomic rename in _commit_version publishes it (see the
            # module docstring's commit protocol)
            out_dir = self._staging_dir(gen)
            shutil.rmtree(out_dir, ignore_errors=True)
            os.makedirs(out_dir)
            if current is not None:
                self._carry(current, out_dir)
            self._write_delta(resolved, out_dir, gen)
            self._write_manifest(out_dir, current)
            if new_evolved and not self._evolved:
                # persist the MONOTONE evolved flag BEFORE the commit
                # (review finding): a crash between commit and meta
                # would otherwise leave a committed mixed-schema
                # version that every future open reads WITHOUT
                # mergeSchema — the added column silently vanishing.
                # The asymmetry is deliberate: a phantom evolved=True
                # left by a conflict loser costs one harmless extra
                # mergeSchema, while the columns record stays
                # post-commit (a phantom columns entry would turn the
                # loser's retry into a spurious drop-evolution).
                self._evolved = True
                self._write_meta()
            final = self._commit_version(out_dir, gen)
            # the commit published: NOW the schema decisions become
            # instance + meta state (a conflict loser never gets here)
            self._key_type = new_key_type
            self._columns = new_columns
            self._evolved = new_evolved
            self._write_meta()
            self._gc_versions(keep=self._retention_keep(gen))
            if len(self._delta_files(final)) > _FOLD_AFTER:
                try:
                    self._fold_locked()
                except NdbWriteConflict:
                    pass  # a racer moved the head; the next upsert folds
        finally:
            if owns_lock:
                self._release_writer_lock()

    def _carry(
        self, current: str, out_dir: str, *,
        skip_buckets: set[int] = frozenset(), deltas: bool = True,
    ) -> None:
        """Hardlink the previous version's data forward into the staged
        one: every bucket dir not in `skip_buckets` and, when `deltas`,
        the delta files — byte-identical carryover at zero copy cost.
        The marker and the manifest are per-version and never carry."""
        for bval, name in self._bucket_dirs(current).items():
            if bval not in skip_buckets:
                _link_tree(os.path.join(current, name), os.path.join(out_dir, name))
        if deltas and os.path.isdir(os.path.join(current, _DELTA)):
            _link_tree(os.path.join(current, _DELTA), os.path.join(out_dir, _DELTA))

    @staticmethod
    def _write_delta(rows: DataFrame, out_dir: str, gen: int) -> None:
        """Write `rows` as the one delta file `_delta/<gen>.parquet` of
        the staged version: a single writer task (maxRecordsPerFile
        pinned off so a session conf cannot split it), then the part
        file is renamed into place. A zero-row batch still writes one
        schema-carrying file."""
        ddir = os.path.join(out_dir, _DELTA)
        tmp = os.path.join(ddir, f".write-{gen}")
        rows.coalesce(1).write.option("maxRecordsPerFile", 0).parquet(tmp)
        (part,) = [
            n for n in os.listdir(tmp)
            if n.endswith(".parquet") and not n.startswith((".", "_"))
        ]
        os.rename(os.path.join(tmp, part), os.path.join(ddir, f"{gen:012d}.parquet"))
        shutil.rmtree(tmp)

    def _acquire_writer_lock(self) -> bool:
        """Take the advisory writer lock. Returns True when THIS call
        owns it (caller must release), False when the current process
        already holds it (reentrant pass-through) or the guard is off.
        Raises RuntimeError on a live foreign owner.

        Race-hardened construction: the lock file is created
        ATOMICALLY WITH ITS CONTENT (write a tmp stamp, os.link into
        place — link fails on an existing path), so no observer can
        ever read a half-written stamp; a stale lock is stolen via
        os.rename into a per-stealer graveyard name — rename is
        atomic, so of two concurrent stealers exactly one wins and
        the loser just retries, and a freshly re-acquired lock can
        never be unlinked by a slow second stealer (the unlink-based
        steal's classic race)."""
        if not self.single_writer:
            return False
        lock = os.path.join(self.path, _LOCK)
        me = os.getpid()
        tmp = f"{lock}.stamp.{me}"
        try:
            my_ticks = _proc_start_ticks(me)
            if my_ticks is None:
                my_ticks = _NO_SELF_IDENTITY  # platform w/o readable /proc
            with open(tmp, "w") as fh:
                fh.write(f"{me} {my_ticks}")
            for _ in range(3):  # initial try + steal retries
                try:
                    os.link(tmp, lock)  # atomic create-with-content
                    return True
                except FileExistsError:
                    pass
                try:
                    with open(lock) as fh:
                        pid_s, start_s = fh.read().split()
                    pid, start = int(pid_s), int(start_s)
                except FileNotFoundError:
                    continue  # released between attempts: retry
                except (OSError, ValueError):
                    # unreadable — cannot happen from this module's
                    # atomic create; treat as foreign garbage, steal
                    pid, start = -1, -1
                if pid == me:
                    return False  # reentrant: nested upsert in-process
                if pid > 0:
                    cur = _proc_start_ticks(pid)
                    if (
                        cur == start
                        or cur == _ALIVE_UNREADABLE
                        or start == _NO_SELF_IDENTITY
                    ):
                        # _NO_SELF_IDENTITY: the owner couldn't stamp a
                        # verifiable identity, so liveness is UNKNOWABLE
                        # — fail safe (assume alive) rather than degrade
                        # the guard to silently-stealable; a provably
                        # dead owner's lock must be removed by hand there
                        who = (
                            f"writer pid {pid} with an unverifiable "
                            f"identity stamp (assumed alive — if that "
                            f"writer is known dead, delete {lock} "
                            "manually)"
                            if start == _NO_SELF_IDENTITY
                            else f"live writer pid {pid}"
                        )
                        raise RuntimeError(
                            f"ndb table at {self.path} is locked by "
                            f"{who}; concurrent cross-process upserts "
                            "would race each commit (pass "
                            "single_writer=False to override at your "
                            "own risk)"
                        )
                # dead or PID-recycled owner: atomic rename-steal —
                # exactly one concurrent stealer wins; losers loop
                grave = f"{lock}.stale.{me}"
                try:
                    os.rename(lock, grave)
                    os.unlink(grave)
                except OSError:
                    pass  # another stealer won; retry the link
            raise RuntimeError(
                f"ndb writer lock at {self.path} could not be acquired "
                "(persistent contention)"
            )
        finally:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    def _release_writer_lock(self) -> None:
        """Unlink the lock only when it is provably OURS — a plain
        unlink could remove a lock a stealer re-acquired after
        declaring this process's (earlier, renamed-away) lock stale."""
        lock = os.path.join(self.path, _LOCK)
        try:
            with open(lock) as fh:
                pid = int(fh.read().split()[0])
            if pid == os.getpid():
                os.unlink(lock)
        except (OSError, ValueError, IndexError):
            pass

    def _retention_keep(self, gen: int) -> set[str]:
        """Version dirs the GC must retain after flipping to `gen`:
        the newest `keep_versions` generations. The default of 2
        (current + the crash-recovery previous) reproduces the
        pre-time-travel behavior exactly; larger values are the
        time-travel window replay(as_of=...) can read."""
        return {f"v{g}" for g in range(gen - self.keep_versions + 1, gen + 1)}

    def versions(self) -> list[int]:
        """Retained snapshot generations, oldest first — each readable
        via replay(as_of=gen). Bounded by keep_versions. Only
        committed generations count; a dir without a commit record is
        never a snapshot."""
        return sorted(
            g
            for g in self._committed_gens()
            if os.path.isdir(os.path.join(self.path, f"v{g}"))
        )

    def history(self) -> list[dict]:
        """Retained-snapshot audit, oldest first — the DESCRIBE
        HISTORY analog of the Delta/Iceberg swap this module
        documents. Per generation: commit-marker mtime (the publish
        instant), data file count (base + delta), the number of
        pending delta files, total bytes, DISTINCT inode bytes (what
        this snapshot would actually free on GC — hardlink carry means
        most bytes are shared with neighbors), whether it is the
        current head, and manifest presence. n_rows is the visible
        row count, known from the manifest only for a version without
        deltas: a delta row may replace a base row or an older delta
        row, so summing file counts would overstate it — with deltas
        pending n_rows is None (fold first for an exact count). Pure
        driver-side metadata (os.walk over <= keep_versions dirs);
        never reads data."""
        out = []
        cur = self._current_gen()
        for g in self.versions():
            vdir = os.path.join(self.path, f"v{g}")
            n_files = 0
            total = 0
            own = 0
            for dirpath, _dirs, files in os.walk(vdir):
                for fn in files:
                    if fn.startswith((".", "_")):
                        continue
                    st = os.stat(os.path.join(dirpath, fn))
                    n_files += 1
                    total += st.st_size
                    if st.st_nlink == 1:
                        own += st.st_size
            # row count from the manifest when EVERY entry carries one
            # ("n") and no delta is pending; otherwise None (the honest
            # answer — history() never reads data to find out)
            man = self._load_manifest(vdir)
            n_deltas = len(self._delta_files(vdir))
            n_rows = None
            if man is not None and not n_deltas:
                counts = [e.get("n") for e in man.values()]
                if all(c is not None for c in counts):
                    n_rows = sum(counts)
            out.append(
                {
                    "generation": g,
                    "committed_at": os.stat(
                        os.path.join(vdir, _COMMITTED)
                    ).st_mtime,
                    "n_files": n_files,
                    "n_deltas": n_deltas,
                    "n_rows": n_rows,
                    "total_bytes": total,
                    "exclusive_bytes": own,
                    "is_current": g == cur,
                    "has_manifest": os.path.exists(
                        os.path.join(vdir, _MANIFEST)
                    ),
                }
            )
        return out

    def _gc_versions(self, keep: set[str]) -> None:
        """Delete superseded version dirs after a commit — without
        this, every micro-batch of a long-running stream_upsert_ndb
        leaves a full state copy behind (unbounded disk growth). The
        immediately-previous version is kept as the crash-recovery
        fallback; anything older is garbage. Hardlinked bucket files
        shared with live versions survive the rmtree (the inode
        outlives this name). Also reclaims staging dirs whose writer
        pid is provably dead (a crashed writer's unpublished build —
        never another LIVE writer's in-progress staging), and grave
        dirs (v*.stale.pid* / v*.unlogged.pid*) orphaned by a clearer
        that crashed between the move-aside and the rmtree.

        CLAMP (the stale-publish guard's second half):
        a COMMITTED generation ABOVE the window this GC was keyed on
        is another writer's newer commit seen through a stale read —
        it is NEVER deleted here, whatever the keep set says. Without
        this, a stale publish that slipped every guard would follow
        up by rmtree-ing the real head."""
        floor = max(
            (int(n[1:]) for n in keep if n.startswith("v") and n[1:].isdigit()),
            default=None,
        )
        for name in os.listdir(self.path):
            full = os.path.join(self.path, name)
            if (
                name.startswith("v")
                and name[1:].isdigit()
                and name not in keep
                and os.path.isdir(full)
            ):
                if (
                    floor is not None
                    and int(name[1:]) > floor
                    and os.path.exists(os.path.join(full, _COMMITTED))
                ):
                    continue  # newer committed head: never ours to GC
                shutil.rmtree(full, ignore_errors=True)
                # retire the generation from the commit log too: on
                # the POSIX backend the marker died with the dir
                # (forget is a no-op), but a log-service backend
                # would otherwise grow one row per micro-batch
                # forever on a long-running stream_upsert_ndb —
                # the same unbounded-growth leak this GC exists to
                # prevent, one layer up
                self._backend.forget(self.path, int(name[1:]))
            elif (
                # a stale publish moved below the live head, or a
                # sqlite-backend remnant (rename_cas clears unlogged
                # dirs into these): either way nothing committed, so a
                # marker inside one means nothing
                (".stale.pid" in name or ".unlogged.pid" in name)
                and name.startswith("v")
                and os.path.isdir(full)
            ):
                # orphaned grave from a crashed clearer: reclaim only
                # when the mover is provably dead (same liveness rule
                # as staging below — unknowable liveness never deletes)
                if _proc_start_ticks(os.getpid()) is None:
                    continue
                pid_s = name.rsplit(".pid", 1)[-1]
                if pid_s.isdigit() and int(pid_s) != os.getpid():
                    if _proc_start_ticks(int(pid_s)) is None:  # dead owner
                        shutil.rmtree(full, ignore_errors=True)
            elif name.startswith(".stage-v") and os.path.isdir(full):
                # liveness is only provable where /proc is readable: on
                # a platform where even OUR OWN pid has no stat entry,
                # None means "unknowable", not "dead" — skip the sweep
                # rather than delete a live writer's in-progress build
                # (the _NO_SELF_IDENTITY lesson, review finding)
                if _proc_start_ticks(os.getpid()) is None:
                    continue
                pid_s = name.rsplit("-pid", 1)[-1]
                if pid_s.isdigit() and int(pid_s) != os.getpid():
                    if _proc_start_ticks(int(pid_s)) is None:  # dead owner
                        shutil.rmtree(full, ignore_errors=True)

    def compact(self, buckets: list[int] | None = None) -> list[int]:
        """Table maintenance; returns the bucket ids rewritten ([] when
        there is nothing to do).

        With deltas pending, compact() is the FOLD: the deltas merge
        into the bucket files and the new version holds none. Only the
        buckets the deltas touch are read and rewritten (one bounded
        aggregation over the deltas finds them); on files_per_bucket>1
        tables only the key-range files intersecting the deltas'
        per-bucket key range are read, and the rest hardlink forward —
        last_prune_stats records that selection. Untouched buckets
        hardlink forward byte-identical. upsert() runs the fold itself
        once a version holds more than _FOLD_AFTER deltas. Range-
        intersection selection plus range-partitioned rewrite
        PRESERVES range disjointness across folds (a carried file never
        overlaps the deltas' span, and every stored file the span
        could reach gets selected), so pruning never degrades by
        overlap; what grows is the FILE COUNT (each fold replaces the
        intersecting files with ~files_per_bucket new ones).

        With no deltas pending, compact() is the OPTIMIZE analog that
        bounds that growth: it coalesces the selected buckets (default:
        more data files than files_per_bucket, a file missing key
        statistics, or overlapping footer ranges; or the explicit
        `buckets`) back to <= files_per_bucket sorted range files. So
        compact() until it returns [] leaves a fully folded and
        coalesced table.

        Either way the rewrite commits as a new version through the
        same stage-then-rename protocol as upsert (a crashed
        compaction never corrupts the live state) and holds the same
        advisory writer lock: an unguarded compact racing a
        cross-process upsert would leave one of them to lose its
        write to NdbWriteConflict."""
        owns_lock = self._acquire_writer_lock()
        try:
            current = self._current_dir()
            if current is None:
                raise ValueError(f"ndb table at {self.path} is empty")
            if self._delta_files(current):
                return self._fold_locked()
            return self._compact_locked(current, buckets)
        finally:
            if owns_lock:
                self._release_writer_lock()

    def _fold_locked(self) -> list[int]:
        """Fold the head's deltas into its bucket files (compact()'s
        first mode; the caller holds the writer lock)."""
        prev_gen = self._current_gen()
        current = os.path.join(self.path, f"v{prev_gen}")
        gen = prev_gen + 1
        deltas = self._reader().parquet(*self._delta_files(current))
        bucket_dirs = self._bucket_dirs(current)
        # ONE bounded aggregation (<= n_buckets rows) gives the touched
        # buckets and, where the key domain allows range pruning
        # (_split_touched_files), each bucket's delta key range
        ranged = self.files_per_bucket > 1 and self._range_safe_key_type()
        aggs = (
            [F.min(self.key).alias("lo"), F.max(self.key).alias("hi")]
            if ranged
            else [F.count(F.lit(1)).alias("n")]
        )
        rows = deltas.groupBy(_BUCKET).agg(*aggs).collect()
        touched = sorted(int(r[0]) for r in rows)
        rng = {int(r[0]): (r[1], r[2]) for r in rows} if ranged else {}
        carry_files: list[str] = []
        state: DataFrame | None = None
        if self.files_per_bucket > 1:
            read_files, carry_files = self._split_touched_files(
                current, bucket_dirs, touched, rng
            )
            self.last_prune_stats = {
                "touched_buckets": len(touched),
                "files_read": len(read_files),
                "files_carried": len(carry_files),
                "bytes_read": sum(os.path.getsize(p) for p in read_files),
                "bytes_carried": sum(os.path.getsize(p) for p in carry_files),
            }
            if read_files:
                state = self._reader().option("basePath", current).parquet(*read_files)
        elif bucket_dirs and touched:
            state = self._reader().parquet(current).filter(F.col(_BUCKET).isin(touched))
        merged = (
            deltas if state is None
            else state.unionByName(deltas, allowMissingColumns=self._evolved)
        )
        resolved = self._newest(merged)
        out_dir = self._staging_dir(gen)  # stage-then-commit protocol
        shutil.rmtree(out_dir, ignore_errors=True)
        if touched:
            n_parts = len(touched)
            if self.files_per_bucket > 1:
                # key-RANGE files inside each bucket, sorted by key
                # within each file: tight row-group min/max stats
                # (predicate scans skip row groups) and the footer
                # ranges _split_touched_files prunes on the next fold.
                # A range partition straddling a bucket boundary just
                # writes one small file into each side — correctness
                # is unaffected.
                shaped = resolved.repartitionByRange(
                    n_parts * self.files_per_bucket, F.col(_BUCKET), F.col(self.key)
                ).sortWithinPartitions(_BUCKET, self.key)
            else:
                shaped = resolved.repartition(n_parts, F.col(_BUCKET))
            shaped.write.partitionBy(_BUCKET).mode("overwrite").parquet(out_dir)
        elif not bucket_dirs:
            # only zero-row deltas and no base: a partitioned write of
            # nothing leaves no readable footer, so write one zero-row
            # schema-carrying file into bucket 0 — the version keeps
            # the one bucket layout
            resolved.drop(_BUCKET).coalesce(1).write.parquet(
                os.path.join(out_dir, f"{_BUCKET}=0")
            )
        os.makedirs(out_dir, exist_ok=True)
        self._carry(current, out_dir, skip_buckets=set(touched), deltas=False)
        # intra-bucket carryover: files inside TOUCHED buckets whose
        # key range the deltas provably missed — hardlinked alongside
        # the freshly written range files (Spark part-file names are
        # UUID-unique, so no collision)
        for src in carry_files:
            dst = os.path.join(out_dir, os.path.relpath(src, current))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            try:
                os.link(src, dst)
            except OSError:
                shutil.copy2(src, dst)
        self._write_manifest(out_dir, current)
        self._commit_version(out_dir, gen)
        self._write_meta()
        self._gc_versions(keep=self._retention_keep(gen))
        return touched

    def _compact_locked(self, current: str, buckets: list[int] | None) -> list[int]:
        """Coalesce grown buckets of a delta-free head (compact()'s
        second mode; the caller holds the writer lock)."""
        bucket_dirs = self._bucket_dirs(current)
        if buckets is None:
            buckets = []
            manifest = self._load_manifest(current)
            for bval, name in bucket_dirs.items():
                bdir = os.path.join(current, name)
                ranges = []
                for fn in sorted(os.listdir(bdir)):
                    full = os.path.join(bdir, fn)
                    if not os.path.isfile(full) or fn.startswith((".", "_")):
                        continue
                    rng = self._manifest_range(manifest, current, full)
                    ranges.append(rng)
                if len(ranges) <= 1:
                    continue
                # the ntile rewrite below converges to <= fpb files per
                # bucket by construction (equal (bucket, slot) keys stay
                # together), so anything above fpb is selectable without
                # re-select churn (a +1 slack would leave fpb+1-file
                # buckets never coalescing)
                if (
                    len(ranges) > self.files_per_bucket
                    or any(r is None for r in ranges)
                ):
                    buckets.append(bval)
                    continue
                ranges.sort()
                if any(a_hi > b_lo for (_, a_hi), (b_lo, _) in zip(ranges, ranges[1:])):
                    buckets.append(bval)
        sel = sorted(int(b) for b in buckets)
        if not sel:
            return []
        gen = int(os.path.basename(current)[1:]) + 1
        out_dir = self._staging_dir(gen)  # stage-then-commit protocol
        state = self._reader().parquet(current).filter(
            F.col(_BUCKET).isin(sel)
        )
        if self.files_per_bucket > 1:
            # DETERMINISTIC slot assignment: ntile splits each bucket's
            # key order into exactly files_per_bucket contiguous range
            # groups — unlike repartitionByRange's sample-estimated
            # boundaries (seeded by RDD id), which can straddle a
            # bucket across fpb+2 partitions on an unlucky sample and
            # leave compact() not actually converging to ~fpb files
            # (observed 1-in-3 under full-suite RDD-id drift). Range-
            # partitioning on (bucket, slot) keeps equal composite
            # keys together, so per bucket the file count is AT MOST
            # fpb by construction (adjacent slots may merge — fewer,
            # wider, still-disjoint files). The per-bucket sort window
            # is one task per bucket — the same cost class as the
            # rewrite itself, fine for a maintenance op.
            slot = F.ntile(self.files_per_bucket).over(
                Window.partitionBy(_BUCKET).orderBy(self.key)
            )
            shaped = (
                state.withColumn("__slot", slot)
                .repartitionByRange(
                    len(sel) * self.files_per_bucket,
                    F.col(_BUCKET),
                    F.col("__slot"),
                )
                .sortWithinPartitions(_BUCKET, "__slot", self.key)
                .drop("__slot")
            )
        else:
            shaped = state.repartition(len(sel), F.col(_BUCKET))
        shaped.write.partitionBy(_BUCKET).mode("overwrite").parquet(out_dir)
        self._carry(current, out_dir, skip_buckets=set(sel))
        self._write_manifest(out_dir, current)
        self._commit_version(out_dir, gen)
        self._write_meta()
        self._gc_versions(keep=self._retention_keep(gen))
        return sel

    _MERGE_RULES = ("sum", "min", "max", "last", "first")

    def merge_upsert(self, df: DataFrame, *, combine: dict[str, str]) -> None:
        """Keyed merge with per-column COMBINE rules instead of pure
        last-write-wins — the MERGE-with-aggregation shape behind
        continuous aggregates / incremental materialized views
        (per-batch partials folded into dimension-sized state):

        - 'sum'  : old + new (additive; NULL treated as identity)
        - 'min'  / 'max' : least/greatest of old and new (NULL-safe)
        - 'last' : the batch value wins when present (upsert default)
        - 'first': the stored value wins when present

        Unlisted non-key columns default to 'last'. The batch must
        hold AT MOST ONE row per key (partials are pre-aggregated by
        construction; duplicated keys raise — silently combining
        within a batch would hide a missing groupBy upstream).

        Cost shape: one bucket-pruned, last-write-wins resolved read
        of the touched buckets' current rows (base + deltas), one
        keyed left-join of batch-vs-state, then the standard append
        of the combined rows as one delta — O(state*b/n + batch),
        never the accumulated history.

        RETRY CONTRACT under additive rules: an
        NdbWriteConflict raised by the post-rename stale-publish
        guard (commit protocol guard (b)) fires AFTER this writer's
        version was briefly published; the guard unpublishes it, but
        if the conflicting successor had already read that transient
        head, a naive retry re-applies this batch on state that
        already carries it — idempotent for 'last'/'first'/'min'/
        'max', DOUBLE-COUNTING for 'sum'. The window is the
        microseconds between rename and the committed-generation
        re-list, so in practice a retry is safe; callers that cannot
        tolerate even that window should make additive batches
        carry an idempotence key (e.g. a batch-id column folded with
        'last') or re-derive the partial from source instead of
        replaying the same batch."""
        unknown = [r for r in combine.values() if r not in self._MERGE_RULES]
        if unknown:
            raise ValueError(
                f"unknown combine rules {unknown}; pick from {self._MERGE_RULES}"
            )
        if self.key in combine:
            raise ValueError(f"key column {self.key!r} cannot carry a combine rule")
        # a typo'd column name would silently fall back to 'last'
        # semantics and overwrite the accumulated state instead of
        # combining — the silent-wrong failure the duplicate-key check
        # below raises loudly for (review finding)
        missing = sorted(c for c in combine if c not in df.columns)
        if missing:
            raise ValueError(
                f"combine names columns not in the batch: {missing} "
                f"(batch columns: {df.columns})"
            )
        # persisted: the batch lineage otherwise evaluates twice (the
        # fused dup/touched probe and the joined upsert write). df is
        # rebound below; `src` keeps the unpersist handle.
        df = df.persist()
        src = df
        try:
            # ONE bounded aggregation serves as the duplicate-key probe
            # AND the touched-bucket collect — group to (bucket, key)
            # counts, reduce to a per-bucket max, collect n_buckets
            # rows: any max > 1 is a duplicated key, and the bucket set
            # prunes the state read below.
            stats = (
                df.withColumn(_BUCKET, self._bucket_expr())
                .groupBy(_BUCKET, self.key)
                .agg(F.count(F.lit(1)).alias("__c"))
                .groupBy(_BUCKET)
                .agg(F.max("__c").alias("__mx"))
                .collect()
            )
            if any(r["__mx"] > 1 for r in stats):
                raise ValueError(
                    "merge_upsert batch holds duplicate keys — pre-aggregate "
                    "the batch (one row per key) so the combine rules are "
                    "well-defined"
                )
            touched = [r[0] for r in stats]
        except Exception:
            src.unpersist()
            raise
        # the lock spans READ + combine + write: an interleaved foreign
        # writer between the state read and the upsert would be exactly
        # the lost update the guard exists to prevent (the nested
        # upsert's acquire passes through reentrantly)
        owns_lock = self._acquire_writer_lock()
        try:
            current = self._current_dir()
            if current is not None:
                state = self._read(current, buckets=touched)
                stored_cols = set(state.columns)
                old = state.drop(_GEN, _BUCKET).select(
                    F.col(self.key),
                    *[
                        (
                            F.col(c)
                            if c in stored_cols
                            # evolved table: a batch column the stored
                            # state has never seen folds against NULL
                            else F.lit(None).cast(df.schema[c].dataType)
                        ).alias(f"__old_{c}")
                        for c in df.columns
                        if c != self.key
                    ],
                )
                merged_cols = [F.col(self.key)]
                for c in df.columns:
                    if c == self.key:
                        continue
                    rule = combine.get(c, "last")
                    new, prev = F.col(c), F.col(f"__old_{c}")
                    if rule == "sum":
                        # NULL is the additive identity; both-NULL stays
                        # NULL (type-preserving: no lit(0) cast needed)
                        expr = (
                            F.when(new.isNull(), prev)
                            .when(prev.isNull(), new)
                            .otherwise(new + prev)
                        )
                    elif rule == "min":
                        expr = F.least(new, prev)
                    elif rule == "max":
                        expr = F.greatest(new, prev)
                    elif rule == "first":
                        expr = F.coalesce(prev, new)
                    else:  # last
                        expr = F.coalesce(new, prev)
                    # the batch schema is the contract (the key_type
                    # pinning precedent): combine results cast back to
                    # it, so e.g. decimal addition's widened precision
                    # cannot drift the stored schema across merges
                    merged_cols.append(
                        expr.cast(df.schema[c].dataType).alias(c)
                    )
                df = df.join(old, self.key, "left").select(*merged_cols)
            self.upsert(df)
        finally:
            src.unpersist()
            if owns_lock:
                self._release_writer_lock()

    def replay(self, *, as_of: int | None = None) -> DataFrame:
        """The table as a source (reference ndb-without-input mode:
        scripts/dbitool.pl:2642-2665). Unordered, one row per key.

        as_of=<gen> reads that retained snapshot instead of the
        current state (time travel — the transaction-log read of the
        Delta/Iceberg swap): exactly the rows visible after upsert
        generation <gen> completed. Raises with the retained list when
        the generation has been GC'd past keep_versions; a larger
        window is a constructor knob, never a rewrite."""
        if as_of is not None:
            vdir = os.path.join(self.path, f"v{int(as_of)}")
            current = self._current_gen()
            if (
                current is None
                or int(as_of) > current
                or not os.path.isdir(vdir)
            ):
                raise ValueError(
                    f"ndb snapshot v{as_of} is not retained at {self.path} "
                    f"(retained: {self.versions()}; raise keep_versions "
                    "to widen the window)"
                )
            return self._read(vdir).drop(_GEN, _BUCKET)
        state = self._state()
        if state is None:
            raise ValueError(f"ndb table at {self.path} is empty")
        return state.drop(_GEN, _BUCKET)

    def lookup(
        self,
        other: DataFrame,
        *,
        how: str = "left",
        broadcast: bool = False,
        prune: bool = True,
    ) -> DataFrame:
        """Enrich `other` by key (the reference's intended lookup use,
        TODO:61-65). broadcast=True hints the table side — only for
        tables known bounded; otherwise the join shuffles on the key
        and AQE decides.

        prune: for left/inner/semi/anti joins the TABLE side is
        bucket-pruned to the probe's key buckets before the join —
        the deterministic key hash means a bucket the probe never
        hashes into cannot hold a matching key. Cost: ONE probe-side
        distinct over the computed bucket id — map-side combinable to
        <= n_buckets rows, a bounded driver edge by construction. At
        100 TB this is the difference between a point-lookup enrich
        reading b/n of the table and reading all of it. The SAME probe
        pass also takes the probe's global [min, max] key range, and
        the table filter adds key BETWEEN lo AND hi — keys outside the
        probe's range cannot match either, and the between pushes down
        to the parquet scan (PushedFilters), so on files_per_bucket>1
        tables, whose files are key-range sorted with tight row-group
        stats, the surviving buckets additionally skip whole files/row
        groups. Both filters apply to the base files AND the deltas
        BEFORE the last-write-wins resolution (they depend only on the
        key, so every version of a key survives or goes together):
        only the probed buckets are ever resolved. Right/full joins
        need the table's unmatched rows and fall back to the full
        replay; set prune=False when the probe is itself table-sized
        (the pruning pass then costs more than it saves).

        Broadcast-sized tables skip the probe pass: when the current
        version's data files (bucket files plus deltas, summed on the
        driver without a Spark job) total no more than the session's
        spark.sql.autoBroadcastJoinThreshold, the table is resolved
        whole (the full replay) and the probe is scanned once, by the
        join. Pruning would read and resolve only the probed buckets,
        but it costs two jobs and a second probe scan; measured with
        local[3] on a 4-core host, 5- and 1,000-key probes against
        32-bucket tables of 1.5, 4.4 and 9.4 MB (a folded base plus
        two deltas) ran 0.15-0.38 s faster on the whole-table path at
        every size, so the bound is the switch point. A threshold of
        -1 always takes the pruned path.

        last_lookup_stats records the choice: {"table_bytes",
        "broadcast_threshold"} on the whole-table path, the bucket/range
        selection on the pruned path, {} on the other full replays."""
        self.last_lookup_stats: dict = {}
        # left/inner/semi: pruned table rows can't match any probe
        # key. anti is safe for the same reason — removing table rows
        # outside the probe's buckets cannot change which probe rows
        # HAVE a match. right/full need unmatched table rows.
        prunable = {
            "left", "left_outer", "leftouter", "inner",
            "semi", "left_semi", "leftsemi",
            "anti", "left_anti", "leftanti",
        }
        current = self._current_dir()
        if current is None:
            return self.replay()  # raises the canonical empty-table error
        # the bucket hash is TYPE-sensitive (the upsert drift guard's
        # reason): a probe whose key dtype differs from the stored one
        # would hash into the WRONG buckets and the pruned join would
        # silently miss real matches (the unpruned join coerces fine)
        # — dtype drift falls back to the full replay instead
        probe_kt = (
            other.schema[self.key].dataType.simpleString()
            if self.key in other.columns
            else None
        )
        if self._key_type is None:
            self._refresh_schema_state()  # another handle created the table
        pruned = (
            prune
            and how in prunable
            and probe_kt is not None
            and probe_kt == self._key_type
        )
        if pruned and (size := self._data_bytes(current)) <= (
            bound := self._broadcast_bound()
        ):
            # a table this small is cheaper to resolve whole than to
            # prune by a probe pass (measured: see the docstring)
            self.last_lookup_stats = {"table_bytes": size, "broadcast_threshold": bound}
            pruned = False
        if pruned:
            # ONE probe pass: distinct bucket ids (<= n_buckets via
            # map-side combine) + the global key range, one driver row
            sel = other.agg(
                F.collect_set(self._bucket_expr()).alias("bs"),
                F.min(self.key).alias("lo"),
                F.max(self.key).alias("hi"),
            ).collect()[0]
            touched = sorted(int(b) for b in (sel["bs"] or []))
            self.last_lookup_stats = {
                "buckets_probed": len(touched),
                "n_buckets": self.n_buckets,
                "buckets_pruned": self.n_buckets - len(touched),
                "key_range": (
                    None if sel["lo"] is None else [sel["lo"], sel["hi"]]
                ),
            }
            table = self._read(
                current,
                buckets=touched,
                key_range=None if sel["lo"] is None else (sel["lo"], sel["hi"]),
            )
        else:
            table = self._read(current)
        table = table.drop(_GEN, _BUCKET)
        if broadcast:
            table = F.broadcast(table)
        return other.join(table, on=self.key, how=how)
