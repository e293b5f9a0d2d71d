"""Manifest: the segment catalog for a KV table.

Mirrors the reference's manifest log (`kv/file/manifest.go:27-35` — a replayable
CREATE/DELETE edit log with a periodically-rewritten snapshot) with the
Spark-idiomatic equivalent: an immutable JSON snapshot per committed version
plus an atomically-swapped CURRENT pointer. Readers always see a consistent
set of segments; a crash between writing parquet files and committing the
manifest simply leaves unreferenced files (ignored, later garbage-collected),
which is the same durability contract as the reference's
write-then-manifest-edit ordering (`kv/file/manifest.go:295-324`).

Segment records carry min/max key + per-level metadata so the read path can
prune files before Spark even lists them — the analog of SST minKey/maxKey
interval search (`kv/lsm/level_handler.go:45-64`).
"""

from __future__ import annotations

import fcntl
import json
import os
import uuid
from dataclasses import asdict, dataclass, field, replace


@dataclass
class SegmentInfo:
    segment_id: str
    kind: str  # "data" | "values"
    level: int
    path: str
    min_key: str | None
    max_key: str | None
    row_count: int
    size_bytes: int
    created_seq: int
    # data-segments: exact upper bound on the row seqs inside (None =
    # unknown, treated as unbounded). The changefeed prunes on THIS —
    # max_seq <= snapshot proves a segment cannot contribute post-snapshot
    # rows, a claim created_seq alone cannot make once compaction merges
    # old and new rows into one output. created_seq is the matching lower
    # bound (compaction carries the MIN of its sources).
    max_seq: int | None = None
    # data-segments: True when created_seq is the segment's EXACT per-row
    # min(seq) (measured by the writer — readback stats for ranged writes,
    # seq0 for a direct batch). The as_of segment prune trusts ONLY
    # exact-stamped segments. False — the default every pre-flag manifest
    # deserializes to — marks a stamp of unknown provenance: in particular,
    # pre-round-7 compaction outputs carried min(participants' stamps),
    # which is a FALSE lower bound when a participant was a legacy
    # (max_seq=None, upper-bound-stamped) segment, even though the output
    # itself gained an exact max_seq. Such segments are conservatively
    # scanned; the row-level seq filter keeps correctness.
    exact_min_seq: bool = False
    # values-segments only: bytes known dead (discard-stats accounting, A17)
    discard_bytes: int = 0
    total_value_bytes: int = 0
    # data-segments: sorted-RUN identity — segments written by one ranged
    # write (ingest or compaction output) share it, so size-tiered
    # banding (store.tiered_buckets) counts the run once instead of
    # re-bucketing its own multi-file output forever. None (every
    # pre-field manifest, and single-segment batch flushes) = the
    # segment is its own run.
    run_id: str | None = None
    # values-segments only: ids of segments this one absorbed via rewrite
    # (compact_values merge, GC live-row rewrite). ValuePtr strings embed
    # the segment id the value was WRITTEN to and survive rewrites (value_id
    # is the join key), so discard-stat drops arriving under an absorbed id
    # are remapped onto this surviving segment. Transitive: a rewrite of a
    # rewrite carries the whole set.
    aliases: list = field(default_factory=list)


@dataclass
class ManifestState:
    version: int = 0
    next_seq: int = 1
    segments: list = field(default_factory=list)  # list[SegmentInfo]
    # Streaming exactly-once bookkeeping: checkpoint-dir -> highest batch_id
    # whose segment append + manifest commit landed. foreachBatch is
    # at-least-once; replayed batches are skipped by consulting this map,
    # making the side effect idempotent per (checkpoint, batch_id).
    stream_commits: dict = field(default_factory=dict)
    # Cumulative bytes rewritten by compaction — the write-amplification
    # numerator (amplification = compacted_bytes / live user bytes).
    compacted_bytes: int = 0
    # Range tombstones (RocksDB/Badger DeleteRange analog): each entry
    # {"start": enc|None, "end": enc|None, "seq": int} hides every row with
    # key in [start, end) and seq <= its stamp. Keys are stored in the
    # manifest-comparable encoding (hex for binary stores — same as
    # min_key/max_key). Bounded: the next full compact() applies them
    # physically and clears the list.
    range_tombstones: list = field(default_factory=list)
    # Tracked consumer snapshots (the RocksDB snapshot-list / Badger
    # minReadTs analog): holder name -> held seq. Maintenance consults
    # min(held seqs) before clearing range tombstones: a tombstone some
    # held snapshot still needs (rt seq > min held seq — either for
    # as-of reads at that horizon or for changefeed expansion from it)
    # survives leveled compaction.
    held_snapshots: dict = field(default_factory=dict)
    # Merge-operand presence flag (RocksDB kTypeMerge analog): True once
    # any live segment MAY hold rows with BIT_MERGE set. Read and
    # maintenance paths pay the operand-aware plan only while this is
    # set, so stores that never merge keep bit-identical plans. Cleared
    # explicitly (False) by a full compaction that verifies its output
    # carries no operand rows.
    has_merge_operands: bool = False
    # Writer epoch (fencing token — the Raft-term / HBase-WAL-fencing
    # analog): a monotonically increasing generation number for the
    # replication role this store plays. ``KVStore.promote()`` bumps it
    # past the deposed primary's; replication consumers refuse feeds
    # stamped with an OLDER epoch (a deposed primary that kept writing —
    # split brain) and adopt newer ones (following a promoted leader).
    # Durable in the manifest so fencing survives handle restarts.
    writer_epoch: int = 0
    # Column-family catalog (RocksDB CF analog): name -> created_seq.
    # CF rows live in the SAME segment files under a reserved key prefix
    # (\x02<name>\x1f), so flush/compaction/replication are shared;
    # dropping a CF is ONE commit (catalog remove + a range tombstone
    # over its prefix — O(1) regardless of row count). Stores that never
    # create a CF keep bit-identical read plans: the default-namespace
    # filter is gated on this catalog (plus the sticky flag below) being
    # non-empty.
    column_families: dict = field(default_factory=dict)
    # STICKY companion to the catalog (ADVICE r10): True once any CF was
    # ever created, cleared only by a full compaction that VERIFIES no
    # reserved-prefix rows survive (the has_merge_operands pattern). The
    # default-namespace filter gates on ``catalog non-empty OR this flag``:
    # gating on the live catalog alone let an ``as_of`` read pinned before
    # the LAST drop_cf surface the dropped family's raw \x02 rows in the
    # default namespace (the drop's range tombstone has seq > as_of, so
    # _rt_mask rightly skips it — the namespace filter must still apply).
    column_families_ever: bool = False

    def data_segments(self) -> list:
        return [s for s in self.segments if s.kind == "data"]

    def value_segments(self) -> list:
        return [s for s in self.segments if s.kind == "values"]


class ManifestConflictError(RuntimeError):
    """Another writer committed since this handle loaded its state."""


class EpochFencedError(RuntimeError):
    """The commit's ``expected_max_epoch`` fence failed: the durable
    ``writer_epoch`` advanced past the feed's source epoch between the
    caller's check and this commit (a racing ``promote()``). The fence is
    verified INSIDE the commit's critical section, so fencing and data
    land atomically — a deposed primary's batch can never slip in after
    the epoch check (ADVICE r10)."""


class Manifest:
    """Single-writer, atomically-committed segment catalog."""

    def __init__(self, root: str):
        self.root = root
        self.dir = os.path.join(root, "_manifest")
        os.makedirs(self.dir, exist_ok=True)
        self.state = self._load()

    # -- persistence ---------------------------------------------------------
    def _current_path(self) -> str:
        return os.path.join(self.dir, "CURRENT")

    def _load(self) -> ManifestState:
        cur = self._current_path()
        if not os.path.exists(cur):
            return ManifestState()
        with open(cur) as f:
            version = int(f.read().strip())
        return self.load_version(version)

    def load_version(self, version: int) -> ManifestState:
        """Read a specific committed manifest version — every snapshot is
        retained on disk, so any historical segment set can be reopened
        (time travel). Segments referenced by old manifests survive until a
        retention sweep; compaction/GC only deregister, never delete files."""
        path = os.path.join(self.dir, f"manifest-{version}.json")
        if not os.path.exists(path):
            raise ValueError(f"manifest version {version} does not exist")
        with open(path) as f:
            raw = json.load(f)
        raw["segments"] = [SegmentInfo(**s) for s in raw["segments"]]
        # keys an older manifest lacks take the dataclass defaults
        return ManifestState(**raw)

    def versions(self) -> list:
        """All committed manifest versions on disk, ascending."""
        out = []
        for name in os.listdir(self.dir):
            if name.startswith("manifest-") and name.endswith(".json"):
                try:
                    out.append(int(name[len("manifest-"):-len(".json")]))
                except ValueError:
                    continue
        return sorted(out)

    def prune_versions(self, keep_last: int = 2) -> dict:
        """Retention sweep — the analog of the reference's periodic manifest
        rewrite (`kv/file/manifest.go`, deletions-threshold rewrite) plus
        physical file GC. Keeps the newest ``keep_last`` manifest versions
        (always including CURRENT), deletes older manifest snapshots, then
        removes every top-level entry under ``<root>/segments`` that no
        retained manifest references — superseded compaction inputs, GC'd
        value segments, and ingest staging files.

        Single-writer only: call from the handle that owns the store, never
        concurrently with a write. Time travel to pruned versions raises
        afterwards; that is the retention trade, made explicit."""
        import shutil

        # versions beyond CURRENT are claim-orphans from crashed commits:
        # never load (possibly partial JSON), always sweep
        vs = [v for v in self.versions() if v <= self.state.version]
        keep = set(vs[-max(keep_last, 1):])
        keep.add(self.state.version)
        referenced: set = set()
        seg_root = os.path.join(self.root, "segments")
        for v in keep:
            for s in self.load_version(v).segments:
                # normalize to the top-level entry under segments/
                rel = os.path.relpath(s.path, seg_root)
                referenced.add(rel.split(os.sep)[0])
        removed_versions = []
        for v in self.versions():  # includes claim-orphans past CURRENT
            if v not in keep:
                os.remove(os.path.join(self.dir, f"manifest-{v}.json"))
                removed_versions.append(v)
        removed_dirs, freed = [], 0
        if os.path.isdir(seg_root):
            for entry in os.listdir(seg_root):
                if entry in referenced:
                    continue
                full = os.path.join(seg_root, entry)
                for dirpath, _, files in os.walk(full):
                    freed += sum(
                        os.path.getsize(os.path.join(dirpath, f)) for f in files
                    )
                if os.path.isdir(full):
                    shutil.rmtree(full)
                else:
                    freed += os.path.getsize(full) if os.path.exists(full) else 0
                    os.remove(full)
                removed_dirs.append(entry)
        return {
            "removed_versions": removed_versions,
            "removed_segments": removed_dirs,
            "bytes_freed": freed,
            "kept_versions": sorted(keep),
        }

    def commit(self, expected_max_epoch: int | None = None, **changes) -> None:
        """Commit an EDIT of the current state — the analog of manifest
        AddChanges (`kv/file/manifest.go:295-324`): ``changes`` names only
        the ``ManifestState`` fields this commit sets; every other field
        carries forward from the state current under the commit lock. The
        new snapshot is written, then CURRENT is atomically swapped
        (os.replace is atomic on POSIX). Committed states are never
        mutated: pass fresh lists/dicts, never edit ``state``'s own.

        ``expected_max_epoch``: optional fencing assertion, verified under
        the commit lock AFTER the version check — if the authoritative
        state's ``writer_epoch`` exceeds it, the commit raises
        ``EpochFencedError`` and nothing lands. Replication consumers pass
        the feed's source epoch so the epoch check and the data commit are
        one atomic step (no check-then-act window for a racing promote).

        Enforces the single-writer discipline (`kv/db.go:224-285` has one
        doWrites goroutine) with an OS-level ``flock`` on ``_manifest/LOCK``
        held across the whole snapshot-write -> CURRENT-swap window:

        - A concurrent live writer holds the lock, so a second committer
          fails fast with ManifestConflictError instead of stealing the
          claim — even if the first writer stalls arbitrarily long (GC
          pause, slow fsync). No age heuristic: liveness is the lock.
        - A crashed writer's lock is released by the OS, so an existing
          ``manifest-{v}.json`` observed under the lock with CURRENT still
          at the base version is *definitively* a dead claimant's orphan
          and is reclaimed immediately (orphans never wedge the store).
        - If CURRENT moved since this handle loaded its state, committing
          would silently drop the other writer's segments — raise so the
          caller reloads."""
        lock_fd = os.open(
            os.path.join(self.dir, "LOCK"), os.O_CREAT | os.O_RDWR, 0o644
        )
        try:
            try:
                fcntl.flock(lock_fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except (BlockingIOError, OSError):
                raise ManifestConflictError(
                    "another writer is in flight (commit lock held); retry "
                    "after it finishes or open a fresh KVStore handle"
                ) from None
            self._commit_locked(expected_max_epoch, changes)
        finally:
            os.close(lock_fd)  # releases the flock

    def _commit_locked(self, expected_max_epoch: int | None, changes: dict) -> None:
        cur = self._current_path()
        if os.path.exists(cur):
            with open(cur) as f:
                disk_version = int(f.read().strip())
            if disk_version != self.state.version:
                raise ManifestConflictError(
                    f"manifest moved underneath this writer (disk v{disk_version}, "
                    f"base v{self.state.version}); open a fresh KVStore handle"
                )
        # With CURRENT verified at the base version under the lock,
        # self.state IS the durable state — the fence check here is atomic
        # with the data landing (see EpochFencedError).
        if expected_max_epoch is not None and self.state.writer_epoch > int(
            expected_max_epoch
        ):
            raise EpochFencedError(
                f"writer_epoch advanced to {self.state.writer_epoch} "
                f"past the feed's source epoch {int(expected_max_epoch)} while "
                "this batch was staging (a promote() raced it); the batch is "
                "refused — re-bootstrap the source as a replica"
            )
        new_state = replace(self.state, version=self.state.version + 1, **changes)
        snap = os.path.join(self.dir, f"manifest-{new_state.version}.json")
        # Under the lock with CURRENT verified at the base version, an
        # existing snapshot for this version can only be a dead claimant's
        # leftover (a live writer would hold the flock): reclaim it.
        try:
            os.unlink(snap)
        except FileNotFoundError:
            pass
        fd = os.open(snap, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        with os.fdopen(fd, "w") as f:
            json.dump(asdict(new_state), f)
            f.flush()
            os.fsync(f.fileno())
        cur_tmp = self._current_path() + ".tmp"
        with open(cur_tmp, "w") as f:
            f.write(str(new_state.version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(cur_tmp, self._current_path())
        self.state = new_state

    # -- helpers -------------------------------------------------------------
    def new_segment_path(self, kind: str) -> tuple[str, str]:
        seg_id = f"{kind}-{uuid.uuid4().hex[:12]}"
        return seg_id, os.path.join(self.root, "segments", seg_id)

    def prune_for_key(self, key: str, segments: list | None = None) -> list:
        """Data segments whose [min_key, max_key] interval may contain `key`
        — file-level pruning before Spark reads anything (SST interval
        search analog)."""
        out = []
        for s in segments if segments is not None else self.state.data_segments():
            if s.min_key is not None and key < s.min_key:
                continue
            if s.max_key is not None and key > s.max_key:
                continue
            out.append(s)
        return out

    def prune_for_range(
        self, start: str | None, end: str | None, segments: list | None = None
    ) -> list:
        out = []
        for s in segments if segments is not None else self.state.data_segments():
            if end is not None and s.min_key is not None and s.min_key >= end:
                continue
            if start is not None and s.max_key is not None and s.max_key < start:
                continue
            out.append(s)
        return out
