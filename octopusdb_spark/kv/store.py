"""KVStore — the reference's versioned KV engine, re-expressed Spark-first.

Reference semantics reproduced (citations into /root/reference):

- ``set``/``set_batch``   upsert with monotonically increasing versions
                          (`kv/db.go:71-87`, `kv/db.go:191-285`). A batch is one
                          Parquet append + one manifest commit (the analog of
                          WAL+memtable+flush; durability = write-then-commit).
- ``delete``              tombstone = NULL value (`kv/db.go:132-138`).
- TTL                     ``expires_at`` unix seconds; a row is dead when
                          ``expires_at != 0 and expires_at <= now``
                          (`kv/db.go:121-130`, `kv/utils/entry.go:77-80`).
- ``get``/``scan``        newest-live-version reads over the union of all
                          segments — the k-way MergeIterator + version dedup
                          (`kv/lsm/iterator.go:230-436`) becomes a
                          ``max_by`` agg on (version desc, seq desc) with a
                          map-side partial phase.
- value separation        payloads >= ``value_threshold`` (1024 B,
                          `kv/option.go:31`) live in a separate ``values``
                          table; the main row stores a pointer — WiscKey
                          KV-separation (`kv/vlog.go:366-453`). Reads re-join.
- ``compact``             merge segments, keep newest version, drop tombstones
                          and expired rows (only when compacting the full
                          keyspace — same rule as bottom-level compaction,
                          `kv/lsm/compact.go:336-370`), range-partition the
                          output (the parallel sub-compaction splits of
                          `kv/lsm/compact.go:449-479` are Spark's range
                          shuffle).
- ``gc_values``           stats-driven candidate pick (discard accounting
                          maintained by compaction, `kv/vlog.go:625-679`)
                          verified by exact anti-join liveness; dirty value
                          segments are rewritten live-rows-only
                          (`kv/vlog_gc.go:17-196`).

Beyond the reference's surface (see docs/PARITY.md "additions"): ``mget``
batched point reads, ``view/scan(at_version=)`` time travel over retained
manifests with ``prune_history`` retention, ``clone_to`` consistent
backup/branching, ``compact_range`` hot-range maintenance,
``maintenance_tick`` (compaction + GC cycle), binary (opaque bytes) key
mode, idempotent tagged ingest for exactly-once streaming,
``delete_range`` O(1) range tombstones, ``hold_snapshot`` tracked
snapshot holds with snapshot-aware maintenance everywhere (the Badger
minReadTs analog), a snapshot-safe compaction filter
(``compact(drop_where=...)``), and changefeed replication
(``changes_since``/``apply_changes``, batch and continuous).

Scale notes (100 TB design): every operation is a declarative DataFrame plan —
no driver-side row loops. Point reads prune segments via manifest min/max
before Spark lists a file, then rely on Parquet row-group stats + (enabled)
column bloom filters. The dedup window shuffles by key — at scale the segment
layout is range-partitioned by compaction, so AQE + range pruning keep the
shuffle local to the touched key range.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
from dataclasses import dataclass, fields, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from octopusdb_spark.kv.manifest import (
    EpochFencedError,
    Manifest,
    ManifestState,
    SegmentInfo,
)

BIT_DELETE = 1  # kv/utils/const.go:25-28
BIT_VALUE_POINTER = 2
# Merge operand (RocksDB kTypeMerge analog; the reference's bitfield
# kv/utils/const.go has no merge type — this is a beyond-reference
# extension): the row is a delta to fold onto the newest full value at
# read/maintenance time, per the store's configured merge operator.
BIT_MERGE = 4

# Store-level merge operators (the RocksDB MergeOperator registry analog).
# "add": operands are ASCII-decimal int64 deltas; fold = base + sum(ops)
#        (associative AND commutative — folds as a plain aggregate).
# "append": operands are byte strings; fold = base ,op1,op2,... joined by
#        ',' in (version, seq) order (the classic StringAppendOperator).
MERGE_OPS = ("add", "append")

# Column-family key encoding (RocksDB CF analog, beyond-reference — the
# reference is a single-keyspace KV, kv/db.go:19-26): a CF row's key is
# \x02<name>\x1f<user key>, default-namespace keys MUST NOT start with
# \x02 (the one reserved byte; validated on CF names, documented for raw
# keys). Names can't contain the \x1f separator, so prefixes are
# prefix-free across families and each CF is one contiguous key range —
# which is what makes drop_cf a single range tombstone and per-CF scans
# ordinary pruned range scans.
CF_RESERVED = "\x02"
CF_SEP = "\x1f"
CF_ALL = "*"  # view(cf=CF_ALL): no namespace filter (internal readers)
_CF_NAME_RE = re.compile(r"[A-Za-z0-9_.\-]{1,64}")

def data_schema(key_type: str = "string") -> T.StructType:
    """Main-table schema. Keys are opaque bytes in the reference
    (`kv/utils/key.go:32-37`, `kv/utils/entry.go:50-60`); ``key_type=
    "binary"`` preserves that contract, while "string" is the ergonomic
    default for text keys."""
    kt = {"string": T.StringType(), "binary": T.BinaryType()}[key_type]
    return T.StructType(
        [
            T.StructField("key", kt, False),
            T.StructField("value", T.BinaryType(), True),
            T.StructField("meta", T.IntegerType(), False),
            T.StructField("expires_at", T.LongType(), False),
            T.StructField("version", T.LongType(), False),
            T.StructField("seq", T.LongType(), False),
            T.StructField("value_ptr", T.StringType(), True),
        ]
    )


DATA_SCHEMA = data_schema("string")

VALUES_SCHEMA = T.StructType(
    [
        T.StructField("value_id", T.StringType(), False),
        T.StructField("big_value", T.BinaryType(), False),
    ]
)


def _prefix_upper_bound(prefix: str | bytes) -> str | bytes | None:
    """Smallest key > every key with this prefix, for segment pruning;
    ``bytes`` in, ``bytes`` out (binary-key mode).

    Increment-with-carry: a trailing top unit (U+10FFFF for strings —
    chr(0x110000) is invalid — 0xFF for bytes) can't be bumped, so drop
    it and bump the previous unit. An all-top prefix has no finite
    bound — return None (no pruning).
    """
    binary = isinstance(prefix, (bytes, bytearray))
    units = list(prefix) if binary else [ord(c) for c in prefix]
    top = 0xFF if binary else 0x10FFFF
    i = len(units) - 1
    while i >= 0 and units[i] == top:
        i -= 1
    if i < 0:
        return None
    return prefix[:i] + (bytes([units[i] + 1]) if binary else chr(units[i] + 1))


@dataclass
class Entry:
    """Client-facing record — the analog of kv/utils/entry.go:50-60.
    ``key`` is ``bytes`` when the store runs in binary-key mode."""

    key: str | bytes
    value: bytes | None = None
    expires_at: int = 0  # unix seconds; 0 = never
    version: int | None = None  # stamped by the store when None
    merge: bool = False  # True = merge operand (BIT_MERGE), not a full value

    def with_ttl(self, seconds: int, now: int | None = None) -> "Entry":
        now = int(time.time()) if now is None else now
        self.expires_at = now + seconds
        return self


class StoreLockedError(RuntimeError):
    """The store directory is locked by another LIVE process. The
    reference leaves its directory lock as a TODO (`kv/db.go:43`
    ``// todo 目录锁``); here it is real: opening a KVStore stamps a
    pid lock file, a second open from a different live process raises,
    and a dead owner's lock is taken over (stale-lock recovery)."""


# Same-process handles share a store's directory lock (the single-writer
# discipline is per-process; Manifest.commit's flock serializes racing
# commits within it). Refcounted so the lock file is removed only when the
# LAST handle to a root closes.
_DIR_LOCK_REFS: dict = {}
_DIR_LOCK_MU = threading.Lock()


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


class StaleWriterError(RuntimeError):
    """A replication feed arrived from a DEPOSED writer generation: the
    feed's ``source_epoch`` is below this store's durable ``writer_epoch``
    watermark (raised by ``promote()`` on failover or adopted from a newer
    leader's feed). Refusing it is what prevents split-brain divergence —
    the deposed primary's post-promotion writes must never land."""


@dataclass(frozen=True)
class Snapshot:
    """Durable snapshot handle from ``KVStore.snapshot()``: ``seq`` for
    ``as_of`` reads / ``changes_since``, ``manifest_version`` for
    time-travel resolution (``preimage_at_version`` / ``at_version``)."""

    seq: int
    manifest_version: int


class KVStore:
    """A versioned KV table persisted as Parquet segments + manifest."""

    MAX_LEVEL = 6  # L0..L6, MaxLevelNum=7 (kv/db.go:57)

    # Broadcast-hint ceiling for the values (vlog) relation and other
    # metadata-estimated join sides. The values table is the WiscKey
    # *large-payload* side — at scale it is the biggest table in the
    # system, so a forced broadcast is a guaranteed OOM. The manifest
    # already tracks exact per-segment byte totals, so the hint is gated
    # on real metadata: under the ceiling we keep the broadcast (point
    # reads stay single-stage); over it the join is left unhinted and
    # AQE/sort-merge handles it. Tests shrink this to force the big-side
    # plan on small data.
    BROADCAST_MAX_BYTES = 64 << 20
    # Leveled compaction splits its output by seq epoch (pre/post the base
    # segments' max_seq) when the base dominates the delta by this row
    # ratio: without the split, merging a small post-snapshot delta into a
    # large base yields one wide-seq-span segment that every later
    # changes_since rescans in full — the split keeps feeds O(delta)
    # across maintenance. Below the ratio the rescan is already cheap and
    # the extra output partitioning isn't worth the segment count.
    EPOCH_SPLIT_RATIO = 4.0

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        value_threshold: int = 1024,  # kv/option.go:31
        level0_trigger: int = 4,  # NumLevelZeroTables analog (kv/option.go)
        base_level_bytes: int = 1 << 20,  # baseLevelSize analog, scaled for tests
        level_multiplier: int = 10,  # levelSizeMultiplier (kv/option.go)
        key_type: str = "string",  # "binary" = reference's opaque []byte keys
        merge_op: str | None = None,  # RocksDB merge_operator analog
        # "leveled" = the reference's policy (size/target cascade); "tiered"
        # = size-tiered (STCS) for write-heavy stores — fewer rewrites per
        # key, more coexisting runs per read (the RUM trade). This is the
        # STORE DEFAULT; families may override it per-CF at create_cf
        # (RocksDB's per-CF compaction contract, r13). Families stay
        # reserved-prefix key ranges inside SHARED segments (kv/db.go's
        # namespace shape) — a per-CF policy does NOT mean per-CF segment
        # files: compact_cf routes the family's maintenance through its
        # contiguous range (range-restricted full compaction for leveled,
        # range-scoped STCS banding for tiered), so the shared-segment
        # layout's cost profile (one flush, one manifest) is preserved.
        compaction_style: str = "leveled",
    ):
        if key_type not in ("string", "binary"):
            raise ValueError(f"key_type must be 'string' or 'binary', got {key_type!r}")
        if merge_op is not None and merge_op not in MERGE_OPS:
            raise ValueError(f"merge_op must be one of {MERGE_OPS}, got {merge_op!r}")
        if compaction_style not in ("leveled", "tiered"):
            raise ValueError(
                f"compaction_style must be 'leveled' or 'tiered', got {compaction_style!r}"
            )
        self.compaction_style = compaction_style
        self.merge_op = merge_op
        self.spark = spark
        self.root = root
        self.value_threshold = value_threshold
        self.level0_trigger = level0_trigger
        self.base_level_bytes = base_level_bytes
        self.level_multiplier = level_multiplier
        self.key_type = key_type
        self._schema = data_schema(key_type)
        self.manifest = Manifest(root)
        self._acquire_dir_lock()
        # Serializes the pinned-cache check-and-rebuild (cache_view /
        # cached_view / uncache_view / _pinned_view): KVService handles
        # requests on multiple ThreadingTCPServer threads, and without
        # this two concurrent first reads (or reads racing a
        # version-invalidating write) interleave so each rebuild
        # displaces the last — correct via lineage recompute, but the
        # "one shared cached frame" pin contract degrades to repeated
        # uncached scans. RLock because cache_view calls uncache_view
        # and _pinned_view calls both (ADVICE r7).
        self._cache_lock = threading.RLock()

    # -------------------------------------------------------- directory lock
    def _dir_lock_path(self) -> str:
        return os.path.join(self.manifest.dir, "DBLOCK")

    def _acquire_dir_lock(self) -> None:
        """Single-live-writer directory lock (closes the reference's own
        TODO, `kv/db.go:43`): stamp a pid lock file at open; raise
        ``StoreLockedError`` if a DIFFERENT live process holds it; take
        over a dead owner's stale lock. Same-process handles share the
        lock refcounted (keyed by the REAL path, so path spellings can't
        split the count) — the repo's single-writer discipline is
        per-process, and Manifest.commit's flock already serializes any
        racing commit inside it.

        Cross-process atomicity: the stamp is created O_CREAT|O_EXCL, so
        two openers racing for a missing/stale lock can't both win — the
        EXCL loser re-reads the file, sees a LIVE foreign owner, and
        raises; a stale owner is unlinked and the acquisition retried."""
        path = self._dir_lock_path()
        my_pid = os.getpid()
        key = os.path.realpath(self.root)
        with _DIR_LOCK_MU:
            for _ in range(8):
                try:
                    fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
                    with os.fdopen(fd, "w") as f:
                        json.dump({"pid": my_pid, "opened_at": int(time.time())}, f)
                    break
                except FileExistsError:
                    owner = None
                    try:
                        with open(path) as f:
                            owner = int(json.loads(f.read()).get("pid"))
                    except (ValueError, TypeError, OSError, json.JSONDecodeError):
                        owner = None  # unparseable = stale; take over
                    if owner == my_pid:
                        break  # our own stamp (another same-process handle)
                    if owner is not None and _pid_alive(owner):
                        raise StoreLockedError(
                            f"store {self.root!r} is locked by live process "
                            f"{owner} (lock file {path}); close that handle "
                            "first — single-writer discipline is enforced at "
                            "open, not just at commit"
                        )
                    try:  # stale/dead owner: clear and retry the EXCL create
                        os.unlink(path)
                    except FileNotFoundError:
                        pass
            else:
                raise StoreLockedError(
                    f"could not acquire the directory lock for {self.root!r} "
                    "(persistent contention on the lock file)"
                )
            _DIR_LOCK_REFS[key] = _DIR_LOCK_REFS.get(key, 0) + 1
            self._holds_dir_lock = True

    def close(self) -> None:
        """Release this handle's share of the directory lock; the lock
        file is removed when the last same-process handle closes.
        Idempotent."""
        with _DIR_LOCK_MU:
            if not getattr(self, "_holds_dir_lock", False):
                return
            self._holds_dir_lock = False
            key = os.path.realpath(self.root)
            n = _DIR_LOCK_REFS.get(key, 0) - 1
            if n > 0:
                _DIR_LOCK_REFS[key] = n
                return
            _DIR_LOCK_REFS.pop(key, None)
            path = self._dir_lock_path()
            try:
                with open(path) as f:
                    if int(json.loads(f.read()).get("pid")) == os.getpid():
                        os.remove(path)
            except (ValueError, TypeError, OSError, json.JSONDecodeError):
                pass

    def _enc(self, key):
        """Manifest-comparable form of a key. Binary keys are hex-encoded:
        fixed-width-per-byte hex preserves unsigned lexicographic order, so
        min/max pruning works on the encoded strings unchanged."""
        if key is None:
            return None
        if isinstance(key, (bytes, bytearray)):
            return bytes(key).hex()
        return key

    def _dec(self, enc):
        """Inverse of ``_enc``: manifest-encoded key back to native type."""
        if enc is None:
            return None
        return bytes.fromhex(enc) if self.key_type == "binary" else enc

    # ------------------------------------------------------------------ write
    def set(self, entry: Entry) -> None:
        self.set_batch([entry])

    def delete(self, key: str) -> None:
        """Del = Set(key, nil) — kv/db.go:132-138."""
        self.set_batch([Entry(key=key, value=None)])

    def merge(self, key, operand: bytes) -> None:
        """Write-side merge (RocksDB ``Merge``): append a delta operand
        without reading the current value. The fold happens at read time
        (``view`` on a store opened with ``merge_op``) and physically at
        ``fold_merges``; until then the operand is an ordinary versioned
        row flagged BIT_MERGE. O(1) like any write — the whole point of
        the operator is avoiding the read-modify-write round trip."""
        self.merge_batch([(key, operand)])

    def merge_batch(self, items: list) -> None:
        """Batched merge operands: ``[(key, operand_bytes), ...]``."""
        self.set_batch([Entry(key=k, value=v, merge=True) for k, v in items])

    def delete_range(self, start=None, end=None, prefix=None) -> int:
        """Range tombstone — the RocksDB/Badger DeleteRange analog: hide
        every key in [start, end) (or under ``prefix``) whose version
        predates this call. ONE manifest commit, no scan, no per-key
        tombstones — O(1) metadata regardless of how many keys the range
        covers, which is the whole point at 100 TB (tombstoning a
        million-key prefix with per-key writes would itself be a job).

        Semantics: the mask lives in the manifest (bounded list) and is
        applied by every read path through ``view()`` — rows with
        seq <= the tombstone's stamp inside the range disappear; later
        writes into the range are unaffected. ``as_of`` snapshots taken
        BEFORE the range delete still see the rows (the mask respects the
        snapshot's seq horizon), and time travel reads each historical
        manifest's own list. The next full ``compact()`` applies the mask
        physically and clears it; ``changes_since`` surfaces covered keys
        as per-key delete events (expanded against the snapshot view), so
        replication converges. Returns the tombstone's seq stamp."""
        if prefix is not None:
            if start is not None or end is not None:
                raise ValueError("pass either prefix or start/end, not both")
            start, end = prefix, _prefix_upper_bound(prefix)
        if start is None and end is None:
            raise ValueError("delete_range needs a bound (start, end, or prefix)")
        # bound types must match the store's key type BEFORE the tombstone
        # is made durable: a str bound on a binary store would persist a
        # non-hex string that every later _dec (and thus every read AND
        # the compaction that clears the list) chokes on — a poison pill;
        # a bytes bound on a string store would silently mask the wrong
        # (hex-string) range. set/scan fail fast on such misuse; the one
        # API that commits to the manifest must too.
        want = (bytes, bytearray) if self.key_type == "binary" else str
        for name, bound in (("start", start), ("end", end)):
            if bound is not None and not isinstance(bound, want):
                raise TypeError(
                    f"delete_range {name} bound must be "
                    f"{'bytes' if self.key_type == 'binary' else 'str'} for a "
                    f"{self.key_type}-key store, got {type(bound).__name__}"
                )
        state = self.manifest.state
        seq = state.next_seq
        self.manifest.commit(
            next_seq=seq + 1,
            range_tombstones=[
                *state.range_tombstones,
                {"start": self._enc(start), "end": self._enc(end), "seq": seq},
            ],
        )
        return seq

    def _rt_key_range(self, rt: dict):
        """The [start, end) key condition of one range tombstone — THE
        definition of what a tombstone covers, shared by the read mask
        and the changefeed expansion so the two can never diverge."""
        c = F.lit(True)
        if rt.get("start") is not None:
            c = c & (F.col("key") >= F.lit(self._dec(rt["start"])))
        if rt.get("end") is not None:
            c = c & (F.col("key") < F.lit(self._dec(rt["end"])))
        return c

    def _rt_mask(self, rts: list, as_of: int | None):
        """Filter Column hiding rows the given range tombstones cover, or
        None when nothing applies. A tombstone hides rows with key in
        [start, end) and seq <= its stamp; under ``as_of``, tombstones
        stamped after the snapshot are ignored (the snapshot predates
        them). The list is bounded (cleared by full compact), so this is
        a literal predicate chain, not a join."""
        conds = []
        for rt in rts:
            if as_of is not None and int(rt["seq"]) > as_of:
                continue
            conds.append(
                (F.col("seq") <= F.lit(int(rt["seq"]))) & self._rt_key_range(rt)
            )
        if not conds:
            return None
        covered = conds[0]
        for c in conds[1:]:
            covered = covered | c
        return ~covered

    def _check_reserved_keys(self, keys) -> None:
        """Default-namespace writes must not alias into the CF key space:
        a raw key leading with the reserved \\x02 byte would be visible via
        (and deleted by dropping) an existing family, or vanish from
        default-namespace reads once any CF exists (ADVICE r10). Driver-side
        check — enforced where user-controlled keys enter the store."""
        lead = CF_RESERVED.encode("ascii") if self.key_type == "binary" else CF_RESERVED
        for k in keys:
            if k is not None and k[:1] == lead:
                raise ValueError(
                    f"key {k!r} starts with the reserved column-family prefix "
                    "byte \\x02 — write it through a ColumnFamily handle "
                    "instead (default-namespace keys must not lead with \\x02)"
                )

    def set_batch(
        self,
        entries: list,
        _allow_reserved: bool = False,
        value_threshold: int | None = None,
    ) -> None:
        """One micro-batch: values-table append first, then data append, then
        a single manifest commit covering both (vlog-then-LSM ordering of
        kv/db.go:288-324 with manifest atomicity).

        ``_allow_reserved`` (internal): ColumnFamily handles pass True —
        their keys are deliberately \\x02-prefix-encoded.

        ``value_threshold``: per-call separation override (None = the
        store default) — ColumnFamily handles pass their family's
        effective threshold (RocksDB per-CF blob options, r14)."""
        if not entries:
            return
        thr = self.value_threshold if value_threshold is None else int(value_threshold)
        if not _allow_reserved:
            self._check_reserved_keys(e.key for e in entries)
        state = self.manifest.state
        seq0 = state.next_seq
        # Pointer format mirrors the reference ValuePtr (Fid, Offset, Len):
        # "{values_segment}:{seq}:{len}" — carrying the segment id and size
        # lets compaction account discarded value bytes per segment without
        # touching the values table (A17 discard stats).
        vseg_id, vpath = (None, None)
        if any(
            e.value is not None and len(e.value) >= thr for e in entries
        ):
            vseg_id, vpath = self.manifest.new_segment_path("values")
        data_rows, value_rows = [], []
        any_merge = False
        for i, e in enumerate(entries):
            seq = seq0 + i
            version = e.version if e.version is not None else seq
            meta = 0
            value, value_ptr = e.value, None
            if getattr(e, "merge", False):
                # operands are small deltas by construction: inline always
                # (never value-separated), so fold paths and GC liveness
                # need no pointer resolution for them
                if e.value is None:
                    raise ValueError("merge operand requires a non-null value")
                if len(e.value) >= thr:
                    raise ValueError(
                        "merge operand exceeds value_threshold "
                        f"({len(e.value)} >= {thr}); operands "
                        "must stay inline — write a full value instead"
                    )
                meta |= BIT_MERGE
                any_merge = True
            elif e.value is None:
                meta |= BIT_DELETE
            elif len(e.value) >= thr:
                meta |= BIT_VALUE_POINTER
                value_ptr = f"{vseg_id}:{seq}:{len(e.value)}"
                value_rows.append((value_ptr, e.value))
                value = None
            data_rows.append((e.key, value, meta, int(e.expires_at), int(version), seq, value_ptr))

        new_segs = []
        if value_rows:
            # same one-slice discipline as the data write below: a driver-
            # held batch writes one file without fanning 32 Python partitions
            vdf = self.spark.createDataFrame(
                self.spark.sparkContext.parallelize(value_rows, 1), VALUES_SCHEMA
            )
            vdf.write.mode("overwrite").parquet(vpath)
            total_bytes = sum(len(v) for _, v in value_rows)
            new_segs.append(
                SegmentInfo(
                    segment_id=vseg_id,
                    kind="values",
                    level=0,
                    path=vpath,
                    min_key=None,
                    max_key=None,
                    row_count=len(value_rows),
                    size_bytes=total_bytes,
                    created_seq=seq0,
                    total_value_bytes=total_bytes,
                )
            )
        dseg_id, dpath = self.manifest.new_segment_path("data")
        # sorted run, like an SST flush (A10). ONE slice, one sorted file —
        # the batch is a driver-held list (bounded by the point-write
        # contract), so a single sorted file IS the right segment layout at
        # any scale, and it skips the range-sampling job + shuffle a global
        # sort pays (r16 optimization, guide §2.4: 3 Spark jobs -> 1 per
        # set/delete/merge batch, measured 0.65s -> 0.40s warm). NOTE:
        # parallelize(.., 1), not coalesce(1) — coalescing a default-
        # parallelism Python collection makes ONE task evaluate 32 Python
        # partitions sequentially (measured 5s for 4 rows).
        ddf = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(data_rows, 1), self._schema
        )
        (
            ddf.sortWithinPartitions("key", "version")
            .write.mode("overwrite")
            .option("parquet.bloom.filter.enabled#key", "true")
            .parquet(dpath)
        )
        keys = [r[0] for r in data_rows]
        new_segs.append(
            SegmentInfo(
                segment_id=dseg_id,
                kind="data",
                level=0,
                path=dpath,
                min_key=self._enc(min(keys)),
                max_key=self._enc(max(keys)),
                row_count=len(data_rows),
                size_bytes=sum(len(r[1] or b"") for r in data_rows),
                created_seq=seq0,  # exact: this batch's seqs start at seq0
                max_seq=seq0 + len(entries) - 1,
                exact_min_seq=True,
            )
        )
        self.manifest.commit(
            next_seq=seq0 + len(entries),
            segments=[*state.segments, *new_segs],
            # a batch carrying operands raises the flag durably (cleared
            # only by a verifying compact)
            **({"has_merge_operands": True} if any_merge else {}),
        )

    def ingest_df(
        self,
        df: DataFrame,
        key_col: str = "key",
        value_col: str = "value",
        expires_col: str | None = None,
        target_segments: int = 8,
        commit_tag: tuple[str, int] | None = None,
        merge_col: str | None = None,
        _allow_reserved: bool = False,
        expected_max_epoch: int | None = None,
        value_threshold: int | None = None,
    ) -> int:
        """Distributed bulk load — the 100 TB write path. ``set_batch``
        funnels rows through the driver (fine for the reference's 3×1000
        batching, `kv/db.go:224-285`); this ingests any DataFrame without
        the data ever touching the driver:

        - seq stamping, value-separation routing, and tombstone bits are
          computed executor-side and **materialized once** via an eager
          localCheckpoint (monotonically_increasing_id is nondeterministic
          across re-evaluation, so the values and data writes must carve
          from one frozen copy, not recompute the lineage);
        - big payloads land in the values table, the main rows keep a
          pointer (write ORDER between the two tables is irrelevant here —
          unlike the reference's vlog-then-LSM crash contract,
          `kv/db.go:288-324`, visibility comes solely from the atomic
          manifest commit: files written before a crash are unreferenced
          orphans either way);
        - data lands as range-partitioned, key-sorted, bloom-filtered L0
          segments; one manifest commit covers both tables.

        Returns the number of rows ingested. Intra-batch duplicate keys are
        resolved by seq order (later partition wins), matching batchSet's
        sequential stamping.

        ``commit_tag=(stream_id, batch_id)`` makes the ingest idempotent:
        if the manifest already records batch_id (or later) as committed for
        stream_id, the call is a no-op — the replay-safety contract for
        foreachBatch's at-least-once side effects.

        ``merge_col`` names a boolean column marking MERGE-OPERAND rows
        (``set_batch``'s ``Entry(merge=True)``, distributed): flagged rows
        land BIT_MERGE with the same inline-only guard (non-null, under
        ``value_threshold`` — violated rows fail the job via raise_error,
        never silently truncate), and ingesting any raises the manifest's
        ``has_merge_operands`` flag durably. Rows keep their stamped seq
        order, so a caller needing per-key operand ORDER (``apply_changes``
        replaying a feed) sorts the frame first — a globally sorted input
        yields globally ordered seqs because monotonically_increasing_id
        is ordered by (partition index, row position) and a range-
        partitioned sort orders the partitions.

        ``_allow_reserved`` (internal): default-namespace loads reject keys
        leading with the reserved \\x02 CF prefix via an in-plan guard (a
        violating row fails the job — see ``_check_reserved_keys``);
        ColumnFamily.ingest_df / apply_changes / fold_merges pass True
        because their keys are legitimately CF-encoded.

        ``expected_max_epoch``: forwarded to the manifest commit — the
        commit itself verifies the durable ``writer_epoch`` has not
        advanced past it (atomic fencing; see Manifest.commit).
        """
        thr = self.value_threshold if value_threshold is None else int(value_threshold)
        state = self.manifest.state
        if commit_tag is not None:
            stream_id, batch_id = commit_tag
            done = state.stream_commits.get(stream_id)
            if done is not None and int(batch_id) <= int(done):
                return 0  # replayed micro-batch; already committed
        seq0 = state.next_seq
        expires = (
            F.coalesce(F.col(expires_col).cast("long"), F.lit(0))
            if expires_col
            else F.lit(0).cast("long")
        )
        # The operand flag is staged as '_merge' in the first select and
        # read BACK as that alias in every later expression — the source
        # merge_col column does not survive the first projection, so
        # referencing F.col(merge_col) downstream is unresolvable at plan
        # time (ADVICE r9 finding 1). Without merge_col the flag is a
        # constant False and no '_merge' column is staged at all, keeping
        # non-merge ingest plans bit-identical.
        pre_merge = (
            F.coalesce(F.col(merge_col).cast("boolean"), F.lit(False))
            if merge_col
            else None
        )
        is_merge = F.col("_merge") if merge_col else F.lit(False)
        is_big = (
            ~is_merge
            & F.col("value").isNotNull()
            & (F.length("value") >= F.lit(thr))
        )
        meta = (
            F.when(F.col("value").isNull(), F.lit(BIT_DELETE))
            .when(is_big, F.lit(BIT_VALUE_POINTER))
            .otherwise(F.lit(0))
        )
        if merge_col:
            # same contract set_batch enforces per-entry: operands are
            # non-null and inline (the fold paths never resolve pointers
            # for them) — a violating row fails the whole job
            bad = is_merge & (
                F.col("value").isNull()
                | (F.length("value") >= F.lit(thr))
            )
            meta = (
                F.when(
                    bad,
                    F.raise_error(
                        F.lit(
                            "merge operand must be non-null and inline "
                            f"(< value_threshold {thr})"
                        )
                    ).cast("int"),
                )
                .when(is_merge, F.lit(BIT_MERGE))
                .otherwise(meta)
            )
        # values segment id fixed up front so pointers can carry it
        # (ValuePtr format "{values_segment}:{seq}:{len}" — see set_batch)
        vseg_id, vpath = self.manifest.new_segment_path("values")
        # operands never carry TTL — the fold paths and the changefeed both
        # hard-code expires_at=0 for them, so the invariant is enforced by
        # construction here rather than trusted to callers (ADVICE r9)
        expires_out = (
            F.when(is_merge, F.lit(0)).otherwise(F.col("expires_at")).cast("long")
            if merge_col
            else F.col("expires_at")
        )
        cast_key = F.col(key_col).cast(self.key_type)
        if not _allow_reserved:
            # in-plan reserved-prefix guard (driver can't see distributed
            # keys): a default-namespace key leading with \x02 would alias
            # into the CF key space — fail the job, never silently land
            lead = (
                F.lit(CF_RESERVED.encode("ascii"))
                if self.key_type == "binary"
                else F.lit(CF_RESERVED)
            )
            cast_key = F.when(
                F.substring(cast_key, 1, 1) == lead,
                F.raise_error(
                    F.lit(
                        "default-namespace key leads with the reserved \\x02 "
                        "column-family prefix — load it through a "
                        "ColumnFamily handle instead"
                    )
                ).cast(self.key_type),
            ).otherwise(cast_key)
        staged_rows = (
            df.select(
                cast_key.alias("key"),
                F.col(value_col).cast("binary").alias("value"),
                expires.alias("expires_at"),
                *([pre_merge.alias("_merge")] if merge_col else []),
            )
            .withColumn("seq", F.lit(seq0) + F.monotonically_increasing_id())
            .select(
                "key",
                "value",
                meta.alias("meta"),
                expires_out.alias("expires_at"),
                F.col("seq").alias("version"),
                "seq",
                F.when(
                    is_big,
                    F.concat_ws(":", F.lit(vseg_id), F.col("seq"), F.length("value")),
                ).alias("value_ptr"),
            )
        )
        # ONE materialization: localCheckpoint freezes the nondeterministic
        # seq assignment (monotonically_increasing_id) in executor block
        # storage, so the ranged data write and the values write read the
        # same frozen rows — no staging-parquet round trip (the old shape
        # wrote the full batch to disk, read it back, and rewrote it: two
        # full materializations per batch). The blocks are non-replicated:
        # losing an executor FAILS the job rather than silently re-stamping
        # seqs on recompute (the property that matters), and the batch
        # replays idempotently via commit_tag. For bulk loads where
        # executor churn is expected, a reliable checkpoint dir trades one
        # extra write for restartability.
        # LAZY checkpoint + count(): the count job materializes every
        # partition of the checkpoint (so the frozen-seq property is
        # identical to the old eager checkpoint) AND doubles as the
        # empty-batch probe — one job where eager-checkpoint + isEmpty was
        # two (r16 optimization, guide §1.2: fewer passes; measured).
        staged = staged_rows.localCheckpoint(eager=False)
        try:
            # Empty micro-batches are common under streaming ingest: bail
            # before allocating the ranged write (staging dir + _SUCCESS +
            # stats job). Deliberately NO commit and NO batch-tag burn
            # (pinned by test_empty_tagged_ingest_is_noop): an empty batch
            # must leave the manifest untouched so a later replay of the
            # same id that does carry rows still lands.
            if staged.count() == 0:
                return 0

            data = staged.withColumn(
                "value", F.when(F.col("value_ptr").isNotNull(), F.lit(None)).otherwise(F.col("value"))
            ).select("key", "value", "meta", "expires_at", "version", "seq", "value_ptr")
            # batch totals fold into the ranged write's own stats (pointer
            # byte lengths parsed from the ptr string — the values column is
            # already nulled here): no separate totals scan. Row-level
            # expressions, SUM-aggregated per bucket by the write.
            ptr_len = F.split(F.col("value_ptr"), ":").getItem(2).cast("long")
            extra = {
                "vcnt": F.col("value_ptr").isNotNull().cast("long"),
                "vbytes": ptr_len,
            }
            if merge_col:
                # operand rows must raise the manifest flag durably (as
                # set_batch does) — folded into the ranged write's own
                # stats, no extra scan (ADVICE r9 finding 2)
                extra["mcnt"] = self._is_operand().cast("long")
            new_data_segs, bucket_stats = self._write_ranged_segments(
                data,
                level=0,
                target_segments=target_segments,
                extra_stats=extra,
            )
            total_cnt = sum(r["cnt"] for r in bucket_stats)
            if not total_cnt:
                return 0
            vcnt = sum(r["vcnt"] for r in bucket_stats)
            vbytes = sum(int(r["vbytes"] or 0) for r in bucket_stats)
            any_merge = bool(merge_col) and any(
                int(r["mcnt"] or 0) > 0 for r in bucket_stats
            )
            changes = {}
            if commit_tag is not None:
                changes["stream_commits"] = {
                    **state.stream_commits, commit_tag[0]: int(commit_tag[1])
                }
            if any_merge:
                # any ingested operand raises the flag durably (cleared
                # only by a verifying compact)
                changes["has_merge_operands"] = True
            new_vsegs = []
            if vcnt:
                big = staged.filter(F.col("value_ptr").isNotNull()).select(
                    F.col("value_ptr").alias("value_id"), F.col("value").alias("big_value")
                )
                big.write.mode("overwrite").parquet(vpath)
                new_vsegs.append(
                    SegmentInfo(
                        segment_id=vseg_id,
                        kind="values",
                        level=0,
                        path=vpath,
                        min_key=None,
                        max_key=None,
                        row_count=int(vcnt),
                        size_bytes=vbytes,
                        created_seq=seq0,
                        total_value_bytes=vbytes,
                    )
                )

            self.manifest.commit(
                expected_max_epoch=expected_max_epoch,
                next_seq=int(max(r["_mxseq"] for r in bucket_stats)) + 1,
                segments=[*state.segments, *new_vsegs, *new_data_segs],
                **changes,
            )
            return int(total_cnt)
        finally:
            # Both table writes have landed (or failed) by now, so the frozen
            # batch blocks can leave executor storage — without this every
            # streaming micro-batch stays pinned until driver-side GC.
            staged.unpersist()

    # ------------------------------------------------------------------- read
    @staticmethod
    def _visible_at(segs: list, seq: int) -> list:
        """The segments an as-of-``seq`` read can see: a segment created
        wholly after the snapshot holds nothing visible, so the read scans
        O(pre-snapshot segments), not the store. Only segments whose
        manifest entry MARKS the created_seq stamp as the exact per-row
        min(seq) (``exact_min_seq``, stamped by every current writer) are
        pruned. Unmarked segments — legacy upper-bound stamps AND pre-flag
        compaction outputs that laundered such a stamp under an exact
        max_seq; historical manifests are where they live on — are
        conservatively kept: the caller's row-level seq filter keeps
        correctness, only the pruning degrades."""
        return [s for s in segs if not s.exact_min_seq or s.created_seq <= seq]

    @staticmethod
    def _union_segments(groups) -> list:
        """The union of several pruned segment lists, each segment once, in
        first-seen order."""
        seg_ids, out = set(), []
        for group in groups:
            for s in group:
                if s.segment_id not in seg_ids:
                    seg_ids.add(s.segment_id)
                    out.append(s)
        return out

    def _read_segments(self, segs: list, schema: T.StructType) -> DataFrame:
        paths = [s.path for s in segs]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)

    def raw_df(self, segs: list | None = None) -> DataFrame:
        segs = self.manifest.state.data_segments() if segs is None else segs
        return self._read_segments(segs, self._schema)

    def latest_df(self, segs: list | None = None) -> DataFrame:
        """Newest version per key (tombstones still visible) — MergeIterator
        + version dedup (`kv/lsm/iterator.go:314-319,356-366`)."""
        return self._newest_of(self.raw_df(segs))

    def _retained_df(
        self, segs: list | None = None, with_protected: bool = False
    ) -> DataFrame:
        """Rows some CURRENT read horizon can still see: the newest version
        per key plus, for every held snapshot seq h (``hold_snapshot``),
        the version an ``as_of=h`` read resolves — MVCC boundary-version
        retention, the Badger minReadTs / RocksDB snapshot-aware
        compaction rule (versioned keys, `kv/utils/key.go:32-37`).
        Maintenance that rewrites data must preserve exactly this set.

        With no holds this IS ``latest_df`` (max_by partial agg, shuffle
        O(live keys)). With holds, one window pass ranks versions per key:
        a row is a boundary for hold h iff its seq <= h and every
        (version, seq)-newer row has seq > h — i.e. h falls in
        [row.seq, min seq of newer rows).

        ``with_protected=True`` adds a boolean ``_protected`` column:
        whether the row is VISIBLE to some held snapshot (it is the
        candidate an ``as_of=h`` read resolves for some hold h). A
        compaction filter must not touch protected rows — the RocksDB
        rule that the filter is never invoked on snapshot-visible keys.

        MERGE OPERANDS (``has_merge_operands``, RocksDB kTypeMerge): the
        newest-per-key collapse applies to FULL rows only — folding or
        dropping operands here would change merged reads. Retention rule:
        with no holds, operands strictly above their key's retained
        newest full row survive (anything at or below it is shadowed by a
        later full write); under holds ALL operands survive (the
        conservative RocksDB rule — compaction never folds across a
        snapshot boundary; ``fold_merges`` + release shrink the set).
        Kept operands carry ``_protected = True``: a compaction filter is
        never invoked on merge operands (RocksDB exposes that as a
        separate FilterMergeOperand API, which v1 does not implement).
        Stores whose manifest flag is unset take none of these branches —
        their plans are bit-identical to the pre-merge engine."""
        raw = self.raw_df(segs)
        merge_aware = self.manifest.state.has_merge_operands
        if merge_aware:
            is_m = self._is_operand()
            m_rows, nm = raw.filter(is_m), raw.filter(~is_m)
        else:
            m_rows, nm = None, raw
        held = sorted({int(v) for v in self.manifest.state.held_snapshots.values()})
        if not held:
            out = self._newest_of(nm)
            kept_m = None
            if merge_aware:
                kept_m = self._operands_above(m_rows, out)
            if with_protected:
                out = out.withColumn("_protected", F.lit(False))
                if kept_m is not None:
                    kept_m = kept_m.withColumn("_protected", F.lit(True))
            return out if kept_m is None else out.unionByName(kept_m)
        from pyspark.sql import Window

        w_desc = Window.partitionBy("key").orderBy(F.desc("version"), F.desc("seq"))
        min_prev = F.min("seq").over(
            w_desc.rowsBetween(Window.unboundedPreceding, -1)
        )
        harr = F.array(*[F.lit(int(h)).cast("long") for h in held])
        base = nm.withColumn("_mp", min_prev)
        is_boundary = F.exists(
            harr,
            lambda h: (F.col("seq") <= h)
            & (F.col("_mp").isNull() | (F.col("_mp") > h)),
        )
        out = base.filter(F.col("_mp").isNull() | is_boundary)
        if with_protected:
            out = out.withColumn("_protected", is_boundary)
        out = out.drop("_mp")
        if merge_aware:
            kept_m = m_rows
            if with_protected:
                kept_m = kept_m.withColumn("_protected", F.lit(True))
            out = out.unionByName(kept_m)
        return out

    @staticmethod
    def _is_operand():
        """THE merge-operand predicate: the row carries BIT_MERGE."""
        return F.col("meta").bitwiseAND(F.lit(BIT_MERGE)) != 0

    @staticmethod
    def _operands_above(ops: DataFrame, newest: DataFrame) -> DataFrame:
        """The operands in ``ops`` strictly above their key's row in
        ``newest`` by (version, seq) — the fold boundary: anything at or
        below the newest full row is shadowed by it. Keys absent from
        ``newest`` keep all their operands."""
        base = newest.select(
            "key", F.col("version").alias("_bv"), F.col("seq").alias("_bs")
        )
        above = (F.col("version") > F.col("_bv")) | (
            (F.col("version") == F.col("_bv")) & (F.col("seq") > F.col("_bs"))
        )
        return (
            ops.join(base, "key", "left")
            .filter(F.col("_bv").isNull() | above)
            .drop("_bv", "_bs")
        )

    @staticmethod
    def _expired(now: int):
        """THE TTL rule (`kv/utils/entry.go:77-80`): a row with an expiry
        stamp at or before ``now`` is dead."""
        return (F.col("expires_at") != 0) & (F.col("expires_at") <= F.lit(now))

    @staticmethod
    def _dead(now: int):
        """THE dead-row predicate over stored rows: a tombstone (neither an
        inline value nor a pointer) or expired at ``now``. The live view
        keeps its negation; compaction drops what it matches."""
        return (
            F.col("value").isNull() & F.col("value_ptr").isNull()
        ) | KVStore._expired(now)

    def _resolve_values(self, df: DataFrame, vsegs: list) -> DataFrame:
        """WiscKey read (`kv/vlog.go:366-453`): left-join ``df``'s value
        pointers to the values table and coalesce the payload into
        ``value``. Rows whose payload was GC'd keep a NULL value. The
        values side is broadcast-hinted only when the manifest's exact
        byte totals say it fits (``BROADCAST_MAX_BYTES``); otherwise
        unhinted so the planner/AQE picks sort-merge or a runtime
        broadcast. Never force-broadcast the payload table."""
        vals = self._read_segments(vsegs, VALUES_SCHEMA)
        if sum(s.size_bytes for s in vsegs) <= self.BROADCAST_MAX_BYTES:
            vals = F.broadcast(vals)
        return df.join(vals, df["value_ptr"] == vals["value_id"], "left").withColumn(
            "value", F.coalesce(F.col("value"), F.col("big_value"))
        )

    def _drop_dead_rows(self, df: DataFrame, dead, held: bool) -> DataFrame:
        """Drop dead rows (tombstones / expired / caller-scoped) from a
        retained set. Without holds the retained set has one row per key,
        so a dead row shadows nothing — plain filter. With holds, drop
        only dead BOTTOM suffixes per key ((version, seq) ascending): a
        dead row above a surviving older row must stay, or the older
        version resurrects at horizons the dead row was shadowing."""
        if not held:
            return df.filter(~dead)
        from pyspark.sql import Window

        w_asc = Window.partitionBy("key").orderBy("version", "seq")
        any_alive_below = F.max(F.when(~dead, 1).otherwise(0)).over(
            w_asc.rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            df.withColumn("_al", any_alive_below)
            .filter(F.col("_al") == 1)
            .drop("_al")
        )

    @staticmethod
    def _newest_of(df: DataFrame) -> DataFrame:
        """max_by agg, not a row_number window: the partial-aggregation phase
        collapses each key to one candidate per input partition before the
        shuffle, so shuffle volume is O(live keys), not O(total versions)."""
        return (
            df.groupBy("key")
            .agg(
                F.max_by(
                    F.struct("value", "meta", "expires_at", "version", "seq", "value_ptr"),
                    F.struct("version", "seq"),
                ).alias("e")
            )
            .select(
                "key", "e.value", "e.meta", "e.expires_at", "e.version", "e.seq", "e.value_ptr"
            )
        )

    def view(
        self,
        now: int | None = None,
        segs: list | None = None,
        as_of: int | None = None,
        at_version: int | None = None,
        cf: str | None = None,
        _fold_marker: bool = False,
    ) -> DataFrame:
        """The live view: newest version, tombstones hidden, TTL applied,
        big values re-joined (`kv/db.go:89-130` read path as one plan).

        ``_fold_marker`` (internal, r17): append a boolean ``_folded``
        column — True iff the row's value folded at least one operand.
        Only meaningful on the merge-operator path (``fold_merges`` is the
        sole caller); plans without it are bit-identical (default off).

        ``as_of`` reads the snapshot as of write sequence ``as_of`` (the
        reference's versioned keys, `kv/utils/key.go:32-37`, read at a fixed
        ts): entries with seq > as_of are invisible. Snapshot depth is
        bounded by maintenance — compaction drops superseded versions, and
        ``gc_values`` drops superseded big-value payloads, exactly like an
        LSM without snapshot pinning. A separated value whose payload was
        GC'd after the snapshot resolves to a dangling pointer; such rows
        are filtered out (the snapshot horizon has moved past them), never
        surfaced as NULL values.

        ``at_version`` reads through a HISTORICAL manifest snapshot (time
        travel): every committed manifest is retained on disk and
        maintenance only deregisters segments — their files survive — so
        any prior table state reopens exactly, including its own values
        segments.

        ``cf`` scopes the NAMESPACE (column families, see ``create_cf``):
        ``None`` = the default namespace — CF rows (reserved ``\\x02``
        key prefix) are excluded, with the predicate gated on the catalog
        being non-empty so CF-free stores keep bit-identical plans;
        a CF name = only that family's rows (keys stay ENCODED — the
        ``ColumnFamily`` handle strips them); ``CF_ALL`` = every row
        (internal: changefeed expansion, pre-images, fold_merges,
        maintenance must see all namespaces)."""
        now = int(time.time()) if now is None else now
        src_state = (
            self.manifest.load_version(at_version)
            if at_version is not None
            else self.manifest.state
        )
        if segs is None:
            segs = src_state.data_segments()
        if as_of is not None:
            segs = self._visible_at(segs, as_of)
        base = self.raw_df(segs)
        if as_of is not None:
            base = base.filter(F.col("seq") <= as_of)
        ns = self._ns_predicate(cf, src_state)
        if ns is not None:
            # applied BEFORE newest-wins/fold: namespaces are disjoint key
            # ranges, so pre-aggregation filtering is both correct and the
            # cheap place (rows drop before the shuffle)
            base = base.filter(ns)
        rt_list = src_state.range_tombstones
        vsegs = src_state.value_segments()
        if src_state.has_merge_operands:
            is_m = self._is_operand()
            op = self._resolve_merge_op(cf, src_state)
            if op is not None:
                # operator configured (the FAMILY's effective operator for
                # cf-scoped reads — RocksDB merge operators are per-CF):
                # every read folds (RocksDB Get with a merge_operator) —
                # get/mget/scan/pin all ride this
                return self._merged_fold(
                    base.filter(~is_m), base.filter(is_m), rt_list, vsegs,
                    now, as_of, op, with_marker=_fold_marker,
                )
            # no operator configured: operands are INVISIBLE — reads
            # resolve to the newest FULL value. (RocksDB returns an error
            # here; a DataFrame can't fail per-key, so the documented
            # contract is: open the store with merge_op to see merged
            # data.) Stores without the manifest flag skip this filter —
            # bit-identical plans.
            base = base.filter(~is_m)
        if _fold_marker:
            raise ValueError(
                "_fold_marker requires the merge-operator fold path "
                "(operator configured and has_merge_operands set)"
            )
        live = self._newest_of(base).filter(~self._dead(now))
        # range tombstones: the historical manifest's own list under time
        # travel, the live list otherwise (see delete_range)
        rt_mask = self._rt_mask(rt_list, as_of)
        if rt_mask is not None:
            live = live.filter(rt_mask)
        return (
            self._resolve_values(live, vsegs)
            .filter(F.col("value").isNotNull())  # GC'd dangling pointers
            .select("key", "value", "expires_at", "version", "seq")
        )

    def _resolve_merge_op(self, cf: str | None, src_state) -> str | None:
        """The merge operator EFFECTIVE for this read scope (RocksDB binds
        operators per CF): default namespace -> the store op; a family ->
        its recorded op or the store default (read from ``src_state``'s
        catalog so time travel folds with the operators of THAT manifest);
        ``CF_ALL`` (internal cross-namespace readers: changefeed tombstone
        expansion, fold_merges) -> the store op, but RAISES when any
        family's effective op differs — one fold plan cannot be right for
        two operators, and a loud error beats a silently mis-folded
        pre-image. Heterogeneous-op stores read/fold per family."""
        families = src_state.column_families
        if cf is None or not families:
            return self.merge_op
        if cf == CF_ALL:
            mixed = {
                n: (self._cf_meta(v)["merge_op"] or self.merge_op)
                for n, v in families.items()
            }
            bad = {n: o for n, o in mixed.items() if o != self.merge_op}
            if bad:
                raise ValueError(
                    "cross-namespace read would fold merge operands with "
                    f"heterogeneous operators (store={self.merge_op!r}, "
                    f"families={bad}); scope the read per family "
                    "(view(cf=...)) or align the operators"
                )
            return self.merge_op
        if str(cf) not in families:
            raise ValueError(f"unknown column family {cf!r}")
        return self._cf_meta(families[str(cf)])["merge_op"] or self.merge_op

    def _merged_fold(
        self, nm: DataFrame, m_rows: DataFrame, rt_list, vsegs, now: int,
        as_of, op: str, with_marker: bool = False,
    ) -> DataFrame:
        """The merge-operator read fold (RocksDB FullMergeV2 at read time):
        per key, the newest FULL row is the base; operands strictly above
        it fold onto it per ``op`` (the read scope's effective operator —
        per-CF since r14). A dead base (tombstone,
        expired, range-deleted, GC-dangling) contributes the operator's
        identity — but still SHADOWS operands at or below its (version,
        seq). Output schema matches ``view()``.

        Plan shape: one max_by agg (base), one key join + one keyed agg
        over OPERAND rows only (bounded by un-folded operand count, not by
        store size), one outer join — all key-partitioned; no windows, no
        driver loops. ``fold_merges`` bounds the operand set over time."""
        newest = self._resolve_values(self._newest_of(nm), vsegs).select(
            "key", "value", "expires_at", "version", "seq"
        )
        rt_mask = self._rt_mask(rt_list, as_of)
        alive = F.col("value").isNotNull() & ~self._expired(now)
        if rt_mask is not None:
            alive = alive & rt_mask
        base = newest.select(
            "key",
            F.when(alive, F.col("value")).alias("_bval"),
            F.when(alive, F.col("expires_at")).otherwise(F.lit(0)).alias("_bexp"),
            F.col("version").alias("_bv"),
            F.col("seq").alias("_bs"),
        )
        ops = m_rows
        if rt_mask is not None:
            ops = ops.filter(rt_mask)
        ops = self._operands_above(ops, newest)
        if op == "add":
            folded = ops.groupBy("key").agg(
                F.sum(F.col("value").cast("string").cast("long")).alias("_osum"),
                F.max(F.struct("version", "seq")).alias("_omax"),
            )
            merged_value = (
                F.coalesce(F.col("_bval").cast("string").cast("long"), F.lit(0))
                + F.col("_osum")
            ).cast("string").cast("binary")
        else:  # append: ',' -joined in (version, seq) order, base first
            folded = ops.groupBy("key").agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "version",
                                    "seq",
                                    F.col("value").cast("string").alias("s"),
                                )
                            )
                        ),
                        lambda x: x["s"],
                    ),
                    ",",
                ).alias("_ojoin"),
                F.max(F.struct("version", "seq")).alias("_omax"),
            )
            merged_value = F.concat_ws(
                ",", F.col("_bval").cast("string"), F.col("_ojoin")
            ).cast("binary")
        has_ops = (
            F.col("_osum").isNotNull()
            if op == "add"
            else F.col("_ojoin").isNotNull()
        )
        return (
            base.join(folded, "key", "full")
            .filter(F.col("_bval").isNotNull() | has_ops)
            .select(
                "key",
                F.when(has_ops, merged_value).otherwise(F.col("_bval")).alias("value"),
                # operands never expire a key; TTL rides the newest full
                # value only (0 = never while folded deltas are present
                # atop a dead/absent base)
                F.coalesce(F.col("_bexp"), F.lit(0)).alias("expires_at"),
                F.when(has_ops, F.col("_omax.version"))
                .otherwise(F.col("_bv"))
                .alias("version"),
                F.when(has_ops, F.col("_omax.seq")).otherwise(F.col("_bs")).alias("seq"),
                # the fold marker costs nothing when unused (column pruned)
                *([has_ops.alias("_folded")] if with_marker else []),
            )
        )

    def get(
        self,
        key,
        now: int | None = None,
        as_of: int | None = None,
        cf: str | None = None,
    ):
        """Point read with manifest min/max pruning (SST interval search,
        `kv/lsm/level_handler.go:45-64`) + Parquet bloom/stats pushdown.
        Inside a ``pin()`` session the read hits the shared cached view
        (no replanning, no segment scan). ``cf`` scopes the namespace
        (the key must already be ENCODED — ``ColumnFamily.get`` does
        this); CF reads bypass the default-namespace pinned cache."""
        df = self._pinned_view(now, as_of) if cf is None else None
        if df is None:
            segs = self.manifest.prune_for_key(self._enc(key))
            if not segs:
                return None
            df = self.view(now=now, segs=segs, as_of=as_of, cf=cf)
        rows = df.filter(F.col("key") == key).limit(1).collect()
        if not rows or rows[0]["value"] is None:  # view() filters NULLs too
            return None
        return self._entry(rows[0])

    def _entry(self, r) -> Entry:
        """A view row as the client-facing ``Entry``."""
        key = bytes(r["key"]) if self.key_type == "binary" else r["key"]
        return Entry(
            key=key,
            value=bytes(r["value"]),
            expires_at=r["expires_at"],
            version=r["version"],
        )

    def mget(
        self,
        keys: list,
        now: int | None = None,
        as_of: int | None = None,
        cf: str | None = None,
    ) -> dict:
        """Batched point read: one job for N keys instead of N jobs. Segments
        are pruned to the union of per-key candidate sets, then a single
        IN-filtered view scan resolves every key — the pattern a caller
        looping ``get`` actually wants. Returns {key: Entry} for found keys
        (missing/tombstoned/expired keys are absent). ``cf`` as in ``get``."""
        if not keys:
            return {}
        df = self._pinned_view(now, as_of) if cf is None else None
        if df is None:
            segs = self._union_segments(
                self.manifest.prune_for_key(self._enc(k)) for k in keys
            )
            if not segs:
                return {}
            df = self.view(now=now, segs=segs, as_of=as_of, cf=cf)
        rows = df.filter(F.col("key").isin(list(keys))).collect()
        return {e.key: e for e in map(self._entry, rows)}

    def scan(
        self,
        prefix=None,
        start=None,
        end=None,
        asc: bool = True,
        now: int | None = None,
        as_of: int | None = None,
        at_version: int | None = None,
        cf: str | None = None,
    ) -> DataFrame:
        """Ordered range scan — NewIterator (`kv/iterator.go:19-79`). Prefix
        and bounds reach the Parquet scan as pushed filters; ordering is a
        range-shuffle sort (pipelined, not a global single-node sort).
        Bounds are ``bytes`` in binary-key mode; a byte prefix becomes the
        half-open range [prefix, increment-with-carry(prefix)).
        ``at_version`` scans a historical manifest snapshot (time travel),
        with the same file-level pruning over that snapshot's segments."""
        lo = start if start is not None else prefix
        hi = end
        if prefix is not None and end is None:
            hi = _prefix_upper_bound(prefix)
        hist_segs = (
            self.manifest.load_version(at_version).data_segments()
            if at_version is not None
            else None
        )
        segs = self.manifest.prune_for_range(self._enc(lo), self._enc(hi), hist_segs)
        df = self.view(now=now, segs=segs, as_of=as_of, at_version=at_version, cf=cf)
        if prefix is not None:
            if self.key_type == "binary":
                # range form — equivalent to startswith for byte keys
                df = df.filter(F.col("key") >= F.lit(bytes(prefix)))
                if hi is not None:
                    df = df.filter(F.col("key") < F.lit(hi))
            else:
                df = df.filter(F.col("key").startswith(prefix))
        if start is not None:
            df = df.filter(F.col("key") >= start)
        if end is not None:
            df = df.filter(F.col("key") < end)
        return df.orderBy(F.col("key").asc() if asc else F.col("key").desc())

    def changes_since(
        self,
        snapshot_seq: int,
        now: int | None = None,
        include_preimage: bool = False,
        preimage_at_version: int | None = None,
        as_of: int | None = None,
        cf: str | None = None,
    ) -> DataFrame:
        """Changefeed (CDC): the current state of every key written after
        ``snapshot_seq`` (e.g. a value previously captured via
        ``snapshot_seq()``), as (key, change, value, expires_at, version)
        where change is 'upsert', 'delete' (tombstoned,
        expired-by-now, or covered by a post-snapshot range tombstone —
        covered keys with no post-snapshot write are expanded into
        per-key delete events stamped with the tombstone's seq, read
        through the manifest's key-interval pruning over the deleted
        ranges only), or 'merge' (a raw merge operand, RocksDB
        kTypeMerge shipped as-is).

        MERGE OPERANDS ship as their own events rather than folding at
        the source: the feed stays O(interval rows), the replica keeps the
        primary's O(1) write amplification, and a replica opened with the
        same ``merge_op`` re-folds identically because ``apply_changes``
        replays each key's events in feed-``version`` order (delete/upsert
        below, surviving operands above — the exact fold boundary
        ``_merged_fold`` uses). A key can therefore carry SEVERAL events
        in one feed (one upsert-or-delete plus its surviving operands), so
        per-key event ORDER matters to consumers and the remote protocol
        pages on the (key, version, change) compound cursor. Operands the interval
        itself shadows (at/below the key's newest interval full row, or
        retired by a covering range tombstone) are not shipped.

        O(delta) while the delta is un-compacted: versions are monotonic,
        so a touched key's newest version lives in a post-snapshot segment
        — the manifest prunes on each segment's exact ``max_seq`` bound
        (max_seq <= snapshot proves the segment holds no post-snapshot
        rows; unknown bounds are conservatively admitted). Leveled
        compaction preserves this across maintenance: when a small delta
        merges into a dominating base, the output is epoch-split at the
        base's max_seq (`EPOCH_SPLIT_RATIO`), so the merged base prunes
        and only delta-sized segments rescan. Below the ratio (or under
        full ``compact()``) pruning degrades to the merged segments' span
        — correctness always comes from the row-level ``seq`` filter.
        Value pointers are resolved against the values table so consumers
        see full payloads.

        ``include_preimage=True`` adds ``old_value``: the key's value as of
        the snapshot, with TTL evaluated at ``now`` (read time) — i.e. what
        an ``as_of`` read would return today, which is also what a
        TTL-respecting downstream cache still holds. NULL means the key was
        absent, tombstoned, or is expired by ``now`` (snapshot wall-time is
        not recorded, so liveness cannot be evaluated "as of then"; a
        pre-image that has since expired surfaces as NULL, matching the
        consumer's own expiry). Costs one extra join against the as-of
        view, which prunes to pre-snapshot segments via created_seq.

        ``preimage_at_version`` makes pre-images DURABLE across
        maintenance: pass the manifest version captured at snapshot time
        (``manifest.state.version``, or the pair from ``snapshot()``) and
        ``old_value`` is resolved through that retained manifest
        (``view(at_version=..., as_of=...)`` time travel) instead of the
        live one — compaction merging away a touched key's pre-snapshot
        version no longer degrades its pre-image to NULL, because the
        historical manifest still references the pre-compaction segment
        files (maintenance deregisters segments, never deletes their
        files). The remaining caveat is ``manifest.prune_versions`` /
        ``vacuum``: physically pruning history older than the captured
        version invalidates it — retain at least as far back as the oldest
        open snapshot, exactly like any MVCC retention knob.

        Retention caveat for the DEFAULT live resolution (standard for LSM
        CDC): a full ``compact()`` physically drops tombstones, so deletes
        older than the last full compaction are no longer observable —
        consume the feed before compacting, or use leveled compaction
        (which preserves per-key tombstones above the bottom level).
        Range tombstones are retired by leveled compaction too unless a
        registered hold still needs them — a CDC consumer that resumes
        from ``snapshot_seq`` across maintenance cycles should
        ``hold_snapshot(name, seq)`` its resume point (and re-hold as it
        advances): held feeds stay exact, unheld feeds may miss
        range-delete expansions once maintenance clears the tombstone. The same
        applies to pre-images of *upserts* under ANY compaction (leveled
        included): compaction keeps only the newest version per key, so
        once a touched key's pre-snapshot version is merged away, its
        ``old_value`` degrades to NULL — unless ``preimage_at_version`` is
        supplied. ``tests/test_kv_store.py`` pins both contracts.

        ``as_of`` caps the feed at an UPPER snapshot seq: only changes in
        (snapshot_seq, as_of] appear, evaluated exactly as a reader
        pinned at ``as_of`` would see them (writes and range tombstones
        stamped after ``as_of`` are invisible). This is what makes a
        PAGED remote feed snapshot-consistent — every page reads the same
        closed interval, so a key committed below the page cursor
        mid-pagination cannot tear the stitched result
        (``KVClient.changes`` pins its poll this way).

        ``cf`` scopes the feed to ONE column family's key range —
        per-family/per-tenant replication ships only that family's
        interval (keys stay encoded; a consumer with the same family
        registered converges for it). Default ``None`` = the full feed
        across all namespaces. CONSUMER CONTRACT for feeds that carry CF
        rows: bootstrap replicas via ``clone_to`` (the catalog rides it)
        or ``create_cf`` the same families before applying — on a store
        whose catalog is EMPTY the default-namespace filter is gated off,
        so applied CF rows would surface as raw ``\\x02``-prefixed keys
        (the same degenerate-open trade as reading a merge store without
        its ``merge_op``)."""
        if as_of is not None and int(as_of) < int(snapshot_seq):
            raise ValueError(
                f"as_of ({as_of}) must be >= snapshot_seq ({snapshot_seq})"
            )
        merge_aware = self.manifest.state.has_merge_operands
        if merge_aware and self.merge_op is None:
            # the range-delete expansion below reads the as-of view; on an
            # operand-bearing store that view only surfaces operand-built
            # keys when the operator is configured — without it a covered
            # operands-only key would get NO delete event and a replica
            # that folded earlier shipped operands would diverge
            raise ValueError(
                "changes_since over live merge operands requires the store "
                "to be opened with the merge_op the operands were written "
                "under (or fold_merges() + compact() first)"
            )
        now = int(time.time()) if now is None else now
        segs = [
            s
            for s in self.manifest.state.data_segments()
            if s.max_seq is None or s.max_seq > snapshot_seq
        ]
        if as_of is not None:
            # as-of upper bound: the same created_seq prune view() uses
            segs = self._visible_at(segs, as_of)
        delta = self.raw_df(segs).filter(F.col("seq") > F.lit(snapshot_seq))
        if as_of is not None:
            delta = delta.filter(F.col("seq") <= F.lit(int(as_of)))
        m_rows = None
        if merge_aware:
            # operands ship as their own 'merge' events below — the full
            # events must collapse over FULL rows only, or the newest-per-
            # key pick could ship a raw operand as if it were a full value
            is_m = self._is_operand()
            m_rows = delta.filter(is_m)
            delta = delta.filter(~is_m)
        newest = self._newest_of(delta)
        resolved = self._resolve_values(newest, self.manifest.state.value_segments())
        rts = [
            rt
            for rt in self.manifest.state.range_tombstones
            if as_of is None or int(rt["seq"]) <= as_of
        ]
        rt_mask = self._rt_mask(rts, None)
        dead = F.col("value").isNull() | self._expired(now)
        if rt_mask is not None:
            # a delta write that a LATER range tombstone covers is dead in
            # the live view — its event must say so
            dead = dead | (~rt_mask)
        out = resolved.select(
            "key",
            F.when(dead, F.lit("delete")).otherwise(F.lit("upsert")).alias("change"),
            "value",
            # carried so apply_changes replicates TTL faithfully: a live
            # upsert with a future expiry must expire on the replica too
            "expires_at",
            "version",
        )
        # keys a post-snapshot range tombstone covers WITHOUT any
        # post-snapshot per-key write: no delta row exists, so synthesize
        # their delete events from the snapshot view (every snapshot row's
        # seq predates the tombstone by construction). Keys the delta does
        # touch already carry the right event above — anti-join them out.
        rts_after = [rt for rt in rts if int(rt["seq"]) > snapshot_seq]
        if rts_after:
            in_range = None
            rt_ver = None  # the covering tombstone's seq IS the delete's version
            for rt in rts_after:
                c = self._rt_key_range(rt)
                in_range = c if in_range is None else (in_range | c)
                v = F.when(c, F.lit(int(rt["seq"])))
                rt_ver = v if rt_ver is None else F.greatest(rt_ver, v)
            # manifest key-interval pruning over the tombstone bounds: the
            # expansion reads only segments overlapping a deleted range,
            # not the whole pre-snapshot store (prune_for_range — the same
            # pruning scan() uses). This is an as-of-snapshot read: the
            # candidates pass view()'s as-of prune (`_visible_at`) first, so
            # a range no pre-snapshot segment overlaps skips the expansion.
            as_of_cands = self._visible_at(
                self.manifest.state.data_segments(), snapshot_seq
            )
            segs = self._union_segments(
                self.manifest.prune_for_range(rt.get("start"), rt.get("end"), as_of_cands)
                for rt in rts_after
            )
            if segs:  # no overlapping segment -> nothing was covered
                extra = (
                    # CF_ALL: a drop_cf tombstone covers CF-namespaced keys,
                    # and their delete events must ship for replicas to purge
                    self.view(now=now, segs=segs, as_of=snapshot_seq, cf=CF_ALL)
                    .filter(in_range)
                    .join(out.select("key"), "key", "left_anti")
                    .select(
                        "key",
                        F.lit("delete").alias("change"),
                        F.lit(None).cast("binary").alias("value"),
                        F.lit(0).cast("long").alias("expires_at"),
                        # post-snapshot stamp, like every other event — NOT
                        # the covered row's pre-snapshot write version
                        rt_ver.cast("long").alias("version"),
                    )
                )
                out = out.unionByName(extra)
        if m_rows is not None:
            # operand ('merge') events: every LIVE interval operand the
            # key's newest interval FULL row does not shadow — exactly the
            # operands _merged_fold would apply above its base, so a
            # replica that re-folds the shipped events converges. rt_mask
            # clears operands a covering tombstone retired (the covered
            # key's delete event shipped above, stamped below the
            # surviving operands, so an ordered apply replays the fold).
            # Operands are inline by construction (set_batch guard): no
            # pointer resolution. Versions are respected within the
            # interval (the same (version, seq) boundary the fold uses); a
            # PRE-snapshot full row custom-stamped above interval operands
            # is not re-examined — the standard monotonic-version contract.
            ops = m_rows
            if rt_mask is not None:
                ops = ops.filter(rt_mask)
            mev = (
                self._operands_above(ops, newest)
                .select(
                    "key",
                    F.lit("merge").alias("change"),
                    "value",
                    # operands never carry TTL (merge_batch writes them
                    # with expires_at=0)
                    F.lit(0).cast("long").alias("expires_at"),
                    F.col("version").cast("long").alias("version"),
                )
            )
            out = out.unionByName(mev)
        if include_preimage:
            pre = self.view(
                now=now, as_of=snapshot_seq, at_version=preimage_at_version,
                cf=CF_ALL,  # pre-images for CF rows on the feed too
            ).select("key", F.col("value").alias("old_value"))
            out = out.join(pre, "key", "left").select(
                "key", "change", "value", "expires_at", "old_value", "version"
            )
        if cf is not None:
            # scope the feed to one namespace: per-family/per-tenant
            # replication ships only that family's interval. Keys stay
            # ENCODED (the feed is store-to-store transport — a replica
            # with the same family registered converges for it); the
            # filter is the family's contiguous key range, applied last
            # so delete expansions and 'merge' events scope identically.
            # (cf=None stays the FULL feed — all namespaces, unchanged.)
            ns = self._ns_predicate(cf, self.manifest.state)
            if ns is not None:
                out = out.filter(ns)
        return out

    def apply_changes(
        self,
        feed: DataFrame,
        commit_tag: tuple[str, int] | None = None,
        target_segments: int = 8,
        source_epoch: int | None = None,
    ) -> int:
        """Replication consumer: apply another store's ``changes_since``
        feed to THIS store — log-shipping built on the changefeed, the
        Spark-idiomatic stand-in for the reference's aspirational cluster
        layer (A25 is a YAML + raft dep with an empty main,
        `cmd/main.go:3-4`; no consensus here, just CDC ship + apply).
        Upserts land as writes with their TTL stamps carried through,
        deletes as tombstones; the whole feed is ONE `ingest_df` call, so
        one atomic manifest commit makes the batch visible. Pass
        ``commit_tag=(stream_id, batch_id)`` and at-least-once shipping
        converges: a replayed batch is a committed no-op, exactly the
        streaming-ingest idempotency contract. Returns rows applied.

        MERGE events ('merge', emitted by an operand-bearing primary) land
        as BIT_MERGE operand rows via ``ingest_df(merge_col=...)``, so a
        replica opened with the same ``merge_op`` re-folds identically.
        Per-key event ORDER is reproduced by sorting the feed by
        (key, version, operand-last) before ingest: ``ingest_df``
        re-stamps versions from input order (monotonically_increasing_id
        over a range-partitioned total sort), so the base event — whose
        feed version is below its surviving operands' by the fold-boundary
        contract — lands below them on the replica too. The operand-last
        tiebreak covers a custom-stamped full row sharing an operand's
        version.

        Replica bootstrap: ``clone_to`` at the snapshot the feed starts
        from, then apply feeds in order — the replica's live view equals
        the primary's at every applied point (pinned by
        `test_changefeed_replication_converges` and the merge-store
        convergence tests).

        FENCING: pass ``source_epoch`` (the shipping store's
        ``writer_epoch`` — carried by the remote protocol and the
        streaming replicator) and split brain is refused: a feed stamped
        below this store's durable epoch watermark raises
        ``StaleWriterError`` (a deposed primary kept writing after a
        ``promote()``), while a NEWER stamp is durably adopted BEFORE the
        data lands (crash between the two commits leaves the fence raised
        and the batch unapplied — at-least-once shipping redelivers).
        ``None`` preserves the unfenced single-writer contract."""
        if source_epoch is not None:
            if int(source_epoch) < self.writer_epoch:
                raise StaleWriterError(
                    f"feed from deposed writer epoch {int(source_epoch)} "
                    f"(this store has seen epoch {self.writer_epoch}); a "
                    "promoted primary fenced this source — re-bootstrap it "
                    "as a replica instead of shipping its writes"
                )
            self._adopt_epoch(int(source_epoch))
        is_merge = F.col("change") == "merge"
        try:
            return self.ingest_df(
                feed.select(
                    "key",
                    F.when(F.col("change") == "delete", F.lit(None).cast("binary"))
                    .otherwise(F.col("value"))
                    .alias("value"),
                    F.when(F.col("change") == "delete", F.lit(0))
                    .otherwise(F.coalesce(F.col("expires_at"), F.lit(0)))
                    .cast("long")
                    .alias("expires_at"),
                    is_merge.alias("_is_merge"),
                    "version",
                ).orderBy("key", "version", F.col("_is_merge").cast("int")),
                expires_col="expires_at",
                target_segments=target_segments,
                commit_tag=commit_tag,
                merge_col="_is_merge",
                # feeds legitimately carry CF-encoded (\x02-prefixed) keys
                _allow_reserved=True,
                # the fence is RE-verified inside the data commit itself
                # (ADVICE r10): check-then-act closed — a promote() racing
                # between the check above and the commit aborts the batch
                expected_max_epoch=(
                    int(source_epoch) if source_epoch is not None else None
                ),
            )
        except EpochFencedError as e:
            raise StaleWriterError(str(e)) from e

    def cache_view(self, now: int | None = None) -> DataFrame:
        """Pin the current live view in executor memory — the block-cache
        analog (A13, `kv/lsm/cache.go:7-28`): repeated reads skip the
        segment scan + dedup entirely. Spark's storage layer replaces
        W-TinyLFU (LRU eviction under memory pressure). The pin is tied to
        this manifest version; any write invalidates it."""
        with self._cache_lock:
            if getattr(self, "_cached_view", None) is not None:
                self.uncache_view()
            now = int(time.time()) if now is None else int(now)
            # capture the version BEFORE building the plan: a write
            # committing between view() and the stamp would otherwise tag
            # an old-segment-list plan with the NEW version — a stale
            # cache no later version check can ever invalidate (found by
            # the concurrent-clients service hammer)
            version = self.manifest.state.version
            df = self.view(now=now).cache()
            self._cached_view = df
            self._cached_version = version
            self._cached_now = now  # TTL evaluation time baked into the cache
            return df

    def cached_view(self) -> DataFrame | None:
        """The pinned view if still valid for the current manifest version."""
        with self._cache_lock:
            if getattr(self, "_cached_view", None) is None:
                return None
            if self._cached_version != self.manifest.state.version:
                self.uncache_view()
                return None
            return self._cached_view

    def uncache_view(self) -> None:
        with self._cache_lock:
            if getattr(self, "_cached_view", None) is not None:
                self._cached_view.unpersist()
                self._cached_view = None
                self._cached_version = None
                self._cached_now = None

    def pin(self, now: int | None = None):
        """Pinned-read session: inside ``with store.pin(now=...):``, every
        ``get``/``mget`` resolves against one shared cached live view
        (``cache_view``) instead of replanning the full
        scan → dedup → values-join per call — the repeated-point-read
        pattern a driver loop actually produces. The cache is built
        lazily on first read, TTL is evaluated at the pin's fixed ``now``
        (a pinned session IS a consistent read point), and a write
        invalidates it via the existing manifest-version check, so the
        next read transparently rebuilds against the new version. Reads
        that pass ``as_of`` or a different ``now`` bypass the pin (they
        ask for a different snapshot/time). Sessions nest: an inner pin
        restores the outer pin's state on exit, and a cache the outer pin
        (or the user, via ``cache_view``) built before entry survives —
        if this session's different-``now`` reads displaced it, exit
        re-registers it at its original ``now`` (lazily, so its blocks
        re-warm on the next read) unless a write moved the manifest, which
        would have version-invalidated the original cache anyway."""
        store = self

        class _PinnedSession:
            def __enter__(self):
                self._saved = (
                    getattr(store, "_pinned", False),
                    getattr(store, "_pinned_now", None),
                )
                self._pre_cache = store.cached_view()
                self._pre_now = getattr(store, "_cached_now", None)
                self._pre_version = getattr(store, "_cached_version", None)
                store._pinned_now = int(time.time()) if now is None else int(now)
                store._pinned = True
                return store

            def __exit__(self, *exc):
                outer_pinned, outer_now = self._saved
                cur = store.cached_view()
                keep = cur is not None and (
                    cur is self._pre_cache
                    or (outer_pinned and store._cached_now == outer_now)
                )
                if not keep:
                    store.uncache_view()
                    # A pre-entry cache displaced by this session's
                    # different-now rebuild is re-registered on exit
                    # (lazily — .cache() runs no job; blocks re-warm on
                    # next read), so the caller's cache_view survives the
                    # pin as documented (ADVICE r6). Skipped when the
                    # manifest moved inside the pin: the original cache
                    # would have been version-invalidated anyway.
                    if (
                        self._pre_cache is not None
                        and cur is not self._pre_cache
                        and store.manifest.state.version == self._pre_version
                    ):
                        store.cache_view(now=self._pre_now)
                store._pinned, store._pinned_now = outer_pinned, outer_now
                return False

        return _PinnedSession()

    def _pinned_view(self, now: int | None, as_of: int | None) -> DataFrame | None:
        """The shared pinned view when this read can use it: pin active, no
        as_of override, and the read's TTL time matches the pin's. A cached
        view built at a DIFFERENT ``now`` (e.g. by an earlier cache_view or
        an inner pin) is rebuilt, never served with the wrong TTL time."""
        if not getattr(self, "_pinned", False) or as_of is not None:
            return None
        if now is not None and now != self._pinned_now:
            return None
        # One atomic check-and-rebuild: exactly one service thread
        # rebuilds per manifest version; the rest reuse its frame.
        with self._cache_lock:
            df = self.cached_view()
            if df is not None and self._cached_now != self._pinned_now:
                df = None  # wrong TTL time baked in — rebuild below
            if df is None:
                df = self.cache_view(now=self._pinned_now)
            return df

    def snapshot_seq(self) -> int:
        """The sequence number capturing everything committed so far — pass
        to ``view/scan/get(as_of=...)`` for a repeatable snapshot read."""
        return self.manifest.state.next_seq - 1

    def snapshot(self):
        """Durable snapshot handle: ``(seq, manifest_version)``. ``seq``
        feeds ``as_of`` reads and ``changes_since``; ``manifest_version``
        feeds ``changes_since(preimage_at_version=...)`` /
        ``view(at_version=...)`` so reads stay exact across later
        compaction (valid until ``manifest.prune_versions`` discards the
        version)."""
        st = self.manifest.state
        return Snapshot(seq=st.next_seq - 1, manifest_version=st.version)

    def hold_snapshot(self, holder: str, seq: int | None = None) -> int:
        """Register a named snapshot hold (the RocksDB snapshot-list /
        Badger minReadTs analog, `kv/utils/key.go:32-37` versioned reads):
        maintenance will not clear a range tombstone some held snapshot
        still needs — a holder at seq S can keep calling
        ``view/get(as_of=S)`` and ``changes_since(S)`` across leveled
        compactions and see exact results. Defaults to the current
        ``snapshot_seq()``. One manifest commit; re-holding the same name
        moves its seq (a consumer advancing its checkpoint). Returns the
        held seq. Holds are durable (they live in the manifest), so
        release them — an abandoned hold pins tombstones forever, the
        same trade as any MVCC retention handle."""
        seq = self.snapshot_seq() if seq is None else int(seq)
        held = self.manifest.state.held_snapshots
        self.manifest.commit(held_snapshots={**held, str(holder): seq})
        return seq

    def release_snapshot(self, holder: str) -> None:
        """Drop a named hold; unknown names are a no-op (idempotent)."""
        held = self.manifest.state.held_snapshots
        if str(holder) not in held:
            return
        self.manifest.commit(
            held_snapshots={h: s for h, s in held.items() if h != str(holder)}
        )

    def oldest_held_seq(self) -> int | None:
        """min over registered holds, or None when nothing is held."""
        held = self.manifest.state.held_snapshots
        return min(held.values()) if held else None

    def replication_lag(self) -> dict:
        """Consumer/replica lag telemetry (r15, VERDICT r14 #6) — what an
        operator of the A25 data plane actually watches: every CDC
        consumer (a replica's changefeed checkpoint, a remote reader's
        hold) registers a named snapshot hold and advances it as it
        applies batches, so ``head_seq - held_seq`` IS that consumer's
        lag in events. Sequence distance, not wall clock: deterministic,
        and exactly the quantity retention/GC reasons about
        (``oldest_held_seq``). Served remotely via the service ``stats``
        op so a failover drill can assert lag bounds over the socket."""
        head = self.snapshot_seq()
        holds = self.manifest.state.held_snapshots
        per = {h: head - int(s) for h, s in sorted(holds.items())}
        return {
            "head_seq": head,
            "writer_epoch": self.writer_epoch,
            "holders": per,
            "max_lag": max(per.values()) if per else 0,
            "oldest_held_seq": self.oldest_held_seq(),
        }

    @property
    def writer_epoch(self) -> int:
        """Fencing token for the replication role (Raft-term analog): the
        generation stamped on every feed this store ships. Bumped by
        ``promote()``; consumers refuse older stamps (``apply_changes``)."""
        return self.manifest.state.writer_epoch

    def promote(self, past_epoch: int | None = None) -> int:
        """Promote this store to primary after a failover: bump the durable
        writer epoch past the deposed primary's (defaults to past our own —
        a replica bootstrapped via ``clone_to`` inherited the primary's
        epoch, so +1 already fences it). One manifest commit; returns the
        new epoch. This is the FENCING half of consensus (the part that
        protects data): a deposed primary that keeps serving feeds is
        refused by every consumer that has seen the new epoch. LEADER
        ELECTION (deciding who calls promote) stays out of scope, matching
        the reference's empty cluster layer (`cmd/main.go:3-4`)."""
        new_epoch = max(self.writer_epoch, int(past_epoch or 0)) + 1
        self.manifest.commit(writer_epoch=new_epoch)
        return new_epoch

    def _adopt_epoch(self, source_epoch: int) -> None:
        """Follow a newer leader: durably raise our epoch watermark so a
        later feed from any OLDER generation is refused. No-op when the
        source is not ahead."""
        if int(source_epoch) <= self.writer_epoch:
            return
        self.manifest.commit(writer_epoch=int(source_epoch))

    # -- column families (RocksDB CF analog; beyond-reference) ---------------
    def _cf_prefix(self, name: str):
        p = CF_RESERVED + str(name) + CF_SEP
        return p.encode("ascii") if self.key_type == "binary" else p

    def _cf_range(self, name: str):
        """The family's reserved contiguous key range [start, end) — the
        unit every per-CF operation (scan, drop tombstone, compact_cf)
        is keyed by."""
        start = self._cf_prefix(name)
        return start, _prefix_upper_bound(start)

    def _reserved_key(self):
        """THE reserved-namespace predicate: the key starts with the CF
        byte (``CF_RESERVED``), i.e. the row belongs to some family."""
        if self.key_type == "binary":
            return F.expr("substring(key, 1, 1)") == F.lit(
                CF_RESERVED.encode("ascii")
            )
        return F.col("key").startswith(CF_RESERVED)

    def _ns_predicate(self, cf: str | None, src_state):
        """Namespace filter Column for ``view``: None when nothing applies
        (CF-free store, or cf=CF_ALL) so plans stay bit-identical."""
        if cf == CF_ALL:
            return None
        if cf is None:
            # STICKY gate (ADVICE r10): once any CF ever existed, the
            # default-namespace filter stays on even after the last
            # drop_cf — an as_of read pinned before that drop skips the
            # drop's range tombstone (seq > as_of, correctly), so without
            # the sticky flag the dropped family's raw \x02 rows would
            # surface in the default namespace. Cleared only by a full
            # compaction that verifies no reserved-prefix rows survive.
            if not src_state.column_families and not src_state.column_families_ever:
                return None
            return ~self._reserved_key()
        p, hi = self._cf_range(cf)
        if self.key_type == "binary":
            cond = F.col("key") >= F.lit(bytes(p))
            return cond & (F.col("key") < F.lit(hi)) if hi is not None else cond
        return F.col("key").startswith(p)

    @staticmethod
    def _cf_meta(entry) -> dict:
        """Normalize a column-family catalog value: pre-r13 manifests
        stored the creation seq as a bare int; r13+ store a dict carrying
        the per-family compaction policy (RocksDB sets compaction options
        per CF — VERDICT r12 #6); r14 adds the per-family value-separation
        threshold and merge operator (the rest of the RocksDB per-CF
        options contract — VERDICT r13 #5). Absent keys normalize to None
        = inherit the store default, so every older manifest reads back
        unchanged."""
        if isinstance(entry, dict):
            return {
                "seq": int(entry.get("seq", 0)),
                "compaction_style": entry.get("compaction_style"),
                "value_threshold": entry.get("value_threshold"),
                "merge_op": entry.get("merge_op"),
            }
        return {
            "seq": int(entry),
            "compaction_style": None,
            "value_threshold": None,
            "merge_op": None,
        }

    def _cf_effective(self, name: str) -> dict:
        """The family's EFFECTIVE options (recorded override or the store
        default for each): compaction_style, value_threshold, merge_op."""
        cfs = self.manifest.state.column_families
        if str(name) not in cfs:
            raise ValueError(f"unknown column family {name!r}")
        meta = self._cf_meta(cfs[str(name)])
        return {
            "compaction_style": meta["compaction_style"] or self.compaction_style,
            "value_threshold": (
                self.value_threshold
                if meta["value_threshold"] is None
                else int(meta["value_threshold"])
            ),
            "merge_op": (
                self.merge_op if meta["merge_op"] is None else meta["merge_op"]
            ),
        }

    def cf_value_threshold(self, name: str) -> int:
        """The family's effective value-separation threshold."""
        return self._cf_effective(name)["value_threshold"]

    def cf_merge_op(self, name: str) -> str | None:
        """The family's effective merge operator (None = reads hide
        operands, same contract as a store opened without merge_op)."""
        return self._cf_effective(name)["merge_op"]

    def cf_compaction_style(self, name: str) -> str:
        """The family's effective compaction policy: its recorded style,
        else the store default."""
        cfs = self.manifest.state.column_families
        if str(name) not in cfs:
            raise ValueError(f"unknown column family {name!r}")
        style = self._cf_meta(cfs[str(name)])["compaction_style"]
        return style or self.compaction_style

    def create_cf(
        self,
        name: str,
        exist_ok: bool = False,
        compaction_style: str | None = None,
        value_threshold: int | None = None,
        merge_op: str | None = None,
    ):
        """Create a column family (RocksDB ``CreateColumnFamily``; the
        reference is single-keyspace, so this is a beyond-reference
        extension): an isolated key namespace INSIDE this store — same
        segment files, same flush/compaction/replication/maintenance, its
        keys encoded under the reserved ``\\x02<name>\\x1f`` prefix so the
        family is one contiguous key range (per-CF scans prune like any
        range scan; per-CF drop is one range tombstone). One manifest
        commit registers it durably. Returns a ``ColumnFamily`` handle.

        ``compaction_style``: optional per-family policy override
        ("leveled"/"tiered"; None inherits the store default) — recorded
        in the catalog and honored by ``compact_cf`` / the family
        handle's ``compact()``. Families share segments, so the policy
        governs how the family's RANGE is maintained (see compact_cf),
        not a private segment set. Re-opening with ``exist_ok`` and a
        DIFFERENT explicit style raises — a policy change is a catalog
        edit, not a side effect of a racy open.

        ``value_threshold`` / ``merge_op`` (r14, the rest of the RocksDB
        per-CF options contract): per-family value-separation threshold
        (the family's writes route payloads >= it to the values table,
        independent of the store default) and per-family merge operator
        (the family's reads fold with IT — see ``view(cf=)``; a family
        may fold while the default namespace hides operands, or fold with
        a different operator). None inherits the store default, exactly
        like ``compaction_style``."""
        name = str(name)
        if not _CF_NAME_RE.fullmatch(name):
            raise ValueError(
                f"invalid column-family name {name!r} (need [A-Za-z0-9_.-], "
                "1-64 chars — names are embedded in keys)"
            )
        if compaction_style not in (None, "leveled", "tiered"):
            raise ValueError(
                "cf compaction_style must be None, 'leveled' or 'tiered', "
                f"got {compaction_style!r}"
            )
        if merge_op is not None and merge_op not in MERGE_OPS:
            raise ValueError(
                f"cf merge_op must be None or one of {MERGE_OPS}, got {merge_op!r}"
            )
        if value_threshold is not None and int(value_threshold) < 1:
            raise ValueError("cf value_threshold must be a positive int")
        cfs = self.manifest.state.column_families
        if name in cfs:
            if exist_ok:
                # compare against the family's EFFECTIVE options (recorded
                # override or the store default), not the raw recorded
                # value — re-stating a default on an idempotent open is
                # not an options change (ADVICE r13)
                eff = self._cf_effective(name)
                requested = {
                    "compaction_style": compaction_style,
                    "value_threshold": (
                        None if value_threshold is None else int(value_threshold)
                    ),
                    "merge_op": merge_op,
                }
                for opt, want in requested.items():
                    if want is not None and want != eff[opt]:
                        raise ValueError(
                            f"column family {name!r} exists with {opt}="
                            f"{eff[opt]!r}; refusing silent change to {want!r}"
                        )
                return self.cf(name)
            raise ValueError(f"column family {name!r} already exists")
        entry = {
            "seq": int(self.manifest.state.next_seq),
            "compaction_style": compaction_style,
            "value_threshold": (
                None if value_threshold is None else int(value_threshold)
            ),
            "merge_op": merge_op,
        }
        self.manifest.commit(
            column_families={**cfs, name: entry},
            # sticky: keeps the default-namespace filter correct for
            # as_of reads even after the last drop_cf (see
            # _ns_predicate); cleared only by a verifying compact()
            column_families_ever=True,
        )
        return self.cf(name)

    def cf(self, name: str):
        """Handle for an existing column family; raises on unknown names
        (including dropped ones — handles re-check the catalog per op, so
        a stale handle can't write into a dropped family's key range)."""
        from octopusdb_spark.kv.column_family import ColumnFamily

        if str(name) not in self.manifest.state.column_families:
            raise ValueError(f"unknown column family {name!r}")
        return ColumnFamily(self, str(name))

    def list_cfs(self) -> list:
        """Registered column-family names, sorted."""
        return sorted(self.manifest.state.column_families)

    def drop_cf(self, name: str) -> int:
        """Drop a column family — O(1) regardless of its row count, in ONE
        atomic manifest commit: the catalog entry is removed and a range
        tombstone over the family's entire prefix range hides every row
        (exactly ``delete_range`` semantics — the next full ``compact()``
        purges physically; holds protect snapshot readers). Recreating the
        name later yields an EMPTY family: old rows sit at/below the
        tombstone's seq, new writes land above it (RocksDB drop+recreate
        semantics). Returns the tombstone's seq stamp."""
        name = str(name)
        state = self.manifest.state
        if name not in state.column_families:
            raise ValueError(f"unknown column family {name!r}")
        start, end = self._cf_range(name)
        seq = state.next_seq
        self.manifest.commit(
            next_seq=seq + 1,
            range_tombstones=[
                *state.range_tombstones,
                {"start": self._enc(start), "end": self._enc(end), "seq": seq},
            ],
            column_families={
                n: v for n, v in state.column_families.items() if n != name
            },
        )
        return seq

    def approximate_sizes(self, ranges: list) -> list:
        """RocksDB ``GetApproximateSizes`` analog: estimated on-disk bytes
        and rows per key range, from MANIFEST METADATA ONLY — no file is
        opened, no job runs. Each range is ``(start, end)`` (end
        exclusive, None = unbounded); a segment overlapping a range
        contributes its bytes/rows scaled by nothing (whole-segment
        attribution, the same coarseness RocksDB's include-files mode
        has). DATA segments only: separated payloads live in the value
        log, which has no per-range key metadata — ``approx_bytes``
        covers keys + inline values + pointers, and the global payload
        mass is ``info()['value_total_bytes']`` (a range's share of it
        is unknowable without a scan). The operational use: size a
        ``compact_range`` / ``delete_range`` before issuing it, or plan
        shard splits over the keyspace."""
        out = []
        for start, end in ranges:
            segs = self.manifest.prune_for_range(self._enc(start), self._enc(end))
            out.append(
                {
                    "start": start,
                    "end": end,
                    "approx_bytes": sum(s.size_bytes for s in segs),
                    "approx_rows": sum(s.row_count for s in segs),
                    "segments": len(segs),
                }
            )
        return out

    def info(self) -> dict:
        """Stats endpoint (`kv/db.go:140-142` — a stub there; real here).
        Includes per-level layout, value-log garbage accounting, and the
        cumulative write-amplification numerator (bytes rewritten by
        compaction vs. live bytes)."""
        st = self.manifest.state
        levels: dict = {}
        for s in st.data_segments():
            d = levels.setdefault(s.level, {"segments": 0, "bytes": 0, "rows": 0})
            d["segments"] += 1
            d["bytes"] += s.size_bytes
            d["rows"] += s.row_count
        live_bytes = sum(s.size_bytes for s in st.data_segments())
        return {
            "manifest_version": st.version,
            "next_seq": st.next_seq,
            "data_segments": len(st.data_segments()),
            "value_segments": len(st.value_segments()),
            "levels": sorted(levels),
            "levels_detail": {str(k): levels[k] for k in sorted(levels)},
            "row_count": sum(s.row_count for s in st.data_segments()),
            "value_total_bytes": sum(s.total_value_bytes for s in st.value_segments()),
            "value_discard_bytes": sum(s.discard_bytes for s in st.value_segments()),
            "compacted_bytes": st.compacted_bytes,
            "write_amplification": round(st.compacted_bytes / live_bytes, 3)
            if live_bytes
            else 0.0,
            # operational visibility for the two bounded-but-growable
            # manifest lists (ADVICE r7): every read applies one predicate
            # per live range tombstone, and every hold pins tombstones
            "range_tombstones": len(st.range_tombstones),
            "held_snapshots": len(st.held_snapshots),
            "has_merge_operands": st.has_merge_operands,
            "writer_epoch": st.writer_epoch,
            "column_families": sorted(st.column_families),
            "column_family_styles": {
                n: self._cf_meta(v)["compaction_style"] or self.compaction_style
                for n, v in sorted(st.column_families.items())
            },
            # the rest of the per-CF options contract (r14): effective
            # value-separation threshold + merge operator per family
            "column_family_options": {
                n: {
                    "value_threshold": (
                        self.value_threshold
                        if self._cf_meta(v)["value_threshold"] is None
                        else int(self._cf_meta(v)["value_threshold"])
                    ),
                    "merge_op": self._cf_meta(v)["merge_op"] or self.merge_op,
                }
                for n, v in sorted(st.column_families.items())
            },
            # sticky namespace gate (r11): True while any reserved-prefix
            # rows may exist — mirrors has_merge_operands' lifecycle
            "column_families_ever": st.column_families_ever,
        }

    def fold_merges(
        self,
        now: int | None = None,
        commit_tag: tuple | None = None,
        target_segments: int = 2,
        cf: str | None = None,
    ) -> int:
        """Physically fold accumulated merge operands into full values —
        RocksDB's fold-during-compaction, decomposed into an ordinary
        idempotent write: for every key whose read currently FOLDS
        operands (live operands above its newest full version), the
        MERGED value (exactly what ``view()`` folds) is written as a new
        full version. Keys whose only operands are shadowed or
        range-deleted carry nothing a read folds; their dead operand rows
        fall to the next compaction's retention rule unchanged. The superseded operand rows become shadowed history
        — the next maintenance pass trims them under the no-holds
        retention rule, while snapshot holds keep them for as-of reads
        exactly like superseded full versions (folding therefore never
        crosses a snapshot boundary: held horizons keep folding their own
        interval at read). A later full ``compact()`` verifies no operand
        rows remain and clears the manifest flag. Returns rows written.

        Plan shape: the read fold (keyed aggs over operand rows, which
        already marks per key whether anything folded — the ``_folded``
        gate) + one ``ingest_df`` — cost tracks the un-folded operand
        set, not the store. (Until r17 this re-derived the operand key
        set with a second full-store scan + distinct + left-semi join.)

        ``cf`` (r14): fold ONE family's operands with ITS effective
        operator — the maintenance path for heterogeneous-op stores,
        where the cross-namespace fold above refuses. Only that family's
        key range is read and rewritten; the manifest flag stays up until
        every namespace has folded and a verifying ``compact()`` clears
        it."""
        scope = CF_ALL if cf is None else str(cf)
        op = self._resolve_merge_op(scope, self.manifest.state)
        if op is None:
            raise ValueError(
                "fold_merges requires a merge operator (store merge_op=, "
                "or a family with one via cf=)"
            )
        if cf is None:
            # a cross-namespace fold writes every family's folded values
            # through ONE ingest, which can only honor ONE threshold —
            # refuse loudly when any family's effective threshold
            # differs (review r15: the same misrouting the r14 ADVICE
            # fixed for cf-scoped folds, on the CF_ALL path; mirrors
            # the heterogeneous-merge-op refusal)
            cfs = self.manifest.state.column_families
            odd = sorted(
                n for n in cfs
                if self.cf_value_threshold(n) != self.value_threshold
            )
            if odd:
                raise ValueError(
                    "fold_merges over all namespaces cannot honor "
                    f"per-family value thresholds (families {odd} differ "
                    "from the store default) — fold each family via "
                    "cf.fold_merges() / fold_merges(cf=...)"
                )
        if not self.manifest.state.has_merge_operands:
            return 0
        now = int(time.time()) if now is None else now
        # The view's merge fold already knows, per key, whether any
        # operand folded into the value (r17, VERDICT r16 #3): gate the
        # rewrite on that marker instead of a second full-store scan +
        # distinct + left-semi join — one scan tree instead of two.
        # Difference vs the old gate: a key whose ONLY operands are
        # shadowed (at/below the newest full version) or range-deleted is
        # no longer rewritten — those operands are dead rows the next
        # compaction's retention drops regardless, and rewriting the
        # unchanged base value for them only minted a redundant version.
        # The post-fold view and the flag lifecycle are identical.
        to_fold = (
            self.view(now=now, cf=scope, _fold_marker=True)
            .filter(F.col("_folded"))
            .drop("_folded")
        )
        return self.ingest_df(
            to_fold.select("key", "value", "expires_at"),
            expires_col="expires_at",
            target_segments=target_segments,
            commit_tag=commit_tag,
            _allow_reserved=True,  # scoped folds: keys may be CF-encoded
            # a cf-scoped fold must route folded values with the FAMILY's
            # effective threshold, not the store default (ADVICE r14:
            # otherwise a family with a larger threshold gets its inline
            # values pushed to the values table on fold, and vice versa)
            value_threshold=(
                None if cf is None else self.cf_value_threshold(str(cf))
            ),
        )

    # ------------------------------------------------------------ maintenance
    # Widest ranged write whose per-bucket stats are folded into the write
    # job as observed conditional aggregates; wider writes use the readback
    # stats job instead (see _write_ranged_segments). Every in-repo caller
    # uses 1-8 buckets; 32 keeps the observed-aggregate row bounded.
    OBSERVE_STATS_MAX_COMBOS = 32

    def _write_ranged_segments(
        self,
        df: DataFrame,
        level: int,
        target_segments: int,
        extra_stats: dict | None = None,
        epoch_cut: int | None = None,
    ) -> list:
        """Write a merged run as N range-disjoint segments (one directory
        each, tight min/max in the manifest) — the parallel sub-compaction
        split of `kv/lsm/compact.go:449-479`. One shuffle assigns range
        buckets; dynamic partition write fans the buckets out in the same
        job; a final per-bucket agg records manifest stats.

        ``created_seq`` (manifest stamp meaning "this segment holds only
        rows with seq >= created_seq") is computed EXACTLY per output
        segment: the same readback stats job that records max_seq also
        records min(seq), and that exact minimum is the stamp. Carrying a
        min of the participants' stamps instead (the pre-round-7 scheme)
        was unsound for legacy inputs: a legacy segment (max_seq=None)
        carries an UPPER-bound created_seq, and once compaction stamped
        the merged output with an exact max_seq, ``view()``'s as_of gate
        trusted that false lower bound and could prune pre-snapshot keys
        (ADVICE r6). The exact min is both always true and the tightest
        possible bound, so as-of pruning only improves.

        ``epoch_cut``: additionally split the output by seq epoch — rows
        with seq <= cut land in epoch-0 segments (max_seq <= cut by
        construction), rows with seq > cut in epoch-1 segments (exact
        min(seq) >= cut + 1 by construction).
        Same single shuffle and write job — the epoch is just one more
        dynamic partition column — but ``changes_since(snap >= cut)``
        prunes the entire epoch-0 (base) output and rescans only the
        delta-sized epoch-1 segments. Epoch segments overlap in key range
        across epochs; the view's newest-wins dedup already handles that.

        ``extra_stats``: {name: row-level Column}, each SUM-aggregated per
        bucket alongside the built-in stats. Returns ``(segs, rows)`` with
        ``rows`` the per-bucket stat mappings (built-in stats plus every
        extra one). Lets callers fold their own accounting into the
        write's own stats instead of re-scanning.

        Stats are collected as OBSERVED metrics of the write job itself
        (``Dataset.observe``, r16 guide §1.2 "fewer passes"): the old
        shape re-read every freshly written segment in a separate stats
        job — a full extra pass over the entire compaction/ingest output,
        which at 100 TB is a second 100 TB read. Per-bucket breakdown
        comes from conditional aggregates over the (epoch, bucket) ids,
        exact because ``repartitionByRange(n)`` yields partition ids
        0..n-1 and the dynamic-partition write lays files out by those
        same ids. Writes wider than ``OBSERVE_STATS_MAX_COMBOS`` buckets
        fall back to the readback job (the conditional-aggregate row
        would otherwise grow past what codegen handles well); the
        observed rows and the readback rows are field-for-field
        identical."""
        n = max(1, min(target_segments, 200))
        staging_id, staging = self.manifest.new_segment_path("data")
        part_cols = ["_bucket"]
        staged = (
            df.repartitionByRange(n, "key")
            .sortWithinPartitions("key")
            .withColumn("_bucket", F.spark_partition_id())
        )
        epochs: list = [None]
        if epoch_cut is not None:
            staged = staged.withColumn(
                "_epoch",
                F.when(F.col("seq") <= F.lit(int(epoch_cut)), F.lit(0)).otherwise(F.lit(1)),
            )
            part_cols = ["_epoch", "_bucket"]
            epochs = [0, 1]
        combos = [(e, b) for e in epochs for b in range(n)]
        extra = dict(extra_stats or {})

        def _write(frame: DataFrame) -> None:
            (
                frame.write.mode("overwrite")
                .partitionBy(*part_cols)
                .option("parquet.bloom.filter.enabled#key", "true")
                .parquet(staging)
            )

        if len(combos) <= self.OBSERVE_STATS_MAX_COMBOS:
            from pyspark.sql import Observation

            def _cond(e, b):
                c = F.col("_bucket") == F.lit(b)
                if e is not None:
                    c = c & (F.col("_epoch") == F.lit(e))
                return c

            base_stats = {
                "mn": lambda c: F.min(F.when(c, F.col("key"))),
                "mx": lambda c: F.max(F.when(c, F.col("key"))),
                "cnt": lambda c: F.count(F.when(c, F.lit(1))),
                "bytes": lambda c: F.sum(
                    F.when(c, F.coalesce(F.length("value"), F.lit(0)))
                ),
                "_mxseq": lambda c: F.max(F.when(c, F.col("seq"))),
                "_mnseq": lambda c: F.min(F.when(c, F.col("seq"))),
            }
            metrics = []
            for e, b in combos:
                c = _cond(e, b)
                for nm, mk in base_stats.items():
                    metrics.append(mk(c).alias(f"{nm}__{0 if e is None else e}__{b}"))
                for nm, expr in extra.items():
                    metrics.append(
                        F.sum(F.when(c, expr)).alias(f"{nm}__{0 if e is None else e}__{b}")
                    )
            obs = Observation(f"wrs-{staging_id}")
            _write(staged.observe(obs, *metrics))
            got = obs.get
            stats: list = []
            for e, b in combos:
                sfx = f"__{0 if e is None else e}__{b}"
                row = {nm: got[f"{nm}{sfx}"] for nm in base_stats}
                if not row["cnt"]:
                    continue  # empty bucket: no part file was written
                for nm in extra:
                    v = got[f"{nm}{sfx}"]
                    row[nm] = 0 if v is None else v
                row["_bucket"] = b
                if epoch_cut is not None:
                    row["_epoch"] = e
                stats.append(row)
        else:
            _write(staged)
            # Explicit schema: when df is empty (e.g. compacting a fully
            # tombstoned store) the dynamic-partition write produces no part
            # files, and schema inference on the staging dir would fail.
            extra_fields = [T.StructField("_bucket", T.IntegerType(), True)]
            if epoch_cut is not None:
                extra_fields.insert(0, T.StructField("_epoch", T.IntegerType(), True))
            readback_schema = T.StructType(list(self._schema.fields) + extra_fields)
            stats = (
                self.spark.read.schema(readback_schema).parquet(staging)
                .groupBy(*part_cols)
                .agg(
                    F.min("key").alias("mn"),
                    F.max("key").alias("mx"),
                    F.count("*").alias("cnt"),
                    F.sum(F.coalesce(F.length("value"), F.lit(0))).alias("bytes"),
                    F.max("seq").alias("_mxseq"),  # exact per-segment seq bound
                    F.min("seq").alias("_mnseq"),  # exact lower bound -> created_seq
                    *[F.sum(c).alias(nm) for nm, c in extra.items()],
                )
                .collect()
            )
        segs = []

        def _sort_key(r):
            mn = bytes(r["mn"]) if self.key_type == "binary" else r["mn"]
            return (r["_epoch"] if epoch_cut is not None else 0, mn)

        for r in sorted(stats, key=_sort_key):
            if epoch_cut is not None:
                e = r["_epoch"]
                seg_id = f"{staging_id}-e{e}-b{r['_bucket']}"
                path = f"{staging}/_epoch={e}/_bucket={r['_bucket']}"
            else:
                seg_id = f"{staging_id}-b{r['_bucket']}"
                path = f"{staging}/_bucket={r['_bucket']}"
            # exact per-bucket min(seq): the tightest TRUE lower bound —
            # never the carried participant stamp, which is unsound for
            # legacy (max_seq=None) inputs (ADVICE r6)
            seg_created = int(r["_mnseq"]) if r["_mnseq"] is not None else 0
            segs.append(
                SegmentInfo(
                    segment_id=seg_id,
                    kind="data",
                    level=level,
                    path=path,
                    min_key=self._enc(r["mn"]),
                    max_key=self._enc(r["mx"]),
                    row_count=r["cnt"],
                    size_bytes=int(r["bytes"] or 0),
                    created_seq=seg_created,
                    max_seq=int(r["_mxseq"]),
                    exact_min_seq=r["_mnseq"] is not None,
                    # one ranged write = one sorted run (tiered banding key)
                    run_id=staging_id,
                )
            )
        return segs, stats

    def _dropped_ptr_bytes(self, participants: list, merged_segs: list) -> dict:
        """Discard-stats accounting (A17, `kv/lsm/compact.go:314-335`): value
        pointers present in the compaction inputs but absent from the merged
        output are dead; their segment id and byte length are parsed straight
        out of the ValuePtr string, so this is O(participant pointer rows)
        with zero reads of the values table. Survivors come from the freshly
        WRITTEN segments (a column-pruned value_ptr scan), not the merge
        lineage — re-evaluating the merge plan here would run the whole
        max_by shuffle a second time. Returns values-segment-id -> newly
        dead bytes."""
        before = (
            self.raw_df(participants)
            .filter(F.col("value_ptr").isNotNull())
            .select("value_ptr")
        )
        survivors = (
            self.raw_df(merged_segs)
            .filter(F.col("value_ptr").isNotNull())
            .select("value_ptr")
        )
        parts = F.split(F.col("value_ptr"), ":")
        rows = (
            before.join(survivors, "value_ptr", "left_anti")
            .select(
                parts.getItem(0).alias("seg"),
                parts.getItem(2).cast("long").alias("nbytes"),
            )
            .filter(F.col("nbytes").isNotNull())  # tolerate legacy pointers
            .groupBy("seg")
            .agg(F.sum("nbytes").alias("nbytes"))
            .collect()
        )
        return {r["seg"]: int(r["nbytes"]) for r in rows}

    @staticmethod
    def _with_discard_updates(segments: list, drops: dict) -> list:
        if not drops:
            return segments
        # Pointers embed the segment id they were originally written to;
        # value-log rewrites (compact_values, GC) keep value_id stable but
        # retire that id, so route drops attributed to an absorbed id onto
        # the surviving segment via its alias set. A drop whose id matches
        # no live segment or alias belongs to a fully-collected segment —
        # nothing left to attribute.
        owner: dict = {}
        for s in segments:
            if s.kind != "values":
                continue
            owner[s.segment_id] = s.segment_id
            for a in s.aliases:
                owner.setdefault(a, s.segment_id)
        routed: dict = {}
        for seg_id, nbytes in drops.items():
            target = owner.get(seg_id)
            if target is not None:
                routed[target] = routed.get(target, 0) + nbytes
        out = []
        for s in segments:
            if s.kind == "values" and s.segment_id in routed:
                s = replace(s, discard_bytes=s.discard_bytes + routed[s.segment_id])
            out.append(s)
        return out

    def compaction_priorities(self) -> list:
        """Level scores, highest first — the pickCompactLevels scoring of
        `kv/lsm/compact.go:626-685`: L0 by file count / trigger, Ln by
        size / target where target = base * multiplier^(n-1)."""
        st = self.manifest.state
        by_level: dict = {}
        for s in st.data_segments():
            by_level.setdefault(s.level, []).append(s)
        out = []
        for level, segs in by_level.items():
            if level == 0:
                score = len(segs) / self.level0_trigger
            elif level == self.MAX_LEVEL:
                continue  # bottom level never self-selects
            else:
                target = self.base_level_bytes * (self.level_multiplier ** (level - 1))
                score = sum(s.size_bytes for s in segs) / max(target, 1)
            out.append((level, score))
        return sorted(out, key=lambda x: -x[1])

    def compact_level(self, src_level: int, now: int | None = None, target_segments: int = 4) -> None:
        """Merge all src-level segments with the key-overlapping segments of
        the next level into new next-level segments (doCompact,
        `kv/lsm/compact.go:124-168`). Keeps the newest version of each key
        among participants; never drops tombstones/expired here — a newer or
        older version may live in a non-participating level (the reference's
        overlap-below rule, `kv/lsm/compact.go:362-369`). Full cleanup
        happens in compact().

        Range tombstones ARE retired here, retention-aware, by the shared
        tail ``_rewrite_commit`` once no data segment outside the merge
        overlaps one (ADVICE r7 — without this, leveled-only
        maintenance grows the manifest list and every read's predicate
        chain without bound). A holder at seq >= rt.seq reads with the
        mask active anyway, so physically dropping covered rows changes
        nothing it can see, and its ``changes_since`` delta starts above
        rt.seq. Unregistered as-of readers below the tombstone's seq lose
        covered rows exactly as under full ``compact()``; hold the
        snapshot to keep it exact."""
        now = int(time.time()) if now is None else now
        state = self.manifest.state
        dst_level = min(src_level + 1, self.MAX_LEVEL)
        src = [s for s in state.data_segments() if s.level == src_level]
        if not src:
            return
        lo = min(s.min_key for s in src)
        hi = max(s.max_key for s in src)
        dst = [
            s
            for s in state.data_segments()
            if s.level == dst_level and not (s.max_key < lo or s.min_key > hi)
        ]
        participants = src + dst
        # Epoch split (manifest-metadata decision, no extra scan): when the
        # base (dst) rows dominate the delta (src) by EPOCH_SPLIT_RATIO and
        # the delta actually carries newer seqs, split the output at the
        # base's exact max_seq so later changefeeds prune the merged base
        # instead of rescanning it. Requires exact stats on every dst
        # segment (legacy max_seq=None can't prove the cut).
        cut = None
        if dst and all(s.max_seq is not None for s in dst):
            base_max = max(s.max_seq for s in dst)
            src_newer = any(s.max_seq is None or s.max_seq > base_max for s in src)
            dst_rows = sum(s.row_count for s in dst)
            src_rows = sum(s.row_count for s in src)
            if src_newer and dst_rows >= self.EPOCH_SPLIT_RATIO * max(src_rows, 1):
                cut = base_max
        self._rewrite_commit(
            participants, self._retained_df(participants), dst_level,
            target_segments, epoch_cut=cut,
        )

    def _rewrite_commit(
        self,
        participants: list,
        merged: DataFrame,
        dst_level: int,
        target_segments: int,
        epoch_cut: int | None = None,
        probes: dict | None = None,
    ) -> None:
        """THE compaction tail (doCompact, `kv/lsm/compact.go:124-168`):
        replace ``participants`` with ``merged`` written as ranged
        ``dst_level`` segments, in one manifest commit. ``compact``,
        ``compact_range``, ``compact_level`` and ``compact_tier`` all end
        here; each decides only which segments take part, the merged frame
        (version retention, its dead-row rule, ``drop_where``) and the
        destination level. The tail owns the rest:

        - a clearable range tombstone (no held snapshot below its seq:
          ``rt.seq <= oldest_held_seq()``; no holds = all clearable) is
          applied physically to the output when every data segment outside
          the compaction that overlaps its key range holds only rows it
          masks anyway (``max_seq <= rt.seq``). Reads pick the newest row
          by (version, seq) and only then mask it, so dropping a masked
          newest row must not expose an unmasked one — a lower-version row
          written after the tombstone in an untouched segment would be. It
          leaves the manifest when no data segment outside the compaction
          overlaps its range at all; a full compaction keeps none and
          clears every clearable tombstone. The rest stay listed and are
          masked at read time;
        - value pointers present in the participants but absent from the
          output are routed as discard stats onto their values segments;
        - ``probes``: manifest flag name -> row-level 0/1 Column, counted
          by the write itself; each flag is committed as whether any
          written row counts (the verifying probes of a full compaction).

        created_seq on each output is the exact per-segment min(seq)
        (stamped inside ``_write_ranged_segments``), so as-of pruning stays
        both tight and sound across merges of legacy segments."""
        state = self.manifest.state
        part_ids = {s.segment_id for s in participants}
        kept = [s for s in state.segments if s.segment_id not in part_ids]
        kept_data = [s for s in kept if s.kind == "data"]
        rts = state.range_tombstones
        min_held = self.oldest_held_seq()
        applied, cleared = [], []
        for rt in rts:
            if min_held is not None and int(rt["seq"]) > min_held:
                continue
            near = self.manifest.prune_for_range(rt.get("start"), rt.get("end"), kept_data)
            if all(s.max_seq is not None and s.max_seq <= int(rt["seq"]) for s in near):
                applied.append(rt)
                if not near:
                    cleared.append(rt)
        rt_mask = self._rt_mask(applied, None)
        if rt_mask is not None:
            merged = merged.filter(rt_mask)
        new_segs, rows = self._write_ranged_segments(
            merged, dst_level, target_segments, extra_stats=probes, epoch_cut=epoch_cut
        )
        drops = self._dropped_ptr_bytes(participants, new_segs)
        self.manifest.commit(
            segments=self._with_discard_updates(kept, drops) + new_segs,
            compacted_bytes=state.compacted_bytes
            + sum(s.size_bytes for s in new_segs),
            range_tombstones=[rt for rt in rts if rt not in cleared],
            **{f: any(int(r[f] or 0) for r in rows) for f in probes or {}},
        )

    @staticmethod
    def _compact_rounds(scores, merge, max_rounds: int) -> int:
        """THE maintenance round loop (runCompacter, `kv/lsm/compact.go:65-85`)
        shared by every policy: while ``scores()`` (ranked highest first)
        holds a pick scoring >= 1.0, ``merge`` the top one, at most
        ``max_rounds`` times. Returns rounds executed."""
        rounds = 0
        for _ in range(max_rounds):
            ready = [pick for pick, sc in scores() if sc >= 1.0]
            if not ready:
                break
            merge(ready[0])
            rounds += 1
        return rounds

    # Size-tiered banding (Cassandra STCS convention): a segment joins the
    # current bucket while within [0.5x, 1.5x] of the bucket's running
    # average size; a bucket compacts when it holds >= min_threshold runs.
    TIER_LOW, TIER_HIGH = 0.5, 1.5
    TIER_MIN_THRESHOLD = 4

    def tiered_buckets(
        self, min_threshold: int | None = None, segments: list | None = None
    ) -> list:
        """Size-tiered bucket scores — the STCS analog of
        `compaction_priorities` (no reference counterpart: the reference's
        LSM is leveled-only, `kv/lsm/compact.go:626-685`; size-tiering is
        the public Cassandra/RocksDB universal-compaction strategy).

        The banding unit is the sorted RUN, not the file: segments
        written by one ranged write share a ``run_id``, and a run's size
        is its segments' total — otherwise a merge's own multi-file
        output would re-form a triggering bucket and re-compact itself
        forever (exactly what the first bench of this policy measured:
        write-amp 24). Runs sorted by size are banded into buckets of
        similar size; score = runs-in-bucket / min_threshold, so a
        bucket triggers exactly when enough same-tier runs have
        accumulated to amortize one merge into the next tier. Returns
        [(bucket_segments_flat, score)], highest first.

        ``segments`` bands only those segments (default: every data
        segment) — see ``tiered_buckets_for_range``."""
        mt = self.TIER_MIN_THRESHOLD if min_threshold is None else min_threshold
        if segments is None:
            segments = self.manifest.state.data_segments()
        runs: dict = {}
        for s in segments:
            runs.setdefault(s.run_id or s.segment_id, []).append(s)
        sized = sorted(
            ((sum(x.size_bytes for x in ss), ss) for ss in runs.values()),
            key=lambda t: t[0],  # size only — equal-size runs must not
            # fall through to comparing SegmentInfo objects
        )
        buckets: list = []  # [running_avg, [run, ...]]
        for size, ss in sized:
            if buckets:
                avg, members = buckets[-1]
                if self.TIER_LOW * avg <= size <= self.TIER_HIGH * avg:
                    members.append(ss)
                    buckets[-1][0] = avg + (size - avg) / len(members)
                    continue
            buckets.append([float(size), [ss]])
        out = [
            ([seg for run in members for seg in run], len(members) / mt)
            for _avg, members in buckets
        ]
        return sorted(out, key=lambda x: -x[1])

    def compact_tier(
        self, segments: list, now: int | None = None, target_segments: int = 4
    ) -> None:
        """Merge ONE size bucket of sorted runs into a single bigger run —
        the size-tiered merge. Participants are ONLY the bucket: no
        overlapping-base pull-in, so bytes rewritten per merge = bucket
        bytes and a key is rewritten ~log_T(N) times over its lifetime
        (vs leveled's multiplier-per-level cascade) — lower write-amp,
        bought with more coexisting overlapping runs per read until the
        next tier merge: the RUM trade a write-heavy workload wants.
        Output lands one level past the deepest participant purely as a
        generation marker (read correctness orders by seq, not level).
        Version retention and range-tombstone retirement are the shared
        `_rewrite_commit` discipline; epoch splitting stays a leveled-only
        optimization (tiered merges have no base/delta distinction).

        ``now`` is accepted for signature symmetry with the other
        maintenance entry points but is UNUSED: like `compact_level`,
        tiered merges never evaluate TTL or drop tombstones (a newer or
        older version may live in a non-participating run — the
        overlap-below rule); full cleanup is `compact()`'s job."""
        if not segments:
            return
        segments = list(segments)
        dst_level = min(max(s.level for s in segments) + 1, self.MAX_LEVEL)
        self._rewrite_commit(
            segments, self._retained_df(segments), dst_level, target_segments
        )

    def auto_compact_tiered(
        self,
        now: int | None = None,
        max_rounds: int = 8,
        min_threshold: int | None = None,
    ) -> int:
        """Run size-tiered merges while any bucket's score >= 1.0 — the
        STCS counterpart of `auto_compact`. Returns rounds executed."""
        return self._compact_rounds(
            lambda: self.tiered_buckets(min_threshold),
            lambda bucket: self.compact_tier(bucket, now=now),
            max_rounds,
        )

    def auto_compact(self, now: int | None = None, max_rounds: int = 8) -> int:
        """Run compactions under the store's configured policy while any
        level/bucket scores >= 1.0 — the runCompacter loop
        (`kv/lsm/compact.go:65-85`) as an on-demand maintenance job;
        ``compaction_style='tiered'`` swaps in the STCS scoring. Returns
        rounds executed."""
        if self.compaction_style == "tiered":
            return self.auto_compact_tiered(now=now, max_rounds=max_rounds)
        return self._compact_rounds(
            self.compaction_priorities,
            lambda level: self.compact_level(level, now=now),
            max_rounds,
        )

    def tiered_buckets_for_range(
        self, start, end, min_threshold: int | None = None
    ) -> list:
        """`tiered_buckets` restricted to one key range: band only the
        RUNS whose segments overlap [start, end) (per the manifest's
        min/max pruning), sizing each run by its overlapping segments'
        bytes. This is what lets STCS banding apply to ONE column
        family's slice of the shared segment files — no per-CF segment
        families needed; a run with no overlap never participates, so
        cold families are untouched by a hot family's merges."""
        return self.tiered_buckets(
            min_threshold, self.manifest.prune_for_range(self._enc(start), self._enc(end))
        )

    def compact_cf(
        self,
        name: str,
        now: int | None = None,
        max_rounds: int = 8,
        target_segments: int = 4,
    ) -> dict:
        """Per-column-family compaction under the FAMILY's recorded
        policy (RocksDB's per-CF compaction contract — VERDICT r12 #6),
        without per-CF segment files: families are reserved-prefix key
        ranges in shared segments, so the policy governs how the
        family's RANGE is maintained.

        - ``leveled``: one range-restricted full compaction
          (`compact_range` over the family's prefix range) — the
          family's keyspace collapses to merged bottom-level runs,
          in-range tombstones/expired rows drop (legal: every
          overlapping segment participates), cold families untouched.
        - ``tiered``: STCS rounds over the family's slice —
          `tiered_buckets_for_range` bands the overlapping runs by
          size, `compact_tier` merges ready buckets (no drops: a
          bucket is a SUBSET of the range's runs, so other runs may
          hold newer/older versions — the overlap-below rule; full
          cleanup stays `compact_range`/`compact()`'s job).

        Both policies retire range tombstones by the shared rule of
        `_rewrite_commit`.

        A participating segment may carry other families' rows; they are
        merged, never dropped — the documented cost of the shared-segment
        layout, bounded because range-partitioned segment splits localize
        each family's mass to its own segments as data grows."""
        style = self.cf_compaction_style(name)
        start, end = self._cf_range(name)
        if style == "leveled":
            n = self.compact_range(
                start, end, now=now, target_segments=target_segments
            )
            return {"policy": "leveled", "participants": n, "rounds": 1 if n else 0}
        rounds = self._compact_rounds(
            lambda: self.tiered_buckets_for_range(start, end),
            lambda bucket: self.compact_tier(
                bucket, now=now, target_segments=target_segments
            ),
            max_rounds,
        )
        return {"policy": "tiered", "participants": None, "rounds": rounds}

    def maintenance_tick(
        self,
        now: int | None = None,
        discard_ratio: float = 0.5,
        max_rounds: int = 8,
    ) -> dict:
        """One full background-maintenance cycle — the reference's
        compacter tick + value-log GC ticker (`kv/lsm/compact.go:65-85`,
        `kv/vlog_gc.go:17-46`) as a single on-demand call: run leveled
        compactions while any level is over its trigger, then run
        ``gc_values``. With compaction-maintained discard stats the GC
        candidate check is manifest metadata only; on a store with value
        segments but no stats yet, GC takes its bootstrap exact-scan path
        (the correct price of having no stats — once any compaction or
        scan records stats, subsequent ticks are metadata-gated)."""
        rounds = self.auto_compact(now=now, max_rounds=max_rounds)
        # delegate candidate selection to gc_values itself: with stats it is
        # a metadata-only check (clean segments are never read); without
        # stats it takes its documented bootstrap exact-scan path — gating
        # here on discard_bytes alone would silently skip that path and
        # leave a never-compacted store's value-log garbage unreclaimed
        rewritten = (
            self.gc_values(discard_ratio=discard_ratio, now=now)
            if self.manifest.state.value_segments()
            else []
        )
        # after GC (dirty segments rewritten), bound the value-log file
        # count; merging first would dilute discard stats across segments
        merged = 0
        if len(self.manifest.state.value_segments()) > 2 * self.level0_trigger:
            merged = self.compact_values(target_segments=self.level0_trigger)
        return {
            "compaction_rounds": rounds,
            "gc_rewritten": rewritten,
            "value_segments_merged": merged,
        }

    def compact(
        self,
        now: int | None = None,
        target_segments: int = 4,
        drop_where=None,
        filter_merge_operands: bool = False,
    ) -> None:
        """Full-keyspace compaction: one merged, deduped, range-partitioned
        bottom-level run. Tombstones + expired rows are physically dropped —
        legal exactly because the whole keyspace participates (the
        reference's bottom-level rule, `kv/lsm/compact.go:336-370,904-909`).

        Snapshot-aware: registered holds (``hold_snapshot``) keep their
        boundary versions through the rewrite (``_retained_df``), so a
        held ``as_of`` read returns the same rows after a full compaction
        — the Badger minReadTs rule. Dead rows (tombstones / expired) are
        dropped only when nothing older survives beneath them: dropping a
        dead row that still shadows a retained older version would
        resurrect that version in the live view. Range tombstones follow
        the shared rule of ``_rewrite_commit`` — clearable ones (no held
        snapshot below their seq) apply physically and clear; held ones
        stay listed and their covered rows stay on disk.

        ``drop_where``: optional Column predicate — the RocksDB
        CompactionFilter analog: rows it matches are purged during this
        compaction as if deleted. Semantics: (a) snapshot-protected rows
        (visible to some registered hold) are NEVER filtered — the
        RocksDB rule; (b) a matching row with nothing retained beneath
        it is physically dropped; (c) a matching row that still shadows
        a retained older version is rewritten as a TOMBSTONE (the Del it
        implies), so the older version cannot resurrect in the live
        view. Like RocksDB, filter drops happen outside the CDC
        timeline: they stamp no new seq, so ``changes_since`` from a
        pre-compaction snapshot does not emit delete events for them —
        ship feeds before filtering, exactly the full-``compact``
        retention caveat.

        The predicate sees the RESOLVED value: for value-separated rows
        (payload in the values table, main-row ``value`` NULL) the
        ``value`` column is substituted with the joined payload before
        evaluation, exactly what a RocksDB filter is handed. A predicate
        evaluating to NULL counts as not-matching (rows are never purged
        on an unknown).

        ``filter_merge_operands``: by default merge operands are EXEMPT
        from ``drop_where`` (the RocksDB default — a filter that does not
        implement FilterMergeOperand is never handed operands, because
        dropping one silently changes every future fold). Pass True to
        opt in (the FilterMergeOperand analog): matching operand rows are
        purged — a clean drop, no tombstone rewrite, since an operand
        never shadows an older version; removing it only removes its
        delta from the fold chain. The snapshot rule still dominates:
        while ANY hold is registered, every operand is retained AND
        exempt (folding, and therefore filtering, never crosses a
        snapshot boundary — release holds first). A compact that purges
        the last live operands clears the manifest flag via the standard
        verifying probe."""
        now = int(time.time()) if now is None else now
        state = self.manifest.state
        old = state.data_segments()
        if not old:
            return
        held = self.oldest_held_seq() is not None
        merged = self._retained_df(old, with_protected=drop_where is not None)
        dead_nat = self._dead(now)
        if drop_where is not None:
            # the filter sees the RESOLVED value (RocksDB hands the
            # filter the value, not a pointer): temporarily substitute
            # separated payloads into the value column, evaluate ONCE per
            # row, then restore — the written rows keep their original
            # value/value_ptr layout
            merged = self._resolve_values(
                merged.withColumn("_orig_value", F.col("value")),
                state.value_segments(),
            )
            # NULL-evaluating predicates count as NOT matching: without
            # the coalesce, dead = dead_nat | NULL stays NULL and both
            # _drop_dead_rows paths would treat the row as dead —
            # silently purging rows the filter never matched
            exempt = F.col("_protected")
            if filter_merge_operands and not held:
                # FilterMergeOperand opt-in: operands lose the blanket
                # exemption ONLY when no snapshot is registered (under
                # holds all operands are hold-retained and _protected
                # stays authoritative — filtering never crosses a
                # snapshot boundary)
                exempt = exempt & ~self._is_operand()
            merged = merged.withColumn(
                "_elig",
                F.coalesce(drop_where, F.lit(False)) & ~exempt & ~dead_nat,
            ).withColumn("value", F.col("_orig_value"))
            dead = dead_nat | F.col("_elig")
        else:
            dead = dead_nat
        merged = self._drop_dead_rows(merged, dead, held)
        if drop_where is not None:
            # surviving filtered rows still shadow retained older
            # versions — rewrite them as tombstones, never as live values
            merged = (
                merged.withColumn(
                    "value",
                    F.when(F.col("_elig"), F.lit(None).cast("binary")).otherwise(
                        F.col("value")
                    ),
                )
                .withColumn(
                    "value_ptr",
                    F.when(F.col("_elig"), F.lit(None).cast("string")).otherwise(
                        F.col("value_ptr")
                    ),
                )
                .withColumn(
                    "meta",
                    F.when(F.col("_elig"), F.lit(BIT_DELETE)).otherwise(
                        F.col("meta")
                    ),
                )
                .select(*[f.name for f in self._schema.fields])
            )
        # Flag-maintenance probes ride the write's own observed stats (r16,
        # guide §1.2): full compaction is the ONE place the whole keyspace
        # is rewritten, so counting surviving merge-operand rows and
        # reserved-prefix (CF) rows during the write verifies both flags
        # without re-reading the fresh output. has_merge_operands clears
        # when no operand rows survive (they do while un-folded or
        # hold-retained), restoring the non-merge plans and re-enabling the
        # changefeed; column_families_ever (the same verifying-probe
        # contract) clears when, with the catalog empty, no reserved-prefix
        # rows survive.
        probes: dict = {}
        if state.has_merge_operands:
            probes["has_merge_operands"] = self._is_operand().cast("long")
        if state.column_families_ever and not state.column_families:
            probes["column_families_ever"] = self._reserved_key().cast("long")
        self._rewrite_commit(
            old, merged, self.MAX_LEVEL, target_segments, probes=probes
        )

    def clone_to(
        self,
        dest_root: str,
        at_version: int | None = None,
        hardlink: bool = False,
    ) -> "KVStore":
        """Portable snapshot: copy one committed manifest version and
        exactly the segment files it references into ``dest_root`` — a
        consistent, independent backup/branch of the store (writes to
        either side never affect the other). Defaults to the current
        version; pass ``at_version`` to branch from a historical state.
        Copy cost is proportional to live segment bytes of that version
        only, not to history.

        ``hardlink=True`` is the RocksDB ``Checkpoint`` mode: segment
        files are hard-linked instead of copied — a near-O(1) consistent
        snapshot regardless of data size. Safe BECAUSE segments are
        immutable (writers create new files; maintenance only
        deregisters, and ``prune_versions`` unlinking a shared file just
        drops one name — the clone's inode survives). Same-filesystem
        only; a cross-device link error falls back to copying that file."""
        import shutil

        def _place(src: str, dst: str) -> None:
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            if hardlink:
                try:
                    os.link(src, dst)
                    return
                except OSError:  # EXDEV / FS without hardlinks: degrade
                    pass
            shutil.copy2(src, dst)

        state = (
            self.manifest.load_version(at_version)
            if at_version is not None
            else self.manifest.state
        )
        os.makedirs(os.path.join(dest_root, "segments"), exist_ok=True)
        new_segments = []
        for s in state.segments:
            rel = os.path.relpath(s.path, os.path.join(self.root, "segments"))
            dest_path = os.path.join(dest_root, "segments", rel)
            if not os.path.exists(dest_path):
                if os.path.isdir(s.path):
                    for dirpath, _, files in os.walk(s.path):
                        for fname in files:
                            src = os.path.join(dirpath, fname)
                            _place(
                                src,
                                os.path.join(
                                    dest_path, os.path.relpath(src, s.path)
                                ),
                            )
                else:
                    _place(s.path, dest_path)
            new_segments.append(replace(s, path=dest_path))
        clone = KVStore(
            self.spark,
            dest_root,
            value_threshold=self.value_threshold,
            level0_trigger=self.level0_trigger,
            base_level_bytes=self.base_level_bytes,
            level_multiplier=self.level_multiplier,
            key_type=self.key_type,
            merge_op=self.merge_op,
        )
        # every field of the source state carries over — tombstones, holds,
        # flags, epoch and CF catalog are all part of the table — with the
        # segments relocated; the clone's own version numbering restarts
        try:
            clone.manifest.commit(
                **{
                    f.name: getattr(state, f.name)
                    for f in fields(ManifestState)
                    if f.name not in ("version", "segments")
                },
                segments=new_segments,
            )
        except BaseException:
            clone.close()  # a failed clone must not keep dest_root locked
            raise
        return clone

    def prune_history(self, keep_versions: int = 2) -> dict:
        """Bound space amplification: drop manifest versions older than the
        newest ``keep_versions`` and physically delete segment files no
        retained version references (superseded compaction inputs, GC'd
        value segments, staging leftovers). Invalidates time travel past
        the horizon — the explicit retention trade. Single-writer only."""
        self.uncache_view()
        return self.manifest.prune_versions(keep_last=keep_versions)

    def compact_range(
        self,
        start=None,
        end=None,
        now: int | None = None,
        target_segments: int = 4,
    ) -> int:
        """Range-restricted full compaction — merge only the segments whose
        key interval overlaps [start, end) into bottom-level runs, leaving
        the rest of the store untouched. The 100 TB hot-range maintenance
        primitive: a skewed write range is re-sorted and deduped without
        rewriting cold data.

        Correctness of the drop rule: a key inside [start, end) can only
        live in segments overlapping the range, so every version of it
        participates and its tombstones/expired rows may be dropped.
        Participant rows OUTSIDE the range may have newer or older versions
        in non-participating segments, so they are merged (newest among
        participants) but never dropped — the global max_by read path
        resolves them as usual. Returns the number of participant segments.

        Snapshot-aware like compact/compact_level: held boundary versions
        ride `_retained_df` through the rewrite, and in-range dead rows
        are dropped only when nothing retained survives beneath them.
        Range tombstones follow the shared rule of `_rewrite_commit`:
        a clearable tombstone is applied to the output unless a segment
        outside the compaction may hold a newer row in its range, and leaves
        the manifest when no segment outside the compaction overlaps that
        range (one inside [start, end) always qualifies)."""
        now = int(time.time()) if now is None else now
        participants = self.manifest.prune_for_range(self._enc(start), self._enc(end))
        if not participants:
            return 0
        in_range = F.lit(True)
        if start is not None:
            in_range = in_range & (F.col("key") >= F.lit(start))
        if end is not None:
            in_range = in_range & (F.col("key") < F.lit(end))
        merged = self._drop_dead_rows(
            self._retained_df(participants),
            in_range & self._dead(now),
            self.oldest_held_seq() is not None,
        )
        self._rewrite_commit(participants, merged, self.MAX_LEVEL, target_segments)
        return len(participants)

    def compact_values(self, target_segments: int = 4) -> int:
        """Merge the value-log's many small segments (one lands per write
        batch) into ``target_segments`` files — pure file-count hygiene:
        value_id is the read path's join key, so pointers stay valid across
        the rewrite. Skipped when already at or under the target. Carried
        discard stats are summed, and the merged segment records every
        absorbed id in ``aliases`` so future drops attributed to pre-merge
        segment ids (pointers embed the id they were written to) keep
        landing on it. Returns the number of segments merged, 0 if nothing
        to do."""
        state = self.manifest.state
        vsegs = state.value_segments()
        if len(vsegs) <= target_segments:
            return 0
        merged = self._read_segments(vsegs, VALUES_SCHEMA)
        new_id, new_path = self.manifest.new_segment_path("values")
        # manifest stats observed during the rewrite itself (r16, guide
        # §1.2) — the old shape re-read the whole merged value log (a
        # second full pass over every separated payload) just to count it
        from pyspark.sql import Observation

        obs = Observation(f"cv-{new_id}")
        (
            merged.repartition(max(1, target_segments))
            .observe(
                obs,
                F.count(F.lit(1)).alias("cnt"),
                F.sum(F.length("big_value")).alias("bytes"),
            )
            .write.mode("overwrite")
            .parquet(new_path)
        )
        stats = obs.get
        new_seg = SegmentInfo(
            segment_id=new_id,
            kind="values",
            level=0,
            path=new_path,
            min_key=None,
            max_key=None,
            row_count=int(stats["cnt"]),
            size_bytes=int(stats["bytes"] or 0),
            created_seq=min(s.created_seq for s in vsegs),
            total_value_bytes=int(stats["bytes"] or 0),
            discard_bytes=sum(s.discard_bytes for s in vsegs),
            aliases=sorted({a for s in vsegs for a in (*s.aliases, s.segment_id)}),
        )
        self.manifest.commit(
            segments=[s for s in state.segments if s.kind != "values"] + [new_seg]
        )
        return len(vsegs)

    def gc_values(self, discard_ratio: float = 0.5, now: int | None = None) -> list:
        """Value-log GC (`kv/vlog_gc.go`): candidate segments are selected
        from the incremental discard stats that compaction maintains
        (`SegmentInfo.discard_bytes`, the reference's discard-stats pick,
        `kv/vlog.go:625-679`) — clean segments are never scanned. Candidates
        are then verified with exact (not sampled) liveness via anti-join
        against the live pointer set, and rewritten live-rows-only when the
        garbage ratio holds up. When no stats exist yet (store never
        compacted), every segment is a candidate — the exact-scan bootstrap
        path. Returns the list of rewritten segment ids."""
        state = self.manifest.state
        vsegs = state.value_segments()
        if not vsegs:
            return []
        have_stats = any(s.discard_bytes > 0 for s in vsegs)
        if have_stats:
            candidates = {
                s.segment_id
                for s in vsegs
                if s.discard_bytes / max(s.total_value_bytes, 1) >= discard_ratio
            }
            if not candidates:
                return []
        else:
            candidates = {s.segment_id for s in vsegs}
        # The live-pointer set requires a full merge of the data segments;
        # cache it ONCE — both the liveness agg and the rewrite below are
        # separate actions, and without the cache each would re-run the
        # whole latest_df() merge.
        live_ptrs = (
            # retained (not merely newest) rows: a held snapshot's boundary
            # version keeps its separated payload through GC, matching the
            # data-side retention in compact/compact_level
            self._retained_df()
            .filter(F.col("value_ptr").isNotNull())
            .filter(~self._expired(int(time.time()) if now is None else now))
            .select(F.col("value_ptr").alias("value_id"))
            .cache()
        )
        # Everything touching the cached frame sits in try/finally so an
        # exception in the liveness collect or the rewrite write cannot
        # leak the cached pointer set in executor memory (ADVICE r4).
        try:
            # Broadcast the pointer set only while the manifest says it's small:
            # pointers are ~40-byte strings, but at billions of separated values
            # the set is multi-GB — forcing it onto every executor is the same
            # OOM class as broadcasting the values table. Separated-value count
            # is bounded by the value segments' row totals (exact metadata).
            ptr_est_bytes = sum(s.row_count for s in vsegs) * 64
            ptr_side = (
                F.broadcast(live_ptrs)
                if ptr_est_bytes <= self.BROADCAST_MAX_BYTES
                else live_ptrs
            )
            # Batched verification: ONE job computes exact per-segment liveness
            # for every candidate (per-segment sequential jobs would make GC
            # latency O(candidate count) — a real problem when stats flag many
            # segments at once). The segment tag is a literal per input frame,
            # so the union stays a parallel file scan with no shuffle; the
            # semi-join side is the (size-gated) live-pointer set.
            cand = [s for s in vsegs if s.segment_id in candidates]
            from functools import reduce as _reduce

            tagged = _reduce(
                DataFrame.unionByName,
                [
                    self.spark.read.schema(VALUES_SCHEMA)
                    .parquet(s.path)
                    .withColumn("__seg", F.lit(s.segment_id))
                    for s in cand
                ],
            )
            live_stats = {
                r["__seg"]: (r["cnt"], int(r["bytes"] or 0))
                for r in (
                    tagged.join(ptr_side, "value_id", "left_semi")
                    .groupBy("__seg")
                    .agg(
                        F.count("*").alias("cnt"),
                        F.sum(F.length("big_value")).alias("bytes"),
                    )
                    .collect()
                )
            }
            rewritten = []
            stats_refined = False
            to_rewrite: list = []  # segments with surviving rows to rewrite
            new_segments = [s for s in state.segments if s.kind != "values"]
            for seg in vsegs:
                if seg.segment_id not in candidates:
                    new_segments.append(seg)  # clean per stats: never scanned
                    continue
                live_cnt, live_bytes = live_stats.get(seg.segment_id, (0, 0))
                total = max(seg.total_value_bytes, 1)
                garbage_ratio = 1.0 - live_bytes / total
                if garbage_ratio >= discard_ratio and live_cnt < seg.row_count:
                    if live_cnt > 0:
                        to_rewrite.append((seg, live_cnt, live_bytes))
                    rewritten.append(seg.segment_id)
                else:
                    # exact scan disagreed with (or refined) the stats — record
                    # the measured dead bytes so the next pick is sharper
                    refined = max(seg.total_value_bytes - live_bytes, 0)
                    if refined != seg.discard_bytes:
                        stats_refined = True
                    new_segments.append(replace(seg, discard_bytes=refined))
            if to_rewrite:
                # ONE dynamic-partition write rewrites every dirty segment's
                # surviving rows; each __seg= subdir becomes its own segment so
                # per-segment accounting (and future per-segment GC) survives.
                staging_id, staging = self.manifest.new_segment_path("values")
                ids = [seg.segment_id for seg, _, _ in to_rewrite]
                (
                    tagged.filter(F.col("__seg").isin(ids))
                    .join(ptr_side, "value_id", "left_semi")
                    .write.mode("overwrite")
                    .partitionBy("__seg")
                    .parquet(staging)
                )
                for seg, live_cnt, live_bytes in to_rewrite:
                    new_segments.append(
                        SegmentInfo(
                            segment_id=f"{staging_id}-{seg.segment_id}",
                            kind="values",
                            level=0,
                            path=f"{staging}/__seg={seg.segment_id}",
                            min_key=None,
                            max_key=None,
                            row_count=live_cnt,
                            size_bytes=live_bytes,
                            created_seq=seg.created_seq,
                            total_value_bytes=live_bytes,
                            aliases=sorted({*seg.aliases, seg.segment_id}),
                        )
                    )
        finally:
            live_ptrs.unpersist()
        if rewritten or stats_refined:
            # committing refinements matters even with no rewrites: without
            # them the next bootstrap-mode call re-scans every clean segment
            self.manifest.commit(segments=new_segments)
        return rewritten
