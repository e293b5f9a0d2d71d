"""OctopusDB facade — the reference's public API, method for method, so a
user of zach030/OctopusDB can switch engines without relearning the surface.

Reference API (`kv/db.go:19-26`): Set, Get, Del, NewIterator, Info, Close —
plus the batch path (`kv/db.go:191-222`), TTL entries
(`kv/utils/entry.go:77-80`), value-log GC (`kv/vlog_gc.go:17-46`), and the
graph-over-KV usage pattern of `kv/db_test.go:107-179` (JSON-encoded User
adjacency payloads), which gets first-class helpers here.

Differences by design (documented, not accidental):
- reads/scans are Spark jobs — batch-oriented latency, cluster-scale
  throughput;
- versions are real (monotonic per write) where the reference stamps a
  constant ts (`kv/db.go:78`, noted as a bug in SURVEY.md §2);
- Close() is a no-op beyond Spark session hygiene — durability is the
  manifest commit, not an open file handle.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from octopusdb_spark.kv.store import Entry, KVStore


class Iterator:
    """Materialized ordered scan — the DBIterator surface
    (`kv/iterator.go:19-79`): Rewind/Valid/Item/Next/Seek/Close over the
    already-deduped, tombstone/TTL-filtered live view."""

    def __init__(self, rows: list):
        self._rows = rows
        self._pos = 0

    def rewind(self) -> None:
        self._pos = 0

    def valid(self) -> bool:
        return self._pos < len(self._rows)

    def item(self) -> Entry:
        r = self._rows[self._pos]
        return Entry(
            key=r["key"],
            value=bytes(r["value"]) if r["value"] is not None else None,
            expires_at=r["expires_at"],
            version=r["version"],
        )

    def next(self) -> None:
        self._pos += 1

    def seek(self, key: str) -> None:
        """Position at the first entry >= key (working Seek — the
        reference's is an unimplemented stub, `kv/iterator.go:78-79`)."""
        lo, hi = 0, len(self._rows)
        while lo < hi:
            mid = (lo + hi) // 2
            if self._rows[mid]["key"] < key:
                lo = mid + 1
            else:
                hi = mid
        self._pos = lo

    def close(self) -> None:
        self._rows = []
        self._pos = 0


class OctopusDB:
    """Drop-in-shaped engine handle. All state lives in the KV store's
    manifest + Parquet segments; this class is a thin veneer."""

    def __init__(self, spark: SparkSession, work_dir: str, **kv_options):
        self.spark = spark
        self.kv = KVStore(spark, work_dir, **kv_options)
        self._closed = False

    # ------------------------------------------------------------- core API
    def set(self, key: str, value: bytes, ttl_seconds: int | None = None, now: int | None = None) -> None:
        e = Entry(key=key, value=value)
        if ttl_seconds is not None:
            e = e.with_ttl(ttl_seconds, now=now)
        self.kv.set(e)

    def set_batch(self, entries: list) -> None:
        self.kv.set_batch(entries)

    def ingest_df(self, df: DataFrame, **kwargs) -> int:
        """Distributed bulk load — data never touches the driver; see
        KVStore.ingest_df."""
        return self.kv.ingest_df(df, **kwargs)

    def get(self, key: str, now: int | None = None, as_of: int | None = None) -> bytes | None:
        e = self.kv.get(key, now=now, as_of=as_of)
        return None if e is None else e.value

    def mget(self, keys: list, now: int | None = None, as_of: int | None = None) -> dict:
        """Batched point read — one Spark job for N keys; see KVStore.mget."""
        return {k: e.value for k, e in self.kv.mget(keys, now=now, as_of=as_of).items()}

    def snapshot(self) -> int:
        """Current snapshot sequence — pass as ``as_of`` for repeatable
        point-in-time reads (versioned-key semantics, `kv/utils/key.go:32-37`).
        For pre-images that survive compaction, use ``snapshot_handle()``."""
        return self.kv.snapshot_seq()

    def snapshot_handle(self):
        """Durable snapshot handle ``(seq, manifest_version)`` — feed
        ``seq`` to ``changes_since`` / ``as_of`` and ``manifest_version``
        to ``changes_since(preimage_at_version=...)`` so ``old_value``
        stays exact across later compaction."""
        return self.kv.snapshot()

    def hold_snapshot(self, holder: str, seq: int | None = None) -> int:
        """Register a named snapshot hold so maintenance keeps the range
        tombstones (and their covered rows) this snapshot still needs —
        the handle a CDC consumer or long-lived as-of reader registers;
        see KVStore.hold_snapshot. Release with ``release_snapshot``."""
        return self.kv.hold_snapshot(holder, seq=seq)

    def release_snapshot(self, holder: str) -> None:
        self.kv.release_snapshot(holder)

    def delete_range(self, start=None, end=None, prefix=None) -> int:
        """Range tombstone (DeleteRange): one O(1) manifest commit hides
        every key in [start, end) / under ``prefix`` as of now; see
        KVStore.delete_range for snapshot/compaction/CDC semantics."""
        return self.kv.delete_range(start=start, end=end, prefix=prefix)

    def delete(self, key: str) -> None:
        self.kv.delete(key)

    def merge(self, key: str, operand: bytes) -> None:
        """Write-side merge (RocksDB ``Merge``): append a delta operand
        without a read-modify-write round trip. Open the DB with
        ``merge_op="add"`` / ``"append"`` to have reads fold; see
        KVStore.merge / fold_merges for semantics and maintenance."""
        self.kv.merge(key, operand)

    def merge_batch(self, items: list) -> None:
        self.kv.merge_batch(items)

    def fold_merges(self, now: int | None = None) -> int:
        """Physically fold accumulated merge operands into full values."""
        return self.kv.fold_merges(now=now)

    # -- column families (RocksDB CF analog) ---------------------------------
    def create_cf(self, name: str, exist_ok: bool = False):
        """Create a column family — an isolated key namespace sharing this
        store's segments/compaction/CDC; see KVStore.create_cf. Returns a
        ``ColumnFamily`` handle (set/get/mget/scan/view/merge/TTL/
        ingest_df/delete_range in user key space)."""
        return self.kv.create_cf(name, exist_ok=exist_ok)

    def cf(self, name: str):
        """Handle for an existing column family."""
        return self.kv.cf(name)

    def drop_cf(self, name: str) -> int:
        """Drop a family in ONE O(1) manifest commit; see KVStore.drop_cf."""
        return self.kv.drop_cf(name)

    def list_cfs(self) -> list:
        return self.kv.list_cfs()

    # -- failover fencing -----------------------------------------------------
    @property
    def writer_epoch(self) -> int:
        """Durable fencing token (Raft-term analog); see KVStore."""
        return self.kv.writer_epoch

    def promote(self, past_epoch: int | None = None) -> int:
        """Promote this store to primary after failover: bump the durable
        writer epoch so consumers refuse the deposed generation's feeds;
        see KVStore.promote."""
        return self.kv.promote(past_epoch=past_epoch)

    def changes_since(
        self,
        snapshot_seq: int,
        now: int | None = None,
        include_preimage: bool = False,
        preimage_at_version: int | None = None,
    ) -> DataFrame:
        """Changefeed (CDC): current state of every key written after
        ``snapshot_seq`` (take one with ``snapshot()``), as
        (key, change, value, expires_at[, old_value], version) — see
        KVStore.changes_since for pruning and retention semantics.
        Pass ``preimage_at_version`` (from ``snapshot_handle()``) to make
        pre-images durable across compaction."""
        return self.kv.changes_since(
            snapshot_seq,
            now=now,
            include_preimage=include_preimage,
            preimage_at_version=preimage_at_version,
        )

    def apply_changes(
        self,
        feed: DataFrame,
        commit_tag: tuple | None = None,
        source_epoch: int | None = None,
    ) -> int:
        """Apply another store's ``changes_since`` feed to this one —
        changefeed replication (ship + apply, idempotent per
        ``commit_tag``). Pass ``source_epoch`` (the shipper's
        ``writer_epoch``) for split-brain fencing; see
        KVStore.apply_changes."""
        return self.kv.apply_changes(
            feed, commit_tag=commit_tag, source_epoch=source_epoch
        )

    # Driver-side materialization cap for the facade iterator. The iterator
    # is API parity for small working sets; Spark-native code uses scan_df.
    ITERATOR_MAX_ROWS = 100_000

    def new_iterator(
        self,
        prefix: str | None = None,
        asc: bool = True,
        now: int | None = None,
        max_rows: int | None = None,
        cf: str | None = None,
    ) -> Iterator:
        """Materialized ordered iterator over the live view.

        Rows stream to the driver partition-at-a-time (``toLocalIterator``,
        not ``collect``) and materialization stops at ``max_rows`` (default
        ``ITERATOR_MAX_ROWS``) — a careless iterator over a huge store
        raises instead of OOM-ing the driver. Use ``scan_df`` for
        cluster-scale scans. ``cf`` iterates one column family in user
        key space (RocksDB NewIterator(cf_handle))."""
        cap = self.ITERATOR_MAX_ROWS if max_rows is None else max_rows
        src = self.kv if cf is None else self.kv.cf(cf)
        df = src.scan(prefix=prefix, asc=asc, now=now)
        rows = []
        for r in df.toLocalIterator(prefetchPartitions=True):
            if len(rows) >= cap:
                raise ValueError(
                    f"new_iterator scan exceeds max_rows={cap}; use scan_df() "
                    "for large scans or raise max_rows explicitly"
                )
            rows.append(r)
        return Iterator(rows)

    def scan_df(self, **kwargs) -> DataFrame:
        """The Spark-native scan — what new code should use instead of the
        materialized iterator."""
        return self.kv.scan(**kwargs)

    def approximate_sizes(self, ranges: list) -> list:
        """Manifest-metadata range size estimates (RocksDB
        GetApproximateSizes analog); see KVStore.approximate_sizes."""
        return self.kv.approximate_sizes(ranges)

    def info(self) -> dict:
        return self.kv.info()

    def pin(self, now: int | None = None):
        """Pinned read session: ``with db.pin(now=...):`` makes every
        ``get``/``mget``/``scan_df`` inside (at the pin's ``now``) read one
        shared cached live view, one Spark job per read, instead of
        replanning per call (see `KVStore.pin`). Writes inside the session
        invalidate the cache, and the next read rebuilds it."""
        return self.kv.pin(now=now)

    def run_value_log_gc(self, discard_ratio: float = 0.5, now: int | None = None) -> list:
        return self.kv.gc_values(discard_ratio=discard_ratio, now=now)

    def compact(self, now: int | None = None, drop_where=None) -> None:
        """Full compaction; ``drop_where`` (a Column predicate) is the
        RocksDB CompactionFilter analog — matching rows are purged unless
        a registered snapshot hold still sees them. See KVStore.compact."""
        self.kv.compact(now=now, drop_where=drop_where)

    def prune_history(self, keep_versions: int = 2) -> dict:
        """Retention sweep: bound time-travel depth and reclaim segment
        files no retained manifest references."""
        return self.kv.prune_history(keep_versions=keep_versions)

    def serve(self, host: str = "127.0.0.1", port: int = 0, now: int | None = None):
        """Remote point-read endpoint over this store (the reference's A24
        Get-RPC surface, `proto/proto/octopuspb.proto:6-21`):
        ``with db.serve(port=9000) as svc: ...`` binds on entry, answers
        get/mget/scan/info/ping as newline-JSON over TCP from the KV read
        path under a lifetime pinned view, and unbinds + unpins on exit.
        See `octopusdb_spark.service.KVService` for the protocol."""
        from octopusdb_spark.service.server import KVService

        return KVService(self, host=host, port=port, now=now)

    def clone_to(
        self,
        dest_root: str,
        at_version: int | None = None,
        hardlink: bool = False,
    ) -> "OctopusDB":
        """Consistent, independent backup/branch; ``hardlink=True`` is the
        RocksDB Checkpoint mode (near-O(1), same filesystem); see
        KVStore.clone_to."""
        cloned = self.kv.clone_to(
            dest_root, at_version=at_version, hardlink=hardlink
        )
        out = OctopusDB.__new__(OctopusDB)
        out.spark, out.kv, out._closed = self.spark, cloned, False
        return out

    def close(self) -> None:
        self.kv.close()  # releases the directory lock share
        self._closed = True

    # -------------------------------------------------- graph-over-KV layer
    USER_SCHEMA = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("name", T.StringType()),
            T.StructField("follower", T.ArrayType(T.StringType())),
            T.StructField("following", T.ArrayType(T.StringType())),
        ]
    )

    def put_user(self, user: dict) -> None:
        """Store a User as JSON under its id — `kv/db_test.go:107-143`."""
        self.kv.set(Entry(key=f"user:{user['id']}", value=json.dumps(user, sort_keys=True).encode()))

    def put_users(self, users: list) -> None:
        self.kv.set_batch(
            [
                Entry(key=f"user:{u['id']}", value=json.dumps(u, sort_keys=True).encode())
                for u in users
            ]
        )

    def get_user(self, user_id: str, now: int | None = None) -> dict | None:
        raw = self.get(f"user:{user_id}", now=now)
        return None if raw is None else json.loads(raw)

    def users_df(self, now: int | None = None) -> DataFrame:
        """Typed view over the JSON payloads: from_json on the live KV scan —
        the declarative form of TestUserInfoQuery (`kv/db_test.go:145-179`)."""
        live = self.kv.scan(prefix="user:", now=now)
        return live.select(
            F.from_json(F.col("value").cast("string"), self.USER_SCHEMA).alias("u")
        ).select("u.id", "u.name", "u.follower", "u.following")

    def follower_counts(self, now: int | None = None) -> DataFrame:
        return self.users_df(now=now).select(
            "id",
            F.size(F.coalesce("follower", F.array())).alias("n_followers"),
            F.size(F.coalesce("following", F.array())).alias("n_following"),
        )

    def mutual_follows(self, now: int | None = None) -> DataFrame:
        """Pairs following each other — explode + self-join over the
        adjacency arrays."""
        u = self.users_df(now=now)
        f = u.select("id", F.explode("following").alias("other"))
        rev = f.select(F.col("other").alias("id"), F.col("id").alias("other"))
        return (
            f.intersect(rev)
            .filter(F.col("id") < F.col("other"))
            .select(F.col("id").alias("a"), F.col("other").alias("b"))
        )
