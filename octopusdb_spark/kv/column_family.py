"""Column-family handle: a namespaced keyspace inside one ``KVStore``.

RocksDB-CF semantics over the store's flat key range (the reference is a
single-keyspace KV, `kv/db.go:19-26` — this is a beyond-reference
extension): a family's keys are encoded under the reserved
``\\x02<name>\\x1f`` prefix, so each family is one CONTIGUOUS key range in
the shared segment files. Everything heavy is therefore shared and already
tested — flush, leveled compaction, value separation, bloom pruning, CDC
shipping, clone/branch — while per-family operations stay cheap:

- per-CF scans are ordinary pruned range scans (manifest min/max interval
  search hits only the family's segments);
- ``KVStore.drop_cf`` is ONE manifest commit (catalog remove + one range
  tombstone over the prefix) — O(1) regardless of the family's row count,
  exactly the ``delete_range`` scale story;
- recreate-after-drop yields an empty family (old rows sit at/below the
  drop tombstone's seq stamp, new writes land above it).

Handles re-check the catalog on every operation, so a handle held across
a ``drop_cf`` fails fast instead of writing into a dropped range.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from octopusdb_spark.kv.store import Entry


class ColumnFamily:
    """Namespace-scoped facade over a ``KVStore`` (see module docstring).
    Obtained via ``KVStore.create_cf`` / ``KVStore.cf``; not constructed
    directly."""

    def __init__(self, store, name: str):
        self.store = store
        self.name = str(name)
        self._prefix = store._cf_prefix(self.name)

    # -- key codec -----------------------------------------------------------
    def _check(self) -> None:
        if self.name not in self.store.manifest.state.column_families:
            raise ValueError(
                f"column family {self.name!r} was dropped (stale handle)"
            )

    def _k(self, key):
        if self.store.key_type == "binary":
            return self._prefix + bytes(key)
        return self._prefix + key

    def _strip(self, key):
        return key[len(self._prefix):]

    def _strip_col(self):
        # substring is 1-indexed and works on BOTH string and binary columns
        return F.expr(f"substring(key, {len(self._prefix) + 1})").alias("key")

    # -- writes (all delegate to the shared store write path) ----------------
    def set(self, entry: Entry) -> None:
        self.set_batch([entry])

    def delete(self, key) -> None:
        self.set_batch([Entry(key, None)])

    def merge(self, key, operand: bytes) -> None:
        self.set_batch([Entry(key, operand, merge=True)])

    def set_batch(self, entries: list) -> None:
        self._check()
        self.store.set_batch(
            [
                Entry(
                    key=self._k(e.key),
                    value=e.value,
                    expires_at=e.expires_at,
                    version=e.version,
                    merge=e.merge,
                )
                for e in entries
            ],
            _allow_reserved=True,  # keys are deliberately \x02-encoded here
            # the FAMILY's separation threshold governs its writes
            # (RocksDB per-CF blob options, r14)
            value_threshold=self.value_threshold,
        )

    def ingest_df(self, df: DataFrame, key_col: str = "key", **kwargs) -> int:
        """Bulk load into this family: the ``key_col`` column is prefixed
        in-plan (one concat in whole-stage codegen) and the frame rides the
        store's distributed ranged ingest untouched — same write
        amplification, same manifest commit."""
        self._check()
        lit = (
            F.lit(bytes(self._prefix))
            if self.store.key_type == "binary"
            else F.lit(self._prefix)
        )
        out = df.withColumn(key_col, F.concat(lit, F.col(key_col)))
        kwargs.setdefault("value_threshold", self.value_threshold)
        return self.store.ingest_df(
            out, key_col=key_col, _allow_reserved=True, **kwargs
        )

    def delete_range(self, start=None, end=None, prefix=None) -> int:
        """Range tombstone WITHIN the family (bounds in user key space)."""
        self._check()
        if prefix is not None:
            if start is not None or end is not None:
                raise ValueError("pass either prefix or start/end, not both")
            # the encoded prefix's upper bound is computed by the store's
            # delete_range itself (increment-with-carry on the full key)
            return self.store.delete_range(prefix=self._k(prefix))
        if start is None and end is None:
            # the whole family: exactly drop_cf's tombstone, minus the
            # catalog edit (the family stays usable)
            return self.store.delete_range(prefix=self._prefix)
        lo = self._k(start) if start is not None else self._prefix
        hi = self._k(end) if end is not None else self._range_end()
        return self.store.delete_range(start=lo, end=hi)

    def _range_end(self):
        return self.store._cf_range(self.name)[1]

    def changes_since(self, snapshot_seq: int, **kwargs) -> DataFrame:
        """This family's scoped changefeed (keys stay ENCODED for
        store-to-store transport); see KVStore.changes_since(cf=)."""
        self._check()
        return self.store.changes_since(snapshot_seq, cf=self.name, **kwargs)

    # -- maintenance / stats ---------------------------------------------------
    def compact(self, now: int | None = None, target_segments: int = 4) -> int:
        """Range-restricted compaction over ONLY this family's key range
        (RocksDB per-CF CompactRange): the family's segments merge into
        sorted bottom-level runs; sibling namespaces' cold data is not
        rewritten. Returns segments rewritten (see KVStore.compact_range).
        This is the explicit full-cleanup call regardless of the family's
        policy; POLICY-driven maintenance is ``auto_compact()``."""
        self._check()
        return self.store.compact_range(
            start=self._prefix,
            end=self._range_end(),
            now=now,
            target_segments=target_segments,
        )

    def auto_compact(self, now: int | None = None, max_rounds: int = 8) -> dict:
        """Maintenance under THIS family's recorded compaction policy
        (r13, RocksDB's per-CF compaction contract): leveled families run
        one range-restricted full compaction, tiered families run STCS
        rounds over their slice of the shared runs. See
        ``KVStore.compact_cf``."""
        self._check()
        return self.store.compact_cf(self.name, now=now, max_rounds=max_rounds)

    @property
    def compaction_style(self) -> str:
        """The family's effective policy (recorded override or store
        default)."""
        self._check()
        return self.store.cf_compaction_style(self.name)

    def fold_merges(self, now: int | None = None, **kwargs) -> int:
        """Physically fold THIS family's operands with ITS effective
        operator (``KVStore.fold_merges(cf=)``) — the maintenance path
        when sibling families (or the default namespace) use different
        operators and the store-wide fold refuses."""
        self._check()
        return self.store.fold_merges(now=now, cf=self.name, **kwargs)

    @property
    def value_threshold(self) -> int:
        """The family's effective value-separation threshold (r14,
        RocksDB per-CF blob options)."""
        self._check()
        return self.store.cf_value_threshold(self.name)

    @property
    def merge_op(self) -> str | None:
        """The family's effective merge operator — this family's reads
        fold with IT (None = operands hidden), independent of the store
        default and of sibling families."""
        self._check()
        return self.store.cf_merge_op(self.name)

    def approximate_size(self) -> dict:
        """Manifest-metadata size estimate for this family's key range —
        RocksDB GetApproximateSizes scoped to the CF; zero I/O, zero jobs.
        Coarse by the same whole-segment attribution as the store call
        (families sharing a segment both count it until compaction
        range-splits them apart)."""
        self._check()
        return self.store.approximate_sizes([(self._prefix, self._range_end())])[0]

    # -- reads ----------------------------------------------------------------
    def get(self, key, now: int | None = None, as_of: int | None = None):
        self._check()
        e = self.store.get(self._k(key), now=now, as_of=as_of, cf=self.name)
        return None if e is None else self._user_entry(e)

    def mget(self, keys: list, now: int | None = None, as_of: int | None = None) -> dict:
        self._check()
        got = self.store.mget(
            [self._k(k) for k in keys], now=now, as_of=as_of, cf=self.name
        )
        return {e.key: e for e in map(self._user_entry, got.values())}

    def _user_entry(self, e: Entry) -> Entry:
        """A store ``Entry`` with its key stripped back to user key space."""
        return replace(e, key=self._strip(e.key))

    def view(
        self, now: int | None = None, as_of: int | None = None
    ) -> DataFrame:
        """The family's live view with USER keys (prefix stripped)."""
        self._check()
        return self.store.view(now=now, as_of=as_of, cf=self.name).select(
            self._strip_col(), "value", "expires_at", "version", "seq"
        )

    def scan(
        self,
        prefix=None,
        start=None,
        end=None,
        asc: bool = True,
        now: int | None = None,
        as_of: int | None = None,
    ) -> DataFrame:
        """Ordered range scan within the family (bounds in user key space);
        manifest pruning sees the full encoded bounds, so only the
        family's segments are read. ``prefix`` composes with ``start``
        exactly like the store's scan (a pager advances ``start`` inside
        a prefix); without a prefix, missing bounds default to the
        family's edges so the scan can never leak into a sibling range."""
        self._check()
        kw: dict = {"now": now, "as_of": as_of, "cf": self.name, "asc": asc}
        p = self._k(prefix) if prefix is not None else None
        lo = self._k(start) if start is not None else None
        hi = self._k(end) if end is not None else None
        if p is None:
            lo = lo if lo is not None else self._prefix
            hi = hi if hi is not None else self._range_end()
        df = self.store.scan(prefix=p, start=lo, end=hi, **kw)
        # NO trailing orderBy (ADVICE r10): store.scan already returns rows
        # ordered by the encoded key, and stripping the fixed-length shared
        # prefix (a narrow projection) preserves that order — re-sorting
        # here would pay a redundant global sort/shuffle per CF scan.
        return df.select(
            self._strip_col(), "value", "expires_at", "version", "seq"
        )
