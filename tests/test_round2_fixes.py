"""Round-2 hardening: GC vs snapshot reads, prefix-bound carry, manifest
commit race, and idempotent streaming ingest — the failure modes ADVICE.md
listed after round 1."""

from __future__ import annotations

import os

import pytest

from octopusdb_spark.kv import Entry, KVStore
from octopusdb_spark.kv.manifest import Manifest, ManifestConflictError, ManifestState
from octopusdb_spark.kv.store import _prefix_upper_bound

NOW = 2_000_000_000


@pytest.fixture()
def store(spark, tmp_path):
    return KVStore(spark, str(tmp_path / "kv"), value_threshold=64)


# ---------------------------------------------------------------- GC safety
def test_gc_after_snapshot_does_not_crash_reads(store):
    """A big value GC'd after a snapshot must not surface NULL values or
    crash get(); the snapshot horizon moves past the dangling pointer."""
    big_old = b"x" * 200
    store.set_batch([Entry("k", big_old), Entry("keep", b"small")])
    snap = store.snapshot_seq()
    # supersede the big value so the old values segment is pure garbage
    store.set_batch([Entry("k", b"y" * 200)])
    rewritten = store.gc_values(discard_ratio=0.1, now=NOW)
    assert rewritten, "old values segment should be rewritten/dropped"
    # current read still sees the new value
    assert store.get("k", now=NOW).value == b"y" * 200
    # snapshot read: the dangling-pointer row is filtered, not NULL/crash
    snap_rows = {r["key"]: r["value"] for r in store.view(now=NOW, as_of=snap).collect()}
    assert "keep" in snap_rows
    assert snap_rows.get("k") is None  # horizon moved past the GC'd payload
    assert store.get("k", now=NOW, as_of=snap) is None


# ------------------------------------------------------------- prefix bounds
def test_prefix_upper_bound_carry():
    assert _prefix_upper_bound("abc") == "abd"
    top = chr(0x10FFFF)
    assert _prefix_upper_bound("ab" + top) == "ac"
    assert _prefix_upper_bound("a" + top + top) == "b"
    assert _prefix_upper_bound(top * 3) is None


def test_scan_prefix_with_max_codepoint(store):
    top = chr(0x10FFFF)
    store.set_batch([Entry("p" + top + "1", b"a"), Entry("q0", b"b"), Entry(top, b"c")])
    got = [r["key"] for r in store.scan(prefix="p" + top, now=NOW).collect()]
    assert got == ["p" + top + "1"]
    got_all = [r["key"] for r in store.scan(prefix=top, now=NOW).collect()]
    assert got_all == [top]


# -------------------------------------------------------- manifest commit race
def test_manifest_commit_recovers_orphan_and_detects_conflict(tmp_path):
    """A crash between claiming manifest-{v}.json and swapping CURRENT
    leaves an orphan snapshot; the next commit must reclaim it (not wedge
    forever). A LIVE in-flight writer is identified by the flock it holds
    on _manifest/LOCK — not by file age — so a stalled writer can never
    have its claim stolen, and a dead writer's orphan (lock released by
    the OS) is reclaimed immediately."""
    import fcntl

    m = Manifest(str(tmp_path / "t"))
    m.commit(ManifestState(version=0, next_seq=1, segments=[]))
    # crash orphan: manifest-2.json exists (even partial) but CURRENT is 1
    orphan = os.path.join(m.dir, "manifest-2.json")
    with open(orphan, "w") as f:
        f.write('{"version"')  # truncated JSON, as a crash would leave
    # a LIVE writer holds the commit flock (however long it stalls): conflict
    holder = os.open(os.path.join(m.dir, "LOCK"), os.O_CREAT | os.O_RDWR)
    fcntl.flock(holder, fcntl.LOCK_EX)
    with pytest.raises(ManifestConflictError, match="in flight"):
        m.commit(ManifestState(version=0, next_seq=2, segments=[]))
    # the claimant died: lock released, orphan reclaimed immediately
    os.close(holder)
    m.commit(ManifestState(version=0, next_seq=2, segments=[]))  # recovers
    assert m.state.version == 2
    reloaded = Manifest(str(tmp_path / "t"))
    assert reloaded.state.next_seq == 2  # the recovered commit is readable
    # true conflict: CURRENT advanced underneath a stale handle
    stale = Manifest(str(tmp_path / "t"))
    m.commit(ManifestState(version=0, next_seq=3, segments=[]))
    with pytest.raises(ManifestConflictError):
        stale.commit(ManifestState(version=0, next_seq=9, segments=[]))


def test_manifest_orphan_is_swept_not_loaded(tmp_path):
    """prune_versions must never parse claim-orphans past CURRENT (they may
    be partial JSON) — it deletes them."""
    m = Manifest(str(tmp_path / "t2"))
    m.commit(ManifestState(version=0, next_seq=1, segments=[]))
    m.commit(ManifestState(version=0, next_seq=2, segments=[]))
    orphan = os.path.join(m.dir, "manifest-9.json")
    with open(orphan, "w") as f:
        f.write('{"version"')
    report = m.prune_versions(keep_last=2)
    assert 9 in report["removed_versions"]
    assert not os.path.exists(orphan)
    assert m.state.version == 2


# -------------------------------------------------- idempotent tagged ingest
def test_ingest_df_commit_tag_idempotent(spark, store):
    df = spark.createDataFrame([("k1", b"v1"), ("k2", b"v2")], "key string, value binary")
    n1 = store.ingest_df(df, commit_tag=("ckpt-a", 0))
    assert n1 == 2
    v_before = store.manifest.state.version
    # replay of the same micro-batch is a no-op
    assert store.ingest_df(df, commit_tag=("ckpt-a", 0)) == 0
    assert store.manifest.state.version == v_before
    assert store.view(now=NOW).count() == 2
    # the bookkeeping survives reopen and maintenance commits
    store.compact(now=NOW)
    reopened = KVStore(spark, store.root)
    assert reopened.manifest.state.stream_commits == {"ckpt-a": 0}
    assert reopened.ingest_df(df, commit_tag=("ckpt-a", 0)) == 0
    # a later batch on the same checkpoint goes through
    df2 = spark.createDataFrame([("k3", b"v3")], "key string, value binary")
    assert reopened.ingest_df(df2, commit_tag=("ckpt-a", 1)) == 1
    assert reopened.view(now=NOW).count() == 3


# -------------------------------------------------- bounded facade iterator
def test_new_iterator_row_cap(spark, tmp_path):
    from octopusdb_spark.db import OctopusDB

    db = OctopusDB(spark, str(tmp_path / "db"))
    db.set_batch([Entry(f"it:{i:03d}", str(i).encode()) for i in range(20)])
    it = db.new_iterator(prefix="it:", now=NOW)  # under the default cap
    it.rewind()
    assert it.valid() and it.item().key == "it:000"
    with pytest.raises(ValueError, match="max_rows"):
        db.new_iterator(prefix="it:", now=NOW, max_rows=5)


# ---------------------------------------------------------- binary-key mode
def test_binary_key_store_contract(spark, tmp_path):
    """The reference's keys are opaque []byte (kv/utils/key.go:32-37):
    non-UTF8 keys must round-trip through write/read/scan/compact/reopen."""
    store = KVStore(spark, str(tmp_path / "bkv"), value_threshold=64, key_type="binary")
    k1, k2, k3 = b"\xff\x00\x01", b"\xff\x00\x02", b"\x80abc"
    store.set_batch(
        [
            Entry(k1, b"v1"),
            Entry(k2, b"B" * 200),  # value-separated
            Entry(k3, b"v3"),
            Entry(b"\x00", b"v0"),
        ]
    )
    assert store.get(k1, now=NOW).value == b"v1"
    assert store.get(k2, now=NOW).value == b"B" * 200
    assert store.get(b"\x00", now=NOW).value == b"v0"
    assert store.get(b"missing", now=NOW) is None
    # upsert + delete
    store.set_batch([Entry(k1, b"v1b")])
    store.delete(k3)
    assert store.get(k1, now=NOW).value == b"v1b"
    assert store.get(k3, now=NOW) is None
    # prefix scan across a 0xFF boundary (increment-with-carry bound)
    got = [bytes(r["key"]) for r in store.scan(prefix=b"\xff\x00", now=NOW).collect()]
    assert got == [k1, k2]
    got_all = [bytes(r["key"]) for r in store.scan(now=NOW).collect()]
    assert got_all == [b"\x00", k1, k2]  # unsigned byte order
    # range scan
    got_rng = [
        bytes(r["key"]) for r in store.scan(start=b"\x01", end=b"\xff\x00\x02", now=NOW).collect()
    ]
    assert got_rng == [k1]
    # compaction + reopen preserve everything
    store.compact(now=NOW)
    reopened = KVStore(spark, store.root, key_type="binary")
    assert reopened.get(k2, now=NOW).value == b"B" * 200
    assert [bytes(r["key"]) for r in reopened.scan(now=NOW).collect()] == got_all
    # distributed ingest with a binary key column
    df = spark.createDataFrame([(b"\xfe\x01", b"bulk")], "key binary, value binary")
    assert reopened.ingest_df(df) == 1
    assert reopened.get(b"\xfe\x01", now=NOW).value == b"bulk"


def test_binary_prefix_upper_bound():
    from octopusdb_spark.kv.store import _bytes_prefix_upper_bound

    assert _bytes_prefix_upper_bound(b"ab") == b"ac"
    assert _bytes_prefix_upper_bound(b"a\xff\xff") == b"b"
    assert _bytes_prefix_upper_bound(b"\xff\xff") is None


# ------------------------------------------------ write-amplification stats
def test_info_levels_and_write_amplification(spark, tmp_path):
    store = KVStore(spark, str(tmp_path / "wkv"))
    for b in range(3):
        store.set_batch([Entry(f"k{i:02d}", f"b{b}v{i}".encode()) for i in range(10)])
    assert store.info()["compacted_bytes"] == 0
    store.compact(now=NOW)
    info = store.info()
    assert info["compacted_bytes"] > 0
    assert info["write_amplification"] > 0
    assert info["levels_detail"][str(KVStore.MAX_LEVEL)]["rows"] == 10
    # survives reopen; a second compaction accumulates
    prev = info["compacted_bytes"]
    reopened = KVStore(spark, store.root)
    assert reopened.info()["compacted_bytes"] == prev
    reopened.set_batch([Entry("k00", b"again")])
    reopened.compact(now=NOW)
    assert reopened.info()["compacted_bytes"] > prev


def test_binary_prefix_bound_property():
    """Property: for any byte prefix p with a finite upper bound u, every
    byte string extending p sorts in [p, u), and every string outside the
    prefix sorts outside [p, u) — the pruning-bound contract."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from octopusdb_spark.kv.store import _bytes_prefix_upper_bound

    @settings(max_examples=500, deadline=None)
    @given(
        prefix=st.binary(min_size=1, max_size=6),
        suffix=st.binary(min_size=0, max_size=6),
        other=st.binary(min_size=0, max_size=8),
    )
    def check(prefix, suffix, other):
        u = _bytes_prefix_upper_bound(prefix)
        ext = prefix + suffix
        assert ext >= prefix and (u is None or ext < u)
        if not other.startswith(prefix):
            inside = other >= prefix and (u is None or other < u)
            assert not inside

    check()


# ------------------------------------------------------------- time travel
def test_time_travel_reads_historical_manifest(spark, tmp_path):
    """Every committed manifest survives on disk and maintenance only
    deregisters segment files — so view(at_version=) reopens any prior
    table state exactly, including across compaction and value GC."""
    store = KVStore(spark, str(tmp_path / "tt"), value_threshold=64)
    store.set_batch([Entry("a", b"1"), Entry("big", b"X" * 200)])
    v1 = store.manifest.state.version
    store.set_batch([Entry("a", b"2"), Entry("b", b"3")])
    v2 = store.manifest.state.version
    store.delete("a")
    store.set_batch([Entry("big", b"Y" * 200)])
    store.compact(now=NOW)
    store.gc_values(discard_ratio=0.0, now=NOW)

    # current state: a deleted, big rewritten
    now_view = {r["key"]: bytes(r["value"]) for r in store.view(now=NOW).collect()}
    assert "a" not in now_view and now_view["big"] == b"Y" * 200

    tt1 = {r["key"]: bytes(r["value"]) for r in store.view(now=NOW, at_version=v1).collect()}
    assert tt1 == {"a": b"1", "big": b"X" * 200}  # GC'd payload still readable
    tt2 = {r["key"]: bytes(r["value"]) for r in store.view(now=NOW, at_version=v2).collect()}
    assert tt2 == {"a": b"2", "b": b"3", "big": b"X" * 200}
    # scan honors the historical snapshot + pruning
    got = [r["key"] for r in store.scan(prefix="a", now=NOW, at_version=v2).collect()]
    assert got == ["a"]
    assert store.manifest.versions()[0] == 1
    import pytest as _pytest

    with _pytest.raises(ValueError, match="does not exist"):
        store.view(now=NOW, at_version=9999)


# ---------------------------------------------------------- retention sweep
def test_prune_history_frees_space_and_bounds_time_travel(spark, tmp_path):
    import os

    store = KVStore(spark, str(tmp_path / "ph"), value_threshold=64)
    store.set_batch([Entry("a", b"1"), Entry("big", b"Z" * 300)])
    v_old = store.manifest.state.version
    store.set_batch([Entry("big", b"Y" * 300)])  # supersede the big value
    store.compact(now=NOW)
    store.gc_values(discard_ratio=0.0, now=NOW)
    seg_root = os.path.join(store.root, "segments")
    n_before = len(os.listdir(seg_root))

    report = store.prune_history(keep_versions=1)
    assert report["removed_versions"], "old manifests should be dropped"
    assert report["removed_segments"], "unreferenced segment files should be deleted"
    assert report["bytes_freed"] > 0
    assert len(os.listdir(seg_root)) < n_before
    # current state fully intact
    assert store.get("a", now=NOW).value == b"1"
    assert store.get("big", now=NOW).value == b"Y" * 300
    # time travel past the horizon now raises (the explicit trade)
    with pytest.raises(ValueError, match="does not exist"):
        store.view(now=NOW, at_version=v_old)
    # store remains writable and reopenable after the sweep
    store.set_batch([Entry("c", b"3")])
    reopened = KVStore(spark, store.root)
    assert reopened.get("c", now=NOW).value == b"3"
    assert reopened.view(now=NOW).count() == 3


# ------------------------------------------------------------ batched reads
def test_mget_batched_point_reads(store):
    store.set_batch([Entry(f"k{i}", str(i).encode()) for i in range(10)])
    store.delete("k3")
    store.set_batch([Entry("ttl", b"x", expires_at=NOW - 1), Entry("big", b"B" * 100)])
    got = store.mget(["k1", "k3", "k7", "ttl", "big", "absent"], now=NOW)
    assert {k: e.value for k, e in got.items()} == {
        "k1": b"1",
        "k7": b"7",
        "big": b"B" * 100,
    }
    assert store.mget([], now=NOW) == {}


def test_mget_binary_keys(spark, tmp_path):
    s = KVStore(spark, str(tmp_path / "mb"), key_type="binary")
    s.set_batch([Entry(b"\xff\x01", b"a"), Entry(b"\x00", b"b")])
    got = s.mget([b"\xff\x01", b"\x00", b"nope"], now=NOW)
    assert {k: e.value for k, e in got.items()} == {b"\xff\x01": b"a", b"\x00": b"b"}


def test_randomized_binary_key_ops_match_model(spark, tmp_path):
    """Randomized upsert/tombstone/TTL/big-value workload over NON-UTF8
    byte keys, cross-checked against a dict model through compaction, GC,
    retention sweep, and reopen — the string-mode model test's twin for
    key_type='binary'."""
    import random

    rng = random.Random(1234)
    store = KVStore(spark, str(tmp_path / "rbk"), value_threshold=256, key_type="binary")
    model: dict = {}
    # leading byte skips 0x02: the CF prefix is RESERVED in the default
    # namespace since r11 (set_batch rejects it — pinned by the CF tests)
    keyspace = [
        bytes([next(b for b in iter(lambda: rng.randrange(256), None) if b != 2),
               rng.randrange(256)])
        for _ in range(30)
    ]

    def apply_batch(n):
        batch = []
        for _ in range(n):
            k = rng.choice(keyspace)
            op = rng.random()
            if op < 0.2:
                batch.append(Entry(k, None))
                model[k] = None
            elif op < 0.3:
                exp = NOW + rng.choice([-500, 500])
                v = f"ttl{rng.randrange(1000)}".encode()
                batch.append(Entry(k, v, expires_at=exp))
                model[k] = v if exp > NOW else None
            elif op < 0.4:
                v = bytes([rng.randrange(256)]) * 600  # value-separated
                batch.append(Entry(k, v))
                model[k] = v
            else:
                v = f"v{rng.randrange(10**6)}".encode()
                batch.append(Entry(k, v))
                model[k] = v
        # intra-batch duplicate keys: later entry wins (seq order)
        store.set_batch(batch)

    def check(tag):
        live = {k: v for k, v in model.items() if v is not None}
        got = {bytes(r["key"]): bytes(r["value"]) for r in store.scan(now=NOW).collect()}
        assert got == live, f"divergence after {tag}"
        # scan order is unsigned-bytewise
        keys = [bytes(r["key"]) for r in store.scan(now=NOW).collect()]
        assert keys == sorted(keys)

    for _ in range(3):
        apply_batch(20)
    check("3 batches")
    store.compact(now=NOW)
    check("compact")
    store.gc_values(discard_ratio=0.0, now=NOW)
    check("gc")
    store.prune_history(keep_versions=1)
    check("retention sweep")
    apply_batch(20)
    check("post-maintenance writes")
    reopened = KVStore(spark, store.root, key_type="binary")
    live = {k: v for k, v in model.items() if v is not None}
    got = {bytes(r["key"]): bytes(r["value"]) for r in reopened.scan(now=NOW).collect()}
    assert got == live, "divergence after reopen"


# ------------------------------------------------------------- backup/clone
def test_clone_to_is_consistent_and_independent(spark, tmp_path):
    store = KVStore(spark, str(tmp_path / "orig"), value_threshold=64)
    store.set_batch([Entry("a", b"1"), Entry("big", b"Z" * 200)])
    v1 = store.manifest.state.version
    store.set_batch([Entry("b", b"2")])

    clone = store.clone_to(str(tmp_path / "backup"))
    got = {r["key"]: bytes(r["value"]) for r in clone.view(now=NOW).collect()}
    assert got == {"a": b"1", "b": b"2", "big": b"Z" * 200}
    # independence: divergent writes do not cross
    store.set_batch([Entry("only_orig", b"x")])
    clone.set_batch([Entry("only_clone", b"y")])
    assert clone.get("only_orig", now=NOW) is None
    assert store.get("only_clone", now=NOW) is None
    # clone survives aggressive maintenance on the original
    store.delete("big")
    store.compact(now=NOW)
    store.gc_values(discard_ratio=0.0, now=NOW)
    store.prune_history(keep_versions=1)
    assert clone.get("big", now=NOW).value == b"Z" * 200
    # branch from a historical version of the clone's own history:
    # version 1 is the initial clone commit, before only_clone was written
    assert v1  # original's history is pruned; branch via the clone instead
    clone2 = clone.clone_to(str(tmp_path / "b2"), at_version=1)
    got2 = {r["key"]: bytes(r["value"]) for r in clone2.view(now=NOW).collect()}
    assert got2 == {"a": b"1", "b": b"2", "big": b"Z" * 200}  # pre-only_clone
    # cloning a compacted store copies bucketed segment paths correctly
    clone.compact(now=NOW)
    clone3 = clone.clone_to(str(tmp_path / "b3"))
    got3 = {r["key"]: bytes(r["value"]) for r in clone3.view(now=NOW).collect()}
    assert got3["big"] == b"Z" * 200 and got3["only_clone"] == b"y"


# ------------------------------------------- feature-interaction coverage
def test_time_travel_with_binary_keys(spark, tmp_path):
    store = KVStore(spark, str(tmp_path / "ttb"), key_type="binary")
    store.set_batch([Entry(b"\xff\x01", b"old"), Entry(b"\x00", b"keep")])
    v1 = store.manifest.state.version
    store.set_batch([Entry(b"\xff\x01", b"new")])
    store.compact(now=NOW)
    tt = {bytes(r["key"]): bytes(r["value"]) for r in store.view(now=NOW, at_version=v1).collect()}
    assert tt == {b"\xff\x01": b"old", b"\x00": b"keep"}
    got = [bytes(r["key"]) for r in store.scan(prefix=b"\xff", now=NOW, at_version=v1).collect()]
    assert got == [b"\xff\x01"]


def test_empty_tagged_ingest_is_noop(spark, store):
    df = spark.createDataFrame([], "key string, value binary")
    v = store.manifest.state.version
    assert store.ingest_df(df, commit_tag=("ck", 0)) == 0
    assert store.manifest.state.version == v  # no commit, replay-safe later
    one = spark.createDataFrame([("k", b"v")], "key string, value binary")
    assert store.ingest_df(one, commit_tag=("ck", 0)) == 1  # batch 0 still lands
