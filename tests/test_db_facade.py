"""Facade parity tests — the reference's own test flows
(`kv/db_test.go:36-179`) run against the OctopusDB facade."""

from __future__ import annotations

import random

import pytest

from octopusdb_spark.db import OctopusDB
from octopusdb_spark.kv import Entry

NOW = 2_000_000_000


@pytest.fixture()
def db(spark, tmp_path):
    return OctopusDB(spark, str(tmp_path / "db"))


def test_basic_set_get_del(db):
    """TestBasicSetGet + delete behavior (kv/db_test.go:36-58)."""
    db.set("hello", b"world")
    assert db.get("hello", now=NOW) == b"world"
    db.delete("hello")
    assert db.get("hello", now=NOW) is None


def test_api_soak_ttl(db):
    """TestAPI shape (kv/db_test.go:59-105): batched TTL writes, deletes,
    read-back — scaled down for CI time."""
    db.set_batch(
        [Entry(f"soak:{i:04d}", f"val{i}".encode()).with_ttl(1000, now=NOW) for i in range(200)]
    )
    for i in range(0, 40):
        db.delete(f"soak:{i:04d}")
    for i in range(40, 50):
        assert db.get(f"soak:{i:04d}", now=NOW) == f"val{i}".encode()
    for i in range(0, 5):
        assert db.get(f"soak:{i:04d}", now=NOW) is None
    # past their TTL, everything is gone
    assert db.get("soak:0045", now=NOW + 2000) is None


def test_iterator_contract(db):
    db.set_batch([Entry(f"it:{i:02d}", f"v{i}".encode()) for i in range(10)])
    db.delete("it:04")
    it = db.new_iterator(prefix="it:", now=NOW)
    seen = []
    it.rewind()
    while it.valid():
        seen.append(it.item().key)
        it.next()
    assert seen == [f"it:{i:02d}" for i in range(10) if i != 4]
    it.seek("it:07")
    assert it.valid() and it.item().key == "it:07"
    it.seek("it:99")
    assert not it.valid()
    it.close()


def test_graph_over_kv(db):
    """TestUserInfoQuery (kv/db_test.go:145-179): JSON user payloads round-
    trip and adjacency queries work."""
    rng = random.Random(42)
    users = []
    for i in range(30):
        ids = [str(j) for j in range(30) if j != i]
        users.append(
            {
                "id": str(i),
                "name": f"user-{i}",
                "follower": rng.sample(ids, 5),
                "following": rng.sample(ids, 5),
            }
        )
    db.put_users(users)
    u7 = db.get_user("7", now=NOW)
    assert u7["name"] == "user-7" and len(u7["following"]) == 5
    counts = {r["id"]: r for r in db.follower_counts(now=NOW).collect()}
    assert len(counts) == 30
    assert counts["7"]["n_followers"] == 5 and counts["7"]["n_following"] == 5
    mutual = db.mutual_follows(now=NOW).collect()
    for r in mutual:
        a, b = r["a"], r["b"]
        ua, ub = db.get_user(a, now=NOW), db.get_user(b, now=NOW)
        assert b in ua["following"] and a in ub["following"]
    # update a user: adjacency view reflects newest version
    u7["following"] = ["1"]
    db.put_user(u7)
    counts7 = db.follower_counts(now=NOW).filter("id = '7'").collect()[0]
    assert counts7["n_following"] == 1


def test_big_value_round_trip_and_gc(db):
    """TestVlogBase + TestValueGC shape (kv/vlog_test.go:25-136)."""
    payload = bytes(range(256)) * 128  # 32 KB
    db.set("blob:1", payload)
    db.set("blob:2", payload[::-1])
    assert db.get("blob:1", now=NOW) == payload
    db.set("blob:1", b"small")  # old vlog entry becomes garbage
    rewritten = db.run_value_log_gc(0.4, now=NOW)
    assert rewritten
    assert db.get("blob:1", now=NOW) == b"small"
    assert db.get("blob:2", now=NOW) == payload[::-1]
    assert db.info()["row_count"] > 0


def test_iterator_seek_property():
    """Property: seek(k) positions at the first entry >= k — binary search
    must agree with the linear-scan definition for any key set and probe."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from octopusdb_spark.db import Iterator

    keys_st = st.lists(st.text(alphabet="abcz", min_size=1, max_size=5), unique=True)
    probe_st = st.text(alphabet="abcz", min_size=0, max_size=5)

    @settings(max_examples=300, deadline=None)
    @given(keys=keys_st, probe=probe_st)
    def check(keys, probe):
        srt = sorted(keys)
        rows = [{"key": k, "value": b"v", "expires_at": 0, "version": 1} for k in srt]
        it = Iterator(rows)
        it.seek(probe)
        expected = next((i for i, k in enumerate(srt) if k >= probe), len(srt))
        assert it._pos == expected
        if it.valid():
            assert it.item().key >= probe

    check()


def test_facade_mget_and_clone(spark, tmp_path):
    from octopusdb_spark.db import OctopusDB

    db = OctopusDB(spark, str(tmp_path / "fc"))
    db.set_batch([Entry("x", b"1"), Entry("y", b"2")])
    assert db.mget(["x", "y", "z"], now=NOW) == {"x": b"1", "y": b"2"}
    backup = db.clone_to(str(tmp_path / "fcb"))
    db.delete("x")
    assert db.get("x", now=NOW) is None
    assert backup.get("x", now=NOW) == b"1"


def test_facade_cf_fencing_and_checkpoint(spark, tmp_path):
    """The round-10 surfaces ride the facade too: column families,
    writer-epoch fencing, and the hardlink checkpoint mode."""
    from octopusdb_spark.db import OctopusDB
    from octopusdb_spark.kv import StaleWriterError

    db = OctopusDB(spark, str(tmp_path / "f10"))
    db.set("raw", b"default")
    users = db.create_cf("users")
    users.set(Entry("u1", b"alice"))
    assert db.list_cfs() == ["users"]
    assert db.cf("users").get("u1", now=NOW).value == b"alice"
    assert db.get("raw", now=NOW) == b"default"
    # hardlink checkpoint before the drop
    ckpt = db.clone_to(str(tmp_path / "f10-ckpt"), hardlink=True)
    assert ckpt.cf("users").get("u1", now=NOW).value == b"alice"
    db.drop_cf("users")
    assert db.list_cfs() == []
    assert ckpt.list_cfs() == ["users"]  # checkpoint keeps its snapshot
    # fencing: the checkpoint promotes; the original's feed is refused
    assert ckpt.promote() == 1
    assert ckpt.writer_epoch == 1
    db.set("late", b"split-brain")
    with pytest.raises(StaleWriterError):
        ckpt.apply_changes(
            db.changes_since(0, now=NOW), source_epoch=db.writer_epoch
        )
    # CF iterator in user key space; CF-scoped feed via the handle
    it = ckpt.new_iterator(cf="users", now=NOW)
    assert it.valid() and it.item().key == "u1"
    feed = ckpt.cf("users").changes_since(0, now=NOW).collect()
    assert [r["key"] for r in feed] == ["\x02users\x1fu1"]


def test_facade_time_travel_and_retention(spark, tmp_path):
    from octopusdb_spark.db import OctopusDB

    db = OctopusDB(spark, str(tmp_path / "ftt"))
    db.set_batch([Entry("a", b"1")])
    v1 = db.kv.manifest.state.version
    db.set_batch([Entry("a", b"2"), Entry("b", b"3")])
    # scan_df passes at_version through to the store
    old = {r["key"]: bytes(r["value"]) for r in db.scan_df(now=NOW, at_version=v1).collect()}
    assert old == {"a": b"1"}
    report = db.prune_history(keep_versions=1)
    assert report["removed_versions"]
    assert db.get("a", now=NOW) == b"2"


def test_driver_entry_contract(spark):
    """Mimic the driver's t1 smoke: entry(spark) runs, yields rows, and the
    schema is stable across invocations."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "spark_entry_t", "/root/repo/__spark_entry__.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    df1 = mod.entry(spark)
    df2 = mod.entry(spark)
    assert df1.schema == df2.schema
    assert len(df1.collect()) >= 1
    qs, osql = mod.queries(), mod.oracle_sql()
    assert set(osql) <= set(qs)
    assert len(qs) >= 99  # grows round over round


def test_facade_changefeed(db):
    """CDC through the user-facing facade: snapshot -> writes -> feed with
    pre-images, matching the store-level contract."""
    db.set("a", b"1")
    db.set("b", b"2")
    snap = db.snapshot()
    db.set("b", b"2-new")
    db.delete("a")
    feed = {
        r["key"]: r
        for r in db.changes_since(snap, now=NOW, include_preimage=True).collect()
    }
    assert set(feed) == {"a", "b"}
    assert feed["a"]["change"] == "delete" and bytes(feed["a"]["old_value"]) == b"1"
    assert feed["b"]["change"] == "upsert" and bytes(feed["b"]["old_value"]) == b"2"


def test_pinned_reads_reuse_cached_view(db):
    """pin(): the first read builds the cached view; subsequent point reads
    must NOT replan the scan -> dedup -> values-join (store.view is never
    called again); a write invalidates the pin's cache and exactly one
    rebuild serves the next read; exiting the session drops the cache."""
    db.set_batch([Entry("a", b"1"), Entry("b", b"2")])
    with db.pin(now=NOW) as store:
        assert db.get("a", now=NOW) == b"1"  # lazily builds the cache
        assert store.cached_view() is not None
        calls = 0
        orig_view = store.view

        def counting_view(*args, **kwargs):
            nonlocal calls
            calls += 1
            return orig_view(*args, **kwargs)

        store.view = counting_view
        assert db.get("b", now=NOW) == b"2"
        assert db.get("missing", now=NOW) is None
        assert db.mget(["a", "b"], now=NOW) == {"a": b"1", "b": b"2"}
        assert calls == 0, "pinned reads replanned the view"
        # a write bumps the manifest version: one rebuild, then cached again
        db.set("c", b"3")
        assert db.get("c", now=NOW) == b"3"
        assert db.get("a", now=NOW) == b"1"
        assert calls == 1, f"expected exactly one rebuild, got {calls}"
        # an as-of read asks for a different snapshot: bypasses the pin
        snap = db.snapshot()
        assert db.get("a", now=NOW, as_of=snap) == b"1"
        store.view = orig_view
    assert store.cached_view() is None  # released on exit


def test_pin_sessions_nest_and_respect_ttl_time(db):
    """Nested pins restore the outer session's state, an inner pin at a
    different TTL time never serves the outer cache, and a pre-existing
    same-now cache is reused rather than rebuilt."""
    db.set_batch([Entry("a", b"1")])
    store = db.kv
    pre = store.cache_view(now=NOW)
    with db.pin(now=NOW):
        assert db.get("a", now=NOW) == b"1"
        assert store.cached_view() is pre  # same now: reused, not rebuilt
        with db.pin(now=NOW + 5):
            assert db.get("a", now=NOW + 5) == b"1"
            assert store.cached_view() is not pre  # rebuilt at the inner now
        # outer pin restored and functional after the inner exit
        assert store._pinned and store._pinned_now == NOW
        assert db.get("a", now=NOW) == b"1"
    assert not store._pinned  # fully released


def test_pin_restores_displaced_pre_entry_cache(db):
    """A cache the caller built BEFORE the pin, displaced inside it by a
    different-now rebuild, is re-registered at its original now on exit
    (ADVICE r6) — unless a write moved the manifest, in which case the
    original cache would have been version-invalidated anyway."""
    db.set_batch([Entry("a", b"1")])
    store = db.kv
    store.cache_view(now=NOW)
    with db.pin(now=NOW + 5):
        assert db.get("a", now=NOW + 5) == b"1"  # displaces the NOW cache
        assert store._cached_now == NOW + 5
    # restored (lazily) at the caller's original now
    assert store.cached_view() is not None and store._cached_now == NOW
    assert db.get("a", now=NOW) == b"1"

    # manifest moved inside the pin: no restore, cache fully released
    store.cache_view(now=NOW)
    with db.pin(now=NOW + 5):
        assert db.get("a", now=NOW + 5) == b"1"
        db.set("b", b"2")
    assert store.cached_view() is None
    assert db.get("b", now=NOW) == b"2"


def test_facade_round8_surface(spark, tmp_path):
    """Round-8 facade passthroughs: snapshot holds, the compaction
    filter, and manifest-metadata range sizing all work through the
    OctopusDB API exactly like on the store."""
    from pyspark.sql import functions as F

    from octopusdb_spark.db import OctopusDB

    NOW = 2_000_000_000
    db = OctopusDB(spark, str(tmp_path / "db"))
    for i in range(8):
        db.set(f"r{i}", f"v{i}".encode() if i % 3 else b"PURGE-me")
    snap = db.snapshot()
    held = db.hold_snapshot("facade-reader", seq=snap)
    assert held == snap
    db.compact(now=NOW, drop_where=F.col("value").cast("string").startswith("PURGE"))
    # held: protected rows untouched
    assert db.get("r0", now=NOW) == b"PURGE-me"
    est = db.approximate_sizes([(None, None)])
    assert est[0]["approx_rows"] == 8
    db.release_snapshot("facade-reader")
    db.compact(now=NOW, drop_where=F.col("value").cast("string").startswith("PURGE"))
    assert db.get("r0", now=NOW) is None
    assert db.get("r1", now=NOW) == b"v1"
    assert db.approximate_sizes([(None, None)])[0]["approx_rows"] == 5


def test_facade_merge_surface(spark, tmp_path):
    """Round-9 merge-operator surface on the facade: merge/merge_batch
    write operands, reads fold per the configured operator, fold_merges
    materializes, and info surfaces the operand flag."""
    from octopusdb_spark.db import OctopusDB

    db = OctopusDB(spark, str(tmp_path / "db"), merge_op="add")
    db.set("ctr", b"1")
    db.merge("ctr", b"41")
    db.merge_batch([("ctr", b"-2"), ("fresh", b"5")])
    assert db.get("ctr", now=NOW) == b"40"
    assert db.get("fresh", now=NOW) == b"5"
    assert db.info()["has_merge_operands"] is True
    assert db.fold_merges(now=NOW) == 2
    assert db.get("ctr", now=NOW) == b"40"


# -------------------------------------------------- bounded facade iterator
def test_new_iterator_row_cap(spark, tmp_path):
    db = OctopusDB(spark, str(tmp_path / "db"))
    db.set_batch([Entry(f"it:{i:03d}", str(i).encode()) for i in range(20)])
    it = db.new_iterator(prefix="it:", now=NOW)  # under the default cap
    it.rewind()
    assert it.valid() and it.item().key == "it:000"
    with pytest.raises(ValueError, match="max_rows"):
        db.new_iterator(prefix="it:", now=NOW, max_rows=5)
