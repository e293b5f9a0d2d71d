"""Column families: namespaced keyspaces inside one KVStore.

RocksDB-CF semantics composed from the store's own primitives (reserved
key prefix + catalog + range tombstones), so flush/compaction/CDC/clone
are shared. The reference is single-keyspace (`kv/db.go:19-26`); this is
a beyond-reference extension like the merge operator.
"""

from __future__ import annotations

import pytest

from octopusdb_spark.kv import Entry, KVStore
from octopusdb_spark.kv.store import CF_ALL, CF_RESERVED

NOW = 1_700_000_000


def _live(handle, now=NOW):
    return {
        r["key"]: bytes(r["value"]) for r in handle.view(now=now).collect()
    }


def test_cf_namespaces_are_isolated(spark, tmp_path):
    """CF rows never leak into the default namespace or into each other;
    point reads, mget, and scans stay family-scoped with USER keys."""
    s = KVStore(spark, str(tmp_path / "kv"))
    s.set_batch([Entry("k1", b"default1"), Entry("k2", b"default2")])
    users = s.create_cf("users")
    posts = s.create_cf("posts")
    users.set_batch([Entry("k1", b"alice"), Entry("u2", b"bob")])
    posts.set_batch([Entry("k1", b"hello")])
    # same user key "k1" resolves independently in all three namespaces
    assert s.get("k1", now=NOW).value == b"default1"
    assert users.get("k1", now=NOW).value == b"alice"
    assert posts.get("k1", now=NOW).value == b"hello"
    assert _live(s) == {"k1": b"default1", "k2": b"default2"}
    assert _live(users) == {"k1": b"alice", "u2": b"bob"}
    got = users.mget(["k1", "u2", "missing"], now=NOW)
    assert {k: bytes(e.value) for k, e in got.items()} == {
        "k1": b"alice",
        "u2": b"bob",
    }
    # entries carry USER keys, exactly as get returns them
    assert {k: e.key for k, e in got.items()} == {"k1": "k1", "u2": "u2"}
    assert users.get("k1", now=NOW).key == "k1"
    rows = users.scan(now=NOW).collect()
    assert [r["key"] for r in rows] == ["k1", "u2"]
    # scan bounds are user-space and stay inside the family
    assert [r["key"] for r in users.scan(start="u", now=NOW).collect()] == ["u2"]
    assert [r["key"] for r in users.scan(end="l", now=NOW).collect()] == ["k1"]
    assert [r["key"] for r in users.scan(prefix="u", now=NOW).collect()] == ["u2"]


def test_cf_catalog_create_drop_recreate(spark, tmp_path):
    """create/drop are single manifest commits; drop is O(1) (catalog
    remove + ONE range tombstone, no scan); recreation yields an EMPTY
    family and old rows never resurrect — even after compaction purges
    the tombstone physically."""
    s = KVStore(spark, str(tmp_path / "kv"))
    s.set(Entry("base", b"x"))
    with pytest.raises(ValueError):
        s.create_cf("bad name")  # embedded space
    with pytest.raises(ValueError):
        s.cf("nope")
    cfh = s.create_cf("events")
    assert s.list_cfs() == ["events"]
    with pytest.raises(ValueError):
        s.create_cf("events")
    assert s.create_cf("events", exist_ok=True).name == "events"
    cfh.set_batch([Entry(f"e{i}", str(i).encode()) for i in range(20)])
    v0 = s.manifest.state.version
    s.drop_cf("events")
    assert s.manifest.state.version == v0 + 1  # ONE commit
    assert s.info()["range_tombstones"] == 1  # the O(1) mechanism
    assert s.list_cfs() == []
    with pytest.raises(ValueError):
        s.drop_cf("events")
    # stale handle fails fast on every op
    for op in (
        lambda: cfh.get("e1", now=NOW),
        lambda: cfh.set(Entry("e1", b"z")),
        lambda: cfh.view(now=NOW),
        lambda: cfh.delete_range(prefix="e"),
    ):
        with pytest.raises(ValueError, match="dropped"):
            op()
    # recreate: empty, and new writes don't revive old rows
    cf2 = s.create_cf("events")
    assert _live(cf2) == {}
    cf2.set(Entry("e1", b"new"))
    assert _live(cf2) == {"e1": b"new"}
    # physical purge clears the tombstone; nothing resurrects
    s.compact(now=NOW)
    assert s.info()["range_tombstones"] == 0
    assert _live(cf2) == {"e1": b"new"}
    assert _live(s) == {"base": b"x"}


def test_cf_binary_key_store(spark, tmp_path):
    """Binary-key stores namespace the same way (prefix bytes + the
    manifest's hex encoding)."""
    s = KVStore(spark, str(tmp_path / "kv"), key_type="binary")
    s.set(Entry(b"\x00raw", b"default"))
    blobs = s.create_cf("blobs")
    blobs.set_batch([Entry(b"\x00\x01", b"a"), Entry(b"\xff", b"b")])
    assert blobs.get(b"\x00\x01", now=NOW).value == b"a"
    assert _live(s) == {b"\x00raw": b"default"}
    assert {bytes(r["key"]): bytes(r["value"]) for r in blobs.view(now=NOW).collect()} == {
        b"\x00\x01": b"a",
        b"\xff": b"b",
    }
    assert [bytes(r["key"]) for r in blobs.scan(start=b"\x01", now=NOW).collect()] == [b"\xff"]
    s.drop_cf("blobs")
    assert _live(s) == {b"\x00raw": b"default"}
    s.compact(now=NOW)
    assert s.create_cf("blobs").view(now=NOW).count() == 0


def test_cf_ttl_delete_range_and_bulk_ingest(spark, tmp_path):
    """TTL, in-family range deletes, and distributed ingest_df all ride
    the shared machinery."""
    s = KVStore(spark, str(tmp_path / "kv"))
    cf = s.create_cf("docs")
    df = spark.createDataFrame(
        [(f"d{i:03d}", f"v{i}".encode()) for i in range(50)], "key string, value binary"
    )
    assert cf.ingest_df(df, target_segments=2) == 50
    assert cf.view(now=NOW).count() == 50
    cf.set(Entry("ttl", b"soon", expires_at=NOW + 10))
    assert cf.get("ttl", now=NOW).value == b"soon"
    assert cf.get("ttl", now=NOW + 11) is None
    # in-family range delete: user-space bounds, other rows untouched
    cf.delete_range(start="d010", end="d020")
    live = _live(cf)
    assert "d009" in live and "d020" in live
    assert not any(f"d{i:03d}" in live for i in range(10, 20))
    # prefix form
    cf.delete_range(prefix="d04")
    live = _live(cf)
    assert not any(k.startswith("d04") for k in live)
    assert "d039" in live
    # whole-family clear keeps the family registered
    cf.delete_range()
    assert _live(cf) == {}
    assert s.list_cfs() == ["docs"]


def test_cf_merge_operands(spark, tmp_path):
    """Merge operands fold inside a family; the fold is namespace-scoped
    because keys are namespace-encoded."""
    s = KVStore(spark, str(tmp_path / "kv"), merge_op="add")
    cnt = s.create_cf("counters")
    s.set(Entry("c", b"1000"))  # default-ns key with the same user name
    cnt.set(Entry("c", b"10"))
    cnt.merge("c", b"5")
    cnt.merge("c", b"7")
    assert cnt.get("c", now=NOW).value == b"22"
    assert s.get("c", now=NOW).value == b"1000"
    assert s.fold_merges(now=NOW) > 0
    s.compact(now=NOW)
    assert cnt.get("c", now=NOW).value == b"22"
    assert s.get("c", now=NOW).value == b"1000"


def test_cf_replication_ships_families_and_drops(spark, tmp_path):
    """CDC carries CF rows transparently (keys ship encoded), and a
    drop_cf's range tombstone expands into per-key deletes on the feed,
    so a replica's data converges; the catalog itself is table metadata
    and rides clone_to."""
    p = KVStore(spark, str(tmp_path / "primary"))
    p.set(Entry("base", b"b"))
    users = p.create_cf("users")
    tmp = p.create_cf("tmp")
    users.set_batch([Entry("u1", b"alice")])
    tmp.set_batch([Entry("t1", b"x"), Entry("t2", b"y")])
    s0 = p.snapshot_seq()
    replica = p.clone_to(str(tmp_path / "replica"))
    assert replica.list_cfs() == ["tmp", "users"]
    assert _live(replica.cf("users")) == {"u1": b"alice"}
    # post-snapshot: new CF write + a whole-family drop
    users.set(Entry("u2", b"bob"))
    p.drop_cf("tmp")
    replica.apply_changes(
        p.changes_since(s0, now=NOW), source_epoch=p.writer_epoch
    )
    assert _live(replica.cf("users")) == {"u1": b"alice", "u2": b"bob"}
    # the drop's expansion deleted the tmp rows on the replica even though
    # the replica's catalog still lists the family (catalog = control
    # plane; mirror it explicitly)
    assert _live(replica.cf("tmp")) == {}
    replica.drop_cf("tmp")
    assert replica.list_cfs() == ["users"]
    assert _live(replica) == _live(p) == {"base": b"b"}


def test_cf_free_store_plans_unchanged(spark, tmp_path):
    """The default-namespace filter is gated on the catalog: a store that
    never created a CF gets NO namespace predicate (bit-identical plans).
    Raw keys leading with the reserved byte are REJECTED at the write
    (ADVICE r10) — they can never alias into a family's range."""
    s = KVStore(spark, str(tmp_path / "kv"))
    assert s._ns_predicate(None, s.manifest.state) is None
    plan_before = s.view(now=NOW)._jdf.queryExecution().optimizedPlan().toString()
    s.create_cf("cf1")
    assert s._ns_predicate(None, s.manifest.state) is not None
    plan_after = s.view(now=NOW)._jdf.queryExecution().optimizedPlan().toString()
    assert plan_before != plan_after  # the gate actually flips
    # reserved-byte raw key is rejected driver-side — even before any CF
    # exists the \x02 prefix is reserved (it would vanish/alias later)
    with pytest.raises(ValueError, match="reserved"):
        s.set(Entry(CF_RESERVED + "sneaky", b"x"))
    assert CF_RESERVED + "sneaky" not in _live(s)
    # the distributed path enforces the same in-plan (raise_error fails
    # the job rather than silently landing the row)
    bad = spark.createDataFrame(
        [(CF_RESERVED + "bulk", b"x")], "key string, value binary"
    )
    with pytest.raises(Exception, match="reserved|ColumnFamily"):
        s.ingest_df(bad, target_segments=1)


def test_cf_compact_and_approximate_size(spark, tmp_path):
    """Per-CF maintenance: ColumnFamily.compact() rewrites ONLY the
    family's range (per-CF CompactRange), and approximate_size() reads
    manifest metadata only."""
    s = KVStore(spark, str(tmp_path / "kv"))
    s.set(Entry("raw", b"x"))
    a = s.create_cf("a")
    b = s.create_cf("b")
    a.set_batch([Entry(f"k{i}", b"1") for i in range(30)])
    a.set_batch([Entry(f"k{i}", b"2") for i in range(30)])  # superseded versions
    b.set(Entry("other", b"y"))
    est = a.approximate_size()
    assert est["approx_rows"] >= 30
    before = {x.segment_id for x in s.manifest.state.data_segments()}
    assert a.compact(now=NOW) > 0
    assert _live(a) == {f"k{i}": b"2" for i in range(30)}
    assert _live(b) == {"other": b"y"}
    assert _live(s) == {"raw": b"x"}
    # b's single-row segment was outside the compacted range: untouched
    after = {x.segment_id for x in s.manifest.state.data_segments()}
    assert any(seg in after for seg in before)  # cold segments survive


def test_cf_scoped_changefeed(spark, tmp_path):
    """changes_since(cf=...): per-family replication — the scoped feed
    carries exactly the family's interval (upserts, deletes, and a
    drop's expansion events; sibling and default-namespace traffic
    excluded), and a replica applying only that feed converges for the
    family while receiving nothing else."""
    p = KVStore(spark, str(tmp_path / "primary"))
    p.set(Entry("base", b"b0"))
    users = p.create_cf("users")
    logs = p.create_cf("logs")
    users.set_batch([Entry("u1", b"a1"), Entry("u2", b"b1")])
    logs.set(Entry("l1", b"x"))
    s0 = p.snapshot_seq()
    replica = p.clone_to(str(tmp_path / "replica"))
    # post-snapshot: traffic in every namespace + an in-family range delete
    p.set(Entry("base", b"b1"))
    users.set_batch([Entry("u1", b"a2"), Entry("u3", b"c1")])
    users.delete("u2")
    logs.set(Entry("l2", b"y"))
    feed = p.changes_since(s0, now=NOW, cf="users")
    rows = feed.collect()
    assert all(r["key"].startswith("\x02users\x1f") for r in rows)
    assert {(r["key"].split("\x1f")[1], r["change"]) for r in rows} == {
        ("u1", "upsert"),
        ("u3", "upsert"),
        ("u2", "delete"),
    }
    replica.apply_changes(feed, source_epoch=p.writer_epoch)
    assert _live(replica.cf("users")) == _live(p.cf("users"))
    # nothing else moved on the replica
    assert _live(replica) == {"base": b"b0"}
    assert _live(replica.cf("logs")) == {"l1": b"x"}
    # a drop's expansion events scope to the dropped family's range
    s1 = p.snapshot_seq()
    p.set(Entry("base", b"b2"))
    p.drop_cf("logs")
    drop_feed = p.changes_since(s1, now=NOW, cf="logs").collect()
    assert {(r["key"].split("\x1f")[1], r["change"]) for r in drop_feed} == {
        ("l1", "delete"),
        ("l2", "delete"),
    }


def test_cf_model_based_random_ops(spark, tmp_path):
    """Model-based contract check across namespaces: random interleavings
    of default-ns and per-CF writes/deletes, in-family range deletes,
    whole-family drops (+ recreates), full compaction, and r13
    PER-FAMILY POLICY maintenance (f1 is tiered, f2 leveled, in a
    leveled store — `auto_compact()` on a family runs ITS policy) must
    leave EVERY namespace's live view equal to a per-namespace dict
    model — isolation, O(1) drop, recreate-empty, and
    maintenance-changes-nothing under arbitrary schedules, not just the
    hand-picked flows above."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    FAMS = ["f1", "f2"]
    CF_STYLE = {"f1": "tiered", "f2": "leveled"}
    NS = ["default", *FAMS]
    KEYS = [f"k{i}" for i in range(4)]

    op = st.one_of(
        st.tuples(
            st.just("set"),
            st.sampled_from(NS),
            st.sampled_from(KEYS),
            st.sampled_from(["a", "bb", "ccc"]),
        ),
        st.tuples(st.just("del"), st.sampled_from(NS), st.sampled_from(KEYS)),
        st.tuples(st.just("rdel"), st.sampled_from(FAMS), st.sampled_from(KEYS)),
        st.tuples(st.just("drop"), st.sampled_from(FAMS)),
        st.tuples(st.just("cfcompact"), st.sampled_from(FAMS)),
        st.just(("compact",)),
    )
    counter = [0]

    @settings(
        max_examples=4,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large],
    )
    @given(ops=st.lists(op, min_size=4, max_size=12))
    def check(ops):
        counter[0] += 1
        store = KVStore(spark, str(tmp_path / f"cfmodel{counter[0]}"))
        handles = {"default": store}
        for f in FAMS:
            handles[f] = store.create_cf(f, compaction_style=CF_STYLE[f])
        model = {ns: {} for ns in NS}
        for o in ops:
            if o[0] == "set":
                _, ns, k, v = o
                handles[ns].set(Entry(k, v.encode()))
                model[ns][k] = v.encode()
            elif o[0] == "del":
                _, ns, k = o
                handles[ns].delete(k)
                model[ns].pop(k, None)
            elif o[0] == "rdel":
                _, ns, k = o  # in-family range delete [k, end)
                handles[ns].delete_range(start=k)
                model[ns] = {mk: mv for mk, mv in model[ns].items() if mk < k}
            elif o[0] == "drop":
                _, ns = o
                store.drop_cf(ns)
                # recreate under the same recorded policy: empty family
                handles[ns] = store.create_cf(ns, compaction_style=CF_STYLE[ns])
                model[ns] = {}
            elif o[0] == "cfcompact":
                _, ns = o  # per-family policy maintenance: no view change
                res = handles[ns].auto_compact(now=NOW)
                assert res["policy"] == CF_STYLE[ns], (ops, ns, res)
            else:
                store.compact(now=NOW)
        for ns in NS:
            assert _live(handles[ns]) == model[ns], (ops, ns)

    check()


def test_cf_merge_replication_model(spark, tmp_path):
    """Cross-feature model check: random interleavings of default-ns and
    in-family writes, MERGE OPERANDS, deletes, a family drop+recreate,
    and maintenance — with every round's interval SHIPPED (fenced) to a
    merge-opened replica — must leave BOTH namespaces of the replica
    equal to per-namespace counter models. This pins the exact
    interaction surface the features share: apply-side fold-boundary
    ordering with namespaced keys, drop expansion riding the feed, and
    catalog mirroring."""
    import random

    rng = random.Random(101)
    for case in range(2):
        root = tmp_path / f"m{case}"
        p = KVStore(spark, str(root / "p"), merge_op="add")
        p.set(Entry("seed", b"1"))
        fam = p.create_cf("ctr")
        r = p.clone_to(str(root / "r"))
        since = p.snapshot_seq()
        model = {"default": {"seed": 1}, "ctr": {}}
        keys = [f"k{i}" for i in range(4)]

        def handle(ns):
            return p if ns == "default" else fam

        for rnd in range(4):
            for _ in range(rng.randint(2, 5)):
                ns = rng.choice(["default", "ctr"])
                k = rng.choice(keys)
                op = rng.choice(["set", "merge", "merge", "del"])
                if op == "set":
                    v = rng.randint(0, 99)
                    handle(ns).set(Entry(k, str(v).encode()))
                    model[ns][k] = v
                elif op == "merge":
                    d = rng.randint(1, 9)
                    handle(ns).merge(k, str(d).encode())
                    model[ns][k] = model[ns].get(k, 0) + d
                else:
                    handle(ns).delete(k)
                    model[ns].pop(k, None)
            if rnd == 2:
                p.drop_cf("ctr")
                fam = p.create_cf("ctr")
                model["ctr"] = {}
            if rng.random() < 0.5:
                p.maintenance_tick(now=NOW)
            pin = p.snapshot_seq()
            r.apply_changes(
                p.changes_since(since, now=NOW, as_of=pin),
                commit_tag=("model", rnd),
                source_epoch=p.writer_epoch,
            )
            since = pin
            if rnd == 2:
                r.drop_cf("ctr")  # mirror the control-plane op
                r.create_cf("ctr")
            want_default = {
                k: str(v).encode() for k, v in model["default"].items()
            }
            want_ctr = {k: str(v).encode() for k, v in model["ctr"].items()}
            assert _live(r) == want_default, (case, rnd)
            assert _live(r.cf("ctr")) == want_ctr, (case, rnd)
            assert _live(p) == want_default and _live(p.cf("ctr")) == want_ctr


def test_cf_snapshot_reads_and_time_travel(spark, tmp_path):
    """as_of reads inside a family respect the snapshot horizon, including
    reading THROUGH a later drop (holds/time-travel semantics are the
    store's own)."""
    s = KVStore(spark, str(tmp_path / "kv"))
    cf = s.create_cf("audit")
    cf.set(Entry("a", b"v1"))
    snap = s.snapshot_seq()
    cf.set(Entry("a", b"v2"))
    assert cf.get("a", now=NOW).value == b"v2"
    assert cf.get("a", now=NOW, as_of=snap).value == b"v1"
    s.drop_cf("audit")
    # a pre-drop snapshot still sees the family's rows (the tombstone is
    # stamped after the snapshot) — via the raw store view, since the
    # handle is gone
    assert any(
        r["key"].endswith("a") and bytes(r["value"]) == b"v1"
        for r in s.view(now=NOW, as_of=snap, cf="audit").collect()
    )


def test_asof_after_last_cf_drop_keeps_namespace_filter(spark, tmp_path):
    """ADVICE r10 (medium): the default-namespace filter must stay on for
    as_of reads pinned BEFORE the last drop_cf — the drop's range
    tombstone has seq > as_of (correctly skipped by _rt_mask), so without
    the STICKY column_families_ever gate the dropped family's raw \\x02
    rows would surface in the default namespace once the catalog empties."""
    s = KVStore(spark, str(tmp_path / "kv"))
    s.set(Entry("base", b"x"))
    cfh = s.create_cf("only")
    cfh.set_batch([Entry("a", b"1"), Entry("b", b"2")])
    snap = s.snapshot_seq()  # pinned before the drop
    s.drop_cf("only")
    assert not (s.manifest.state.column_families or {})  # catalog now empty
    # live default read: only the base key (unchanged behavior)
    assert _live(s) == {"base": b"x"}
    # the as_of read at the pre-drop snapshot: the CF rows are visible
    # via the CF scope / CF_ALL, but must NOT leak into the default ns
    default_keys = {
        r["key"] for r in s.view(now=NOW, as_of=snap).collect()
    }
    assert default_keys == {"base"}
    all_keys = {
        r["key"] for r in s.view(now=NOW, as_of=snap, cf="*").collect()
    }
    assert len(all_keys) == 3  # base + the two (encoded) family rows
    # a clone taken post-drop carries the sticky flag
    clone = s.clone_to(str(tmp_path / "clone"))
    assert {
        r["key"] for r in clone.view(now=NOW, as_of=snap).collect()
    } == {"base"}
    # a full compaction (no holds) purges the rows and VERIFIES the
    # output is reserved-prefix-free, clearing the sticky flag — the
    # CF-free bit-identical plan is restored
    s.compact(now=NOW)
    assert not bool(s.manifest.state.column_families_ever)
    assert s._ns_predicate(None, s.manifest.state) is None


def test_directory_lock_second_live_writer_and_stale_takeover(spark, tmp_path):
    """Directory lock on open (reference's own TODO, kv/db.go:43):
    a lock stamped by a DIFFERENT live pid refuses the open; a dead
    owner's stale lock is taken over; same-process handles share it."""
    import json as _json
    import os as _os

    from octopusdb_spark.kv.store import StoreLockedError

    root = str(tmp_path / "kv")
    s = KVStore(spark, root)
    s.set(Entry("k", b"v"))
    # same-process second handle: allowed (refcounted share)
    s2 = KVStore(spark, root)
    s2.close()
    s.close()
    lock = _os.path.join(root, "_manifest", "DBLOCK")
    assert not _os.path.exists(lock)  # last close removed it
    # simulate another LIVE process holding the lock (pid 1 is always
    # alive; os.kill(1, 0) raises PermissionError => alive)
    with open(lock, "w") as f:
        _json.dump({"pid": 1, "opened_at": 0}, f)
    with pytest.raises(StoreLockedError):
        KVStore(spark, root)
    # stale lock (dead pid): taken over silently
    with open(lock, "w") as f:
        _json.dump({"pid": 2**22 + 1234567 % 1000, "opened_at": 0}, f)
    s3 = KVStore(spark, root)
    assert s3.get("k", now=NOW).value == b"v"
    s3.close()


def test_apply_changes_fencing_is_atomic_with_commit(spark, tmp_path):
    """ADVICE r10 (low): the epoch fence is re-verified INSIDE the manifest
    commit that lands the batch — a promote() racing between
    apply_changes' driver-side check and the data commit aborts the batch
    (EpochFencedError surfaces as StaleWriterError; nothing lands)."""
    from octopusdb_spark.kv.manifest import EpochFencedError
    from octopusdb_spark.kv.store import StaleWriterError

    primary = KVStore(spark, str(tmp_path / "p"))
    primary.set_batch([Entry("k1", b"v1"), Entry("k2", b"v2")])
    snap0 = 0
    replica = primary.clone_to(str(tmp_path / "r"))
    feed = primary.changes_since(snap0)
    src_epoch = primary.writer_epoch
    # direct manifest-level check: the commit fence refuses when the
    # durable epoch moved past the expected max
    replica.promote()  # replica epoch now > src_epoch
    with pytest.raises(StaleWriterError):
        replica.apply_changes(feed, source_epoch=src_epoch)
    # and the low-level primitive raises EpochFencedError on its own
    with pytest.raises(EpochFencedError):
        replica.manifest.commit(expected_max_epoch=src_epoch)
    # nothing landed on the replica beyond the bootstrap clone
    assert _live(replica) == {"k1": b"v1", "k2": b"v2"}


def test_cf_flag_survives_hold_and_sub_reserved_keys(spark, tmp_path):
    """Review r11 finding: the ever-flag clearing probe must stay correct
    when (a) default keys sort BELOW \\x02 (binary \\x00/\\x01 leads are
    legal) and (b) a held snapshot retains dropped-CF rows through the
    full compaction — the flag must stay SET until the rows are really
    gone, else the held as_of read leaks raw \\x02 rows."""
    s = KVStore(spark, str(tmp_path / "kv"), key_type="binary")
    s.set(Entry(b"\x00low", b"sorts-below-reserved"))
    s.set(Entry(b"zz", b"high"))
    cfh = s.create_cf("fam")
    cfh.set_batch([Entry(b"a", b"1")])
    snap = s.snapshot_seq()
    s.hold_snapshot("reader", snap)
    s.drop_cf("fam")
    s.compact(now=NOW)  # hold retains the dropped rows -> flag must stay
    assert bool(s.manifest.state.column_families_ever)
    keys = {bytes(r["key"]) for r in s.view(now=NOW, as_of=snap).collect()}
    assert keys == {b"\x00low", b"zz"}  # no \x02 leak into the default ns
    # release the hold: now the verifying compact may really clear it
    s.release_snapshot("reader")
    s.compact(now=NOW)
    assert not bool(s.manifest.state.column_families_ever)
    assert {bytes(r["key"]) for r in s.view(now=NOW).collect()} == {
        b"\x00low",
        b"zz",
    }
    s.close()


def test_directory_lock_realpath_spellings_share_refcount(spark, tmp_path):
    """Two same-process handles via different path spellings of ONE
    directory share the refcount: closing one must not delete the live
    lock out from under the other."""
    import os as _os

    root = str(tmp_path / "kv")
    a = KVStore(spark, root)
    b = KVStore(spark, root + _os.sep)  # trailing-slash spelling
    lock = _os.path.join(root, "_manifest", "DBLOCK")
    b.close()
    assert _os.path.exists(lock)  # a still holds it
    a.close()
    assert not _os.path.exists(lock)


def test_cf_policy_catalog_and_pre_r13_compat(spark, tmp_path):
    """r13 per-CF policy contract: the recorded style survives reopen; a
    pre-r13 manifest whose catalog values are bare ints (creation seq
    only) normalizes to style=None -> store default; exist_ok with a
    DIFFERENT explicit style refuses; invalid styles reject at create."""
    import json
    import os

    root = str(tmp_path / "cfpol")
    store = KVStore(spark, root, compaction_style="leveled")
    hot = store.create_cf("hot", compaction_style="tiered")
    store.create_cf("cold")
    hot.set(Entry("k1", b"v1"))
    store.cf("cold").set(Entry("c1", b"w1"))
    assert store.info()["column_family_styles"] == {
        "cold": "leveled", "hot": "tiered",
    }
    with pytest.raises(ValueError, match="refusing silent change"):
        store.create_cf("hot", exist_ok=True, compaction_style="leveled")
    with pytest.raises(ValueError, match="compaction_style"):
        store.create_cf("bad", compaction_style="universal")
    store.close()

    # reopen: policy rides the manifest
    store2 = KVStore(spark, root, compaction_style="leveled")
    assert store2.cf_compaction_style("hot") == "tiered"
    assert store2.cf("hot").compaction_style == "tiered"

    # simulate a pre-r13 manifest: rewrite catalog values to bare ints
    cur = os.path.join(store2.manifest.dir, "CURRENT")
    with open(cur) as fh:
        version = fh.read().strip()
    snap = os.path.join(store2.manifest.dir, f"manifest-{version}.json")
    with open(snap) as fh:
        raw = json.load(fh)
    raw["column_families"] = {
        n: (v["seq"] if isinstance(v, dict) else v)
        for n, v in raw["column_families"].items()
    }
    with open(snap, "w") as fh:
        json.dump(raw, fh)
    store2.close()

    store3 = KVStore(spark, root, compaction_style="tiered")
    # int entries normalize: style falls back to the store default
    assert store3.cf_compaction_style("hot") == "tiered"
    assert store3.cf_compaction_style("cold") == "tiered"
    # handles and per-CF ops still work over the normalized catalog
    assert _live(store3.cf("hot")) == {"k1": b"v1"}
    res = store3.compact_cf("cold", now=NOW)
    assert res["policy"] == "tiered"
    # a policy can be (re)recorded by recreate after drop
    store3.drop_cf("hot")
    h2 = store3.create_cf("hot", compaction_style="leveled")
    assert h2.compaction_style == "leveled"
    store3.close()


def test_compact_cf_tiered_honors_target_segments(spark, tmp_path):
    """compact_cf on a tiered family passes ``target_segments`` to every
    tier merge: four same-size runs merged with target_segments=1 leave
    ONE output segment, not compact_tier's default of 4."""
    store = KVStore(spark, str(tmp_path / "kv"))
    hot = store.create_cf("hot", compaction_style="tiered")
    for b in range(4):
        hot.set_batch([Entry(f"k{i:03d}", f"b{b}v{i}".encode()) for i in range(40)])
    before = {s.segment_id for s in store.manifest.state.data_segments()}
    res = store.compact_cf("hot", now=NOW, target_segments=1)
    assert res["policy"] == "tiered" and res["rounds"] == 1
    out = [
        s for s in store.manifest.state.data_segments()
        if s.segment_id not in before
    ]
    assert len(out) == 1
    assert _live(hot) == {f"k{i:03d}": f"b3v{i}".encode() for i in range(40)}


def test_cf_exist_ok_restates_effective_default(spark, tmp_path):
    """ADVICE r13: exist_ok with an explicit style EQUAL to the family's
    effective style (store default when no override was recorded) is an
    idempotent open, not a policy change — must not raise."""
    store = KVStore(spark, str(tmp_path / "cfeff"), compaction_style="leveled")
    store.create_cf("x")
    assert store.create_cf("x", exist_ok=True, compaction_style="leveled").name == "x"
    with pytest.raises(ValueError, match="refusing silent change"):
        store.create_cf("x", exist_ok=True, compaction_style="tiered")
    # a recorded override compares against itself, store default irrelevant
    store.create_cf("y", compaction_style="tiered")
    store.create_cf("y", exist_ok=True, compaction_style="tiered")
    with pytest.raises(ValueError, match="refusing silent change"):
        store.create_cf("y", exist_ok=True, compaction_style="leveled")
    store.close()


def test_cf_per_family_threshold_and_merge_op(spark, tmp_path):
    """r14 (VERDICT r13 #5): the rest of the RocksDB per-CF options
    contract. A family's value-separation threshold routes ITS writes
    independently of the store default; a family's merge operator folds
    ITS reads independently (one family 'add' while the store default is
    'append' and another family inherits); the heterogeneous-op guard
    makes cross-namespace folds loudly impossible instead of wrong; the
    catalog survives reopen; exist_ok compares effective options."""
    root = str(tmp_path / "cfopts")
    store = KVStore(spark, root, value_threshold=1024, merge_op="append")
    blobs = store.create_cf("blobs", value_threshold=32)
    counters = store.create_cf("counters", merge_op="add")
    inherit = store.create_cf("inherit")
    assert blobs.value_threshold == 32 and blobs.merge_op == "append"
    assert counters.merge_op == "add" and counters.value_threshold == 1024
    assert inherit.value_threshold == 1024 and inherit.merge_op == "append"

    # 40-byte value: separated in blobs (32), inline in inherit (1024)
    v40 = b"x" * 40
    blobs.set(Entry("k", v40))
    inherit.set(Entry("k", v40))
    seps = {
        r["key"]: r["value_ptr"] is not None
        for r in store.raw_df().select("key", "value_ptr").collect()
    }
    assert seps[blobs._k("k")] is True
    assert seps[inherit._k("k")] is False
    assert blobs.get("k", now=10**15).value == v40  # values-join read back

    # per-family fold: counters fold with 'add', the default namespace
    # and inheriting families keep the store's 'append'
    counters.set(Entry("c", b"5"))
    counters.merge("c", b"3")
    counters.merge("c", b"4")
    assert counters.get("c", now=10**15).value == b"12"
    store.set(Entry("s", b"a"))
    store.merge("s", b"b")
    assert store.get("s", now=10**15).value == b"a,b"
    inherit.set(Entry("i", b"x"))
    inherit.merge("i", b"y")
    assert inherit.get("i", now=10**15).value == b"x,y"

    # cross-namespace folds are LOUD on heterogeneous operators
    with pytest.raises(ValueError, match="heterogeneous"):
        store.view(now=10**15, cf=CF_ALL).collect()
    with pytest.raises(ValueError, match="heterogeneous"):
        store.fold_merges(now=10**15)

    # merge operand inline guard rides the FAMILY threshold
    with pytest.raises(ValueError, match="operand exceeds"):
        blobs.merge("c2", b"z" * 33)

    # options survive reopen; exist_ok compares effective values
    store.close()
    s2 = KVStore(spark, root, value_threshold=1024, merge_op="append")
    assert s2.cf_value_threshold("blobs") == 32
    assert s2.cf_merge_op("counters") == "add"
    assert s2.info()["column_family_options"]["blobs"]["value_threshold"] == 32
    s2.create_cf("blobs", exist_ok=True, value_threshold=32)  # restate: ok
    s2.create_cf("inherit", exist_ok=True, value_threshold=1024)  # effective
    with pytest.raises(ValueError, match="refusing silent change"):
        s2.create_cf("blobs", exist_ok=True, value_threshold=64)
    with pytest.raises(ValueError, match="refusing silent change"):
        s2.create_cf("counters", exist_ok=True, merge_op="append")
    assert s2.cf("counters").get("c", now=10**15).value == b"12"
    s2.close()


def test_cf_scoped_fold_merges(spark, tmp_path):
    """r14: per-family fold_merges — the maintenance path on a
    heterogeneous-op store where the store-wide fold refuses. Folding
    one family rewrites ONLY its keys with ITS operator; siblings'
    operands stay unfolded; reads are unchanged before/after."""
    store = KVStore(spark, str(tmp_path / "cffold"), merge_op="append")
    counters = store.create_cf("counters", merge_op="add")
    store.set(Entry("s", b"a"))
    store.merge("s", b"b")
    counters.set(Entry("c", b"5"))
    counters.merge("c", b"3")
    counters.merge("c", b"2")

    with pytest.raises(ValueError, match="heterogeneous"):
        store.fold_merges(now=10**15)
    folded = counters.fold_merges(now=10**15)
    assert folded == 1  # only the counters key
    # the family's key now has a FULL folded version; reads identical
    assert counters.get("c", now=10**15).value == b"10"
    assert store.get("s", now=10**15).value == b"a,b"
    # the default namespace's operand is still an operand (not rewritten)
    from octopusdb_spark.kv.store import BIT_MERGE
    ops_left = (
        store.raw_df()
        .filter(F_col_meta_merge())
        .select("key")
        .distinct()
        .collect()
    )
    keys_left = {r["key"] for r in ops_left}
    assert "s" in keys_left  # default ns operand untouched
    store.close()


def F_col_meta_merge():
    from pyspark.sql import functions as F

    from octopusdb_spark.kv.store import BIT_MERGE

    return F.col("meta").bitwiseAND(F.lit(BIT_MERGE)) != 0


def test_cf_scoped_fold_respects_family_threshold(spark, tmp_path):
    """A fold on a family with a LARGER threshold than the store default
    must keep the folded value inline (ADVICE r14: it was routed with
    the store default and pushed to the values table)."""
    from octopusdb_spark.kv.store import BIT_MERGE
    from pyspark.sql import functions as F

    store = KVStore(spark, str(tmp_path / "foldthr"),
                    value_threshold=16, merge_op="append")
    big = store.create_cf("big", value_threshold=1024)
    big.set(Entry("k", b"v" * 8))
    big.merge("k", b"w" * 12)
    big.merge("k", b"x" * 12)
    folded_val = b"v" * 8 + b"," + b"w" * 12 + b"," + b"x" * 12  # 34 > 16
    assert big.fold_merges(now=10**15) == 1
    assert big.get("k", now=10**15).value == folded_val

    rows = (
        store.raw_df()
        .filter(
            (F.col("key") == F.lit(big._k("k")))
            & (F.col("meta").bitwiseAND(F.lit(BIT_MERGE)) == 0)
        )
        .orderBy(F.col("seq").desc())
        .select("value", "value_ptr")
        .collect()
    )
    newest = rows[0]
    assert newest["value_ptr"] is None  # inline under the FAMILY threshold
    assert bytes(newest["value"]) == folded_val
    store.close()


def test_cross_namespace_fold_refuses_on_threshold_mismatch(spark, tmp_path):
    """Review r15: a CF_ALL fold cannot honor per-family value
    thresholds — it must refuse loudly (mirroring the heterogeneous
    merge-op refusal) instead of routing every family's folded values
    with the store default."""
    store = KVStore(spark, str(tmp_path / "foldall"),
                    value_threshold=16, merge_op="append")
    big = store.create_cf("big", value_threshold=1024)
    store.set(Entry("s", b"a"))
    store.merge("s", b"b")
    big.set(Entry("k", b"v"))
    big.merge("k", b"w")
    with pytest.raises(ValueError, match="per-family value thresholds"):
        store.fold_merges(now=10**15)
    # the per-family paths still work
    assert big.fold_merges(now=10**15) == 1
    assert big.get("k", now=10**15).value == b"v,w"
    # a same-threshold family does NOT block the cross-namespace fold
    store2 = KVStore(spark, str(tmp_path / "foldall2"),
                     value_threshold=16, merge_op="append")
    store2.create_cf("same")  # inherits the store threshold
    store2.set(Entry("s", b"a"))
    store2.merge("s", b"b")
    assert store2.fold_merges(now=10**15) == 1
    assert store2.get("s", now=10**15).value == b"a,b"
    store.close()
    store2.close()
