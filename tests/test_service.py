"""Remote point-read service (A24): the reference's JSON-payload Get RPC
(`proto/proto/octopuspb.proto:6-21`, proto only — no server shipped) as a
live TCP endpoint over the KV read path, with the pin()-shared cached view
behind it."""

from __future__ import annotations

import json
import socket

from octopusdb_spark.kv.store import Entry, KVStore
from octopusdb_spark.service import KVClient, KVService

NOW = 2_000_000_000


def test_service_get_mget_scan_info(spark, tmp_path):
    store = KVStore(spark, str(tmp_path / "kv"))
    store.set_batch(
        [Entry("alpha", b"1"), Entry("beta", b"2"), Entry("gamma", b"3")]
    )
    store.delete("beta")
    store.set(Entry("ttl-dead", b"x", expires_at=NOW - 5))

    with KVService(store, now=NOW) as svc:
        host, port = svc.address
        with KVClient(host, port) as c:
            assert c.ping()
            got = c.get("alpha")
            assert got["value"] == b"1" and got["version"] >= 1
            assert c.get("beta") is None       # tombstoned
            assert c.get("ttl-dead") is None   # expired at the service now
            assert c.get("missing") is None

            m = c.mget(["alpha", "gamma", "missing"])
            assert set(m) == {"alpha", "gamma"}
            assert m["gamma"]["value"] == b"3"

            rows = c.scan(prefix="a")
            assert [r["key"] for r in rows] == ["alpha"]
            assert rows[0]["value"] == b"1"
            assert c.scan(limit=2) and len(c.scan(limit=2)) == 2

            info = c.info()
            assert info["row_count"] >= 3

        # repeated reads share the service's pinned cached view
        assert store.cached_view() is not None

        # a second concurrent client is served by the same pin
        with KVClient(host, port) as c2:
            assert c2.get("alpha")["value"] == b"1"

    # pin released with the service
    assert store.cached_view() is None


def test_service_protocol_errors_keep_connection(spark, tmp_path):
    store = KVStore(spark, str(tmp_path / "kv"))
    store.set(Entry("k", b"v"))
    with KVService(store, now=NOW) as svc:
        host, port = svc.address
        sock = socket.create_connection((host, port), timeout=30)
        rfile = sock.makefile("rb")
        try:
            # malformed JSON -> ok:false, connection stays usable
            sock.sendall(b"not json\n")
            assert json.loads(rfile.readline())["ok"] is False
            # unknown op -> ok:false (and no private-attr dispatch)
            sock.sendall(json.dumps({"op": "dispatch"}).encode() + b"\n")
            assert json.loads(rfile.readline())["ok"] is False
            # still serving real requests afterwards
            sock.sendall(json.dumps({"op": "get", "key": "k"}).encode() + b"\n")
            reply = json.loads(rfile.readline())
            assert reply["ok"] and reply["found"]
        finally:
            rfile.close()
            sock.close()


def test_service_get_returns_clean_entry_shape(spark, tmp_path):
    store = KVStore(spark, str(tmp_path / "kv"))
    store.set(Entry("k", b"v"))
    with KVService(store, now=NOW) as svc:
        with KVClient(*svc.address) as c:
            got = c.get("k")
            # protocol fields (ok/found) must not leak into the entry;
            # get and mget return the SAME shape for the same entry
            assert set(got) == {"value", "version", "expires_at"}
            assert got == c.mget(["k"])["k"]


def test_service_binary_keys(spark, tmp_path):
    store = KVStore(spark, str(tmp_path / "kv"), key_type="binary")
    store.set_batch(
        [Entry(b"\x00\x01", b"a"), Entry(b"\x00\xff", b"b"), Entry(b"\x7f", b"c")]
    )
    with KVService(store, now=NOW) as svc:
        with KVClient(*svc.address, binary_keys=True) as c:
            assert c.get(b"\x00\xff")["value"] == b"b"
            assert c.get(b"\x99") is None
            m = c.mget([b"\x00\x01", b"\x7f", b"\x99"])
            assert set(m) == {b"\x00\x01", b"\x7f"}
            rows = c.scan(prefix=b"\x00")
            assert [r["key"] for r in rows] == [b"\x00\x01", b"\x00\xff"]
            assert rows[1]["value"] == b"b"
    # CF-scoped remote reads on a binary-key store: the family prefix is
    # bytes, user keys travel base64 both ways, siblings stay isolated
    blobs = store.create_cf("blobs")
    blobs.set_batch([Entry(b"\x00\x01", b"cfval"), Entry(b"\x10", b"other")])
    with KVService(store, now=NOW) as svc:
        with KVClient(*svc.address, binary_keys=True) as c:
            assert c.get(b"\x00\x01")["value"] == b"a"  # default ns
            assert c.get(b"\x00\x01", cf="blobs")["value"] == b"cfval"
            m = c.mget([b"\x00\x01", b"\x10", b"\x99"], cf="blobs")
            assert {k: e["value"] for k, e in m.items()} == {
                b"\x00\x01": b"cfval",
                b"\x10": b"other",
            }
            assert [r["key"] for r in c.scan(cf="blobs", page_size=1)] == [
                b"\x00\x01",
                b"\x10",
            ]
            assert [r["key"] for r in c.scan(prefix=b"\x00", cf="blobs")] == [
                b"\x00\x01"
            ]


def test_failed_bind_leaves_store_unpinned(spark, tmp_path):
    import pytest

    store = KVStore(spark, str(tmp_path / "kv"))
    store.set(Entry("k", b"v"))
    with KVService(store, now=NOW) as svc:
        taken = svc.address[1]
        store2 = KVStore(spark, str(tmp_path / "kv2"))
        svc2 = KVService(store2, port=taken, now=NOW)
        with pytest.raises(OSError):
            svc2.start()
        # the failed start must not leave store2 pinned or cached: a
        # read afterwards plans its own view instead of building a pin's
        assert store2.cached_view() is None
        store2.set(Entry("k", b"v"))
        assert store2.get("k").value == b"v"
        assert store2.cached_view() is None
        svc2.stop()  # no-op, must not raise


def test_client_discards_connection_after_transport_error(spark, tmp_path):
    import pytest

    store = KVStore(spark, str(tmp_path / "kv"))
    store.set(Entry("k", b"v"))
    with KVService(store, now=NOW) as svc:
        c = KVClient(*svc.address)
        try:
            assert c.get("k")["value"] == b"v"
            # sever the transport underneath the client: the in-flight
            # pairing is unknowable, so the client must drop the socket...
            c._sock.shutdown(socket.SHUT_RDWR)
            c._sock.close()
            with pytest.raises(Exception):
                c.get("k")
            assert c._sock is None
            # ...and transparently reconnect on the next call
            assert c.get("k")["value"] == b"v"
        finally:
            c.close()


def test_facade_serve(spark, tmp_path):
    from octopusdb_spark.db import OctopusDB

    db = OctopusDB(spark, str(tmp_path / "db"))
    db.set("k", b"v")
    with db.serve(now=NOW) as svc:
        with KVClient(*svc.address) as c:
            assert c.get("k")["value"] == b"v"
            assert c.info()["row_count"] >= 1


def test_service_remote_cdc_consumer(spark, tmp_path):
    """The consumer-checkpoint protocol over the wire: snapshot -> hold ->
    poll changes -> advance the hold -> release. The remote hold keeps a
    range tombstone (and its expansion) alive across primary maintenance,
    and the polled feed mirrors changes_since exactly."""
    store = KVStore(spark, str(tmp_path / "kv"))
    store.set_batch([Entry(f"c{i}", f"v{i}".encode()) for i in range(6)])
    with KVService(store, now=NOW) as svc:
        host, port = svc.address
        with KVClient(host, port) as c:
            since = c.snapshot()
            held = c.hold("remote-consumer")
            assert held == since
            # post-snapshot traffic through the store
            store.set_batch([Entry("c1", b"v1-new"), Entry("c9", b"fresh")])
            store.delete_range(start="c3", end="c5")
            store.maintenance_tick(now=NOW)
            assert store.info()["range_tombstones"] == 1  # held remotely
            feed = c.changes(since)
            # key-paged fetch returns the identical complete feed even
            # when each request is capped below the feed size (a
            # version-paged scheme would lose expansion rows, which all
            # share the tombstone's seq)
            assert c.changes(since, page_size=2) == feed
            by_key = {r["key"]: r for r in feed}
            assert by_key["c1"]["change"] == "upsert"
            assert by_key["c1"]["value"] == b"v1-new"
            assert by_key["c9"]["change"] == "upsert"
            assert {k for k, r in by_key.items() if r["change"] == "delete"} == {
                "c3",
                "c4",
            }
            # consumer caught up: advance the hold, then release
            assert c.hold("remote-consumer", seq=c.snapshot()) > since
            c.release("remote-consumer")
            assert store.oldest_held_seq() is None
    # released: the next leveled merge retires the tombstone
    store.compact_level(0, now=NOW)
    assert store.info()["range_tombstones"] == 0


def test_service_scan_pages_full_range(spark, tmp_path):
    """A scan wider than one page streams back complete via key paging
    (the same scheme as `changes`); an explicit limit keeps the old
    single-request cap contract."""
    store = KVStore(spark, str(tmp_path / "kv"))
    store.set_batch([Entry(f"p{i:03d}", f"v{i}".encode()) for i in range(9)])
    with KVService(store, now=NOW) as svc:
        host, port = svc.address
        with KVClient(host, port) as c:
            full = c.scan(prefix="p")
            paged = c.scan(prefix="p", page_size=2)
            assert [r["key"] for r in full] == [f"p{i:03d}" for i in range(9)]
            assert paged == full
            assert len(c.scan(prefix="p", limit=3)) == 3  # old contract


def test_service_binary_key_paged_scan(spark, tmp_path):
    """Key paging round-trips base64-encoded binary cursors: a paged scan
    over a binary-key store returns the identical complete ordered range
    as the unpaged contract, including keys that aren't valid UTF-8."""
    store = KVStore(spark, str(tmp_path / "kv"), key_type="binary")
    keys = [bytes([0x00, i]) for i in range(7)] + [bytes([0xFE, 0xFF])]
    store.set_batch([Entry(k, bytes([i])) for i, k in enumerate(keys)])
    with KVService(store, now=NOW) as svc:
        with KVClient(*svc.address, binary_keys=True) as c:
            full = c.scan()
            paged = c.scan(page_size=3)
            assert paged == full
            assert [r["key"] for r in full] == sorted(keys)
            assert full[-1]["key"] == bytes([0xFE, 0xFF])


def test_paged_scan_is_snapshot_consistent_under_writes(spark, tmp_path):
    """The paged scan pins a snapshot seq before page 1, so a key written
    after paging starts — even one sorting BELOW the cursor — is invisible
    to the stitched result (no torn reads), while a fresh scan sees it."""
    store = KVStore(spark, str(tmp_path / "kv"))
    store.set_batch([Entry(f"w{i:02d}", b"x") for i in range(6)])
    with KVService(store, now=NOW) as svc:
        with KVClient(*svc.address) as c:
            # drive the paging loop manually so the write lands mid-scan
            as_of = c.snapshot()
            first = c._call(
                {"op": "scan", "prefix": "w", "limit": 2, "as_of": as_of}
            )
            assert first["more"]
            store.set_batch([Entry("w00a", b"mid"), Entry("w99", b"mid")])
            rest = c._call(
                {
                    "op": "scan",
                    "prefix": "w",
                    "limit": 100,
                    "as_of": as_of,
                    "after_key": first["rows"][-1]["key"],
                }
            )
            stitched = [r["key"] for r in first["rows"] + rest["rows"]]
            assert stitched == [f"w{i:02d}" for i in range(6)]  # no mid-writes
            # a NEW paged scan (fresh snapshot) sees both new keys
            fresh = [r["key"] for r in c.scan(prefix="w", page_size=2)]
            assert "w00a" in fresh and "w99" in fresh


def test_paged_changes_is_snapshot_consistent_under_writes(spark, tmp_path):
    """`changes` gets the same snapshot pin `scan` has (VERDICT r8 #3): a
    write landing between pages — sorting BELOW the page cursor — is
    invisible to the stitched poll, which equals the single-shot feed
    taken at the pin; the next poll from the pin ships exactly the
    mid-poll write (nothing lost, nothing torn)."""
    store = KVStore(spark, str(tmp_path / "kv"))
    store.set_batch([Entry(f"w{i:02d}", b"x") for i in range(6)])
    with KVService(store, now=NOW) as svc:
        with KVClient(*svc.address) as c:
            since = c.snapshot()
            store.set_batch([Entry(f"w{i:02d}", b"y") for i in range(6)])
            pin = c.snapshot()
            baseline = c.changes(since, as_of=pin)  # one pinned poll
            # drive the paging loop manually so the write lands mid-poll
            first = c._call(
                {"op": "changes", "since": since, "limit": 2, "as_of": pin}
            )
            assert first["more"]
            store.set_batch([Entry("w00a", b"mid"), Entry("w99", b"mid")])
            rest = c._call(
                {
                    "op": "changes",
                    "since": since,
                    "limit": 100,
                    "as_of": pin,
                    "after_key": first["rows"][-1]["key"],
                }
            )
            stitched = [r["key"] for r in first["rows"] + rest["rows"]]
            assert stitched == [r["key"] for r in baseline]
            assert stitched == [f"w{i:02d}" for i in range(6)]  # no mid-writes
            # nothing lost: the next poll from the pin is exactly the
            # mid-poll writes (including the one below the cursor)
            nxt = c.changes(pin)
            assert sorted(r["key"] for r in nxt) == ["w00a", "w99"]
            # the returned feed carries its pin: the default (self-pinned)
            # path advances the checkpoint with feed.as_of — a consumer
            # that instead took a fresh snapshot() after the poll would
            # skip any write landing in between (the trap .as_of closes)
            assert baseline.as_of == pin
            poll1 = c.changes(since)
            store.set_batch([Entry("between", b"race")])
            assert sorted(r["key"] for r in c.changes(poll1.as_of)) == ["between"]
            # and the default (unpinned) call self-pins per poll
            assert sorted(r["key"] for r in c.changes(since, page_size=2)) == sorted(
                [f"w{i:02d}" for i in range(6)] + ["w00a", "w99", "between"]
            )


def test_service_paged_changes_merge_store(spark, tmp_path):
    """Merge-store remote feed paging: one key carries SEVERAL events (a
    full row plus N surviving operands), so bare-key paging would cut
    mid-key and `key > after` would silently skip the boundary key's
    remaining events — the exact hole the (key, version, change) compound
    cursor closes (VERDICT r9 #1c/#6). page_size=2 forces the cut to
    straddle a multi-event key; the stitched feed must equal the unpaged
    one and a replica applying it must converge."""
    store = KVStore(spark, str(tmp_path / "kv"), merge_op="add")
    store.set_batch([Entry("acc", b"100"), Entry("plain", b"7")])
    for op in (b"1", b"2", b"3"):
        store.merge("acc", op)   # 'acc' now carries 4 events on the feed
    store.merge("zz", b"5")      # operands-only key after the boundary
    with KVService(store, now=NOW) as svc:
        with KVClient(*svc.address) as c:
            baseline = c.changes(0)
            assert len(baseline) == 6
            for ps in (1, 2, 3):
                assert c.changes(0, page_size=ps) == baseline
            acc = [r for r in baseline if r["key"] == "acc"]
            assert [r["change"] for r in acc] == ["upsert"] + ["merge"] * 3
            assert [r["version"] for r in acc] == sorted(
                r["version"] for r in acc
            )
            # a replica applying the PAGED feed converges with the primary
            feed = c.changes(0, page_size=2)
            replica = KVStore(spark, str(tmp_path / "replica"), merge_op="add")
            replica.apply_changes(
                store.spark.createDataFrame(
                    [
                        (r["key"], r["change"], r["value"], r["expires_at"], r["version"])
                        for r in feed
                    ],
                    "key string, change string, value binary, expires_at long, version long",
                )
            )
            want = {
                r["key"]: bytes(r["value"])
                for r in store.view(now=NOW).collect()
            }
            got = {
                r["key"]: bytes(r["value"])
                for r in replica.view(now=NOW).collect()
            }
            assert want == got == {
                "acc": b"106",
                "plain": b"7",
                "zz": b"5",
            }


def test_service_cf_scoped_reads(spark, tmp_path):
    """Remote reads scoped to a column family: get/mget/scan accept
    ``cf`` with keys in user space both ways; namespaces stay isolated
    over the wire; a dropped family turns into an error reply, not
    silently-empty reads."""
    import pytest

    store = KVStore(spark, str(tmp_path / "kv"))
    store.set(Entry("k1", b"default"))
    users = store.create_cf("users")
    users.set_batch([Entry("k1", b"alice"), Entry("u2", b"bob"), Entry("u3", b"eve")])
    with KVService(store, now=NOW) as svc:
        with KVClient(*svc.address) as c:
            assert c.get("k1")["value"] == b"default"
            assert c.get("k1", cf="users")["value"] == b"alice"
            assert c.get("u2") is None  # default namespace: no leak
            got = c.mget(["k1", "u2", "zz"], cf="users")
            assert {k: e["value"] for k, e in got.items()} == {
                "k1": b"alice",
                "u2": b"bob",
            }
            rows = c.scan(cf="users", page_size=2)  # paged, in-family
            assert [r["key"] for r in rows] == ["k1", "u2", "u3"]
            assert [r["key"] for r in c.scan(prefix="u", cf="users", page_size=1)] == [
                "u2",
                "u3",
            ]
            assert [r["key"] for r in c.scan(page_size=2)] == ["k1"]
            # family-scoped remote feed: only users events, keys encoded
            feed = c.changes(0, cf="users", page_size=2)
            assert {r["key"] for r in feed} == {
                f"\x02users\x1f{k}" for k in ("k1", "u2", "u3")
            }
            assert len(c.changes(0)) == 4  # unscoped: default row too
            store.drop_cf("users")
            with pytest.raises(RuntimeError, match="unknown column family"):
                c.get("k1", cf="users")


def test_service_feed_carries_writer_epoch(spark, tmp_path):
    """The remote feed is fencing-aware: every changes reply stamps the
    serving store's writer_epoch and KVClient surfaces it as
    ChangeFeed.epoch, so a remote consumer can pass it straight to
    apply_changes(source_epoch=) and refuse a deposed primary. A
    promotion between polls is visible on the next poll."""
    from octopusdb_spark.kv.store import StaleWriterError

    store = KVStore(spark, str(tmp_path / "kv"))
    store.set_batch([Entry("a", b"1"), Entry("b", b"2")])
    with KVService(store, now=NOW) as svc:
        with KVClient(*svc.address) as c:
            feed = c.changes(0, page_size=1)
            assert feed.epoch == 0
            assert store.promote() == 1
            assert c.changes(0).epoch == 1
            assert c.info()["writer_epoch"] == 1
    # a consumer that already followed a NEWER leader refuses this feed
    consumer = KVStore(spark, str(tmp_path / "consumer"))
    consumer.promote(past_epoch=5)
    import pytest

    with pytest.raises(StaleWriterError):
        consumer.apply_changes(
            spark.createDataFrame(
                [
                    (r["key"], r["change"], r["value"], r["expires_at"], r["version"])
                    for r in feed
                ],
                "key string, change string, value binary, expires_at long, version long",
            ),
            source_epoch=feed.epoch,
        )


def test_service_concurrent_clients_with_writes(spark, tmp_path):
    """Robustness hammer: several clients issuing mixed reads while the
    store takes writes — every reply is well-formed, no request errors,
    and a key read after its write lands is correct (the store cache
    lock serializes the pinned rebuild across service threads)."""
    import threading

    store = KVStore(spark, str(tmp_path / "kv"))
    store.set_batch([Entry(f"h{i}", f"v{i}".encode()) for i in range(8)])
    errors: list = []
    with KVService(store, now=NOW) as svc:
        host, port = svc.address

        def reader(tid):
            try:
                with KVClient(host, port) as c:
                    for i in range(4):
                        assert c.get(f"h{(tid + i) % 8}") is not None
                        assert len(c.scan(prefix="h", limit=4)) == 4
                        assert c.ping()
            except Exception as exc:  # pragma: no cover
                errors.append(exc)

        threads = [threading.Thread(target=reader, args=(t,)) for t in range(4)]
        for th in threads:
            th.start()
        # a write races the readers: invalidates the pinned view mid-flight
        store.set_batch([Entry("h0", b"v0-new")])
        for th in threads:
            th.join()
        assert not errors
        with KVClient(host, port) as c:
            assert c.get("h0")["value"] == b"v0-new"


def test_service_rate_limit_and_slow_query_log(spark, tmp_path):
    """The reference's config-only rate-limit / slow-query knobs
    (`internal/conf/conf.go:11-54`) implemented for real: a token bucket
    rejects excess requests with an error reply (connection survives),
    and requests over the threshold land in the bounded slow-query log,
    both visible through the unthrottled `stats` op."""
    store = KVStore(spark, str(tmp_path / "kv"))
    store.set_batch([Entry(f"k{i}", str(i).encode()) for i in range(5)])

    with KVService(store, now=NOW, rate_limit=3, slow_query_ms=0) as svc:
        with KVClient(*svc.address) as c:
            ok, limited = 0, 0
            for _ in range(12):  # burst far above 3/s
                try:
                    c.get("k1")
                    ok += 1
                except RuntimeError as e:
                    assert "RateLimited" in str(e)
                    limited += 1
            assert limited > 0 and ok >= 1  # bucket allowed a burst, then refused
            # the connection survived every rejection
            assert c.ping()
            st = c.stats()
            assert st["rate_limited"] == limited
            assert st["requests"] >= ok + limited
            # slow_query_ms=0: every timed op is "slow" — the log is
            # populated and bounded, and records real op names
            assert st["slow_queries"] and len(st["slow_queries"]) <= 128
            assert {q["op"] for q in st["slow_queries"]} >= {"get"}

    # fractional rate (< 1 req/s): the bucket starts FULL at its floored
    # capacity of one token — the first request succeeds immediately, the
    # second is limited, and tokens re-accumulate over 1/rate seconds
    # (simulated by rewinding the bucket clock; no sleeps)
    # 0.02/s = 50s per token: slow enough that two back-to-back requests
    # can't straddle a real refill even on a loaded box
    with KVService(store, now=NOW, rate_limit=0.02) as svc3:
        with KVClient(*svc3.address) as c3:
            c3.get("k1")  # served from the initially-full bucket
            try:
                c3.get("k1")
                raise AssertionError("second request should be rate-limited")
            except RuntimeError as e:
                assert "RateLimited" in str(e)
            svc3._bucket_ts -= 60.0  # 60s at 0.02/s accumulates one token
            c3.get("k1")  # served again — fractional rates don't starve
            st = c3.stats()
            assert st["rate_limited"] == 1 and st["rate_limit"] == 0.02

    # unthrottled service records requests but never rate-limits
    with KVService(store, now=NOW) as svc2:
        with KVClient(*svc2.address) as c2:
            for _ in range(5):
                c2.get("k2")
            st = c2.stats()
            assert st["rate_limited"] == 0 and st["rate_limit"] is None
            assert st["slow_queries"] == []  # no threshold set


def test_service_replication_lag_telemetry(spark, tmp_path):
    """r15: the stats op carries per-holder replication lag — head seq
    minus each held checkpoint, in events — so a failover drill can
    assert a replica's changefeed consumer is keeping up remotely.
    Advancing a hold shrinks its lag to zero; releasing removes it."""
    store = KVStore(spark, str(tmp_path / "kv"))
    store.set_batch([Entry(f"r{i}", b"v") for i in range(4)])
    with KVService(store, now=NOW) as svc:
        host, port = svc.address
        with KVClient(host, port) as c:
            base = c.snapshot()
            c.hold("replica-a")
            c.hold("replica-b")
            store.set_batch([Entry("r9", b"x"), Entry("r10", b"y")])
            rep = c.stats()["replication"]
            assert rep["head_seq"] == base + 2
            assert rep["holders"] == {"replica-a": 2, "replica-b": 2}
            assert rep["max_lag"] == 2
            assert rep["oldest_held_seq"] == base
            assert rep["writer_epoch"] == store.writer_epoch
            # consumer applies the batch and advances: lag back to zero
            c.hold("replica-a", seq=c.snapshot())
            rep = c.stats()["replication"]
            assert rep["holders"]["replica-a"] == 0
            assert rep["max_lag"] == 2  # replica-b still behind
            c.release("replica-b")
            rep = c.stats()["replication"]
            assert rep["holders"] == {"replica-a": 0}
            assert rep["max_lag"] == 0
