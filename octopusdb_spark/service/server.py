"""Remote point-read service — the reference's query-service surface (A24)
made real.

The reference defines `service OctopusDB { rpc Get (Req) returns (Res) }`
whose request and response are each a single JSON string
(`proto/proto/octopuspb.proto:6-21`) — and ships NO server implementation.
This module implements that contract Spark-side with only the standard
library: a threaded TCP server speaking newline-delimited JSON (the
reference's own payload encoding, minus the gRPC framing the reference
never wired up), serving reads from a live `KVStore` through exactly the
read path the Python API uses — manifest pruning, bloom/stats pushdown,
and (by default) a pinned cached view so repeated gets, mgets and scans
share one materialized frame instead of replanning per request (`KVStore.pin`).

Protocol: one JSON object per line, one JSON reply per line.

    {"op": "get",  "key": K, "cf": s?}        -> {"ok": true, "found": bool,
                                                  "value": b64, "version": n,
                                                  "expires_at": n}
    {"op": "mget", "keys": [K...], "cf": s?}  -> {"ok": true, "entries": {K: {...}}}
    {"op": "scan", "start": K?, "end": K?,
     "prefix": K?, "limit": n?, "cf": s?,
     "after_key": K?, "as_of": n?}            -> {"ok": true, "more": bool,
                                                  "rows": [{...}]}

``cf`` scopes a read to a column family (keys travel in USER space; the
server prefixes/strips). Unknown or dropped families return an error
reply — the handle re-checks the catalog per request.
    {"op": "info"}                            -> {"ok": true, "info": {...}}
    {"op": "ping"}                            -> {"ok": true, "pong": true}
    {"op": "snapshot"}                        -> {"ok": true, "seq": n}
    {"op": "hold", "holder": s, "seq": n?}    -> {"ok": true, "seq": n}
    {"op": "release", "holder": s}            -> {"ok": true}
    {"op": "changes", "since": n,
     "after_key": K?, "limit": n?,
     "as_of": n?}                             -> {"ok": true, "more": bool,
                                                  "epoch": n,
                                                  "rows": [{"key": K,
                                                  "change": "upsert"|"delete",
                                                  "value": b64|null,
                                                  "expires_at": n,
                                                  "version": n}]}

The CDC ops implement the consumer-checkpoint protocol (snapshot -> hold
-> poll changes -> re-hold(advance) -> release). `changes` pages by KEY
(rows ordered by key, capped at MAX_SCAN_ROWS per request; pass the last
key back as ``after_key`` while ``more`` is true) — paging by version
would lose rows because every range-tombstone expansion event shares the
tombstone's seq. Optional ``as_of`` pins every page of one poll to the
closed interval (since, as_of], so a concurrent writer cannot tear the
stitched feed. `KVClient.changes` pages transparently and always pins.

Values travel base64-encoded. Keys are JSON values for a string-key
store; for a binary-key store (``key_type="binary"``) keys are
base64-encoded on the wire too, in requests and replies alike
(`KVClient(binary_keys=True)` does this transparently).

Malformed input or an unknown op returns {"ok": false, "error": ...} and
keeps the connection open; an empty line closes it.

Scale honesty: every request runs Spark jobs on the driver, so this is an
OPERATIONAL lookup endpoint (debugging, spot checks, cache warmers) — the
same altitude as the reference's unimplemented proto, not an OLTP serving
tier. The pinned view bounds a default-namespace read to one job over a
cached frame; `scan` is capped at MAX_SCAN_ROWS so no
request can materialize an unbounded range onto the driver.
"""

from __future__ import annotations

import base64
import json
import socket
import socketserver
import threading
import time

MAX_SCAN_ROWS = 1000


def _b64(v) -> str | None:
    return None if v is None else base64.b64encode(bytes(v)).decode("ascii")


def _entry_payload(e) -> dict:
    return {
        "value": _b64(e.value),
        "version": e.version,
        "expires_at": e.expires_at,
    }

class KVService:
    """Serve a KVStore (or an OctopusDB facade) over TCP.

    ``now``: fixed TTL-evaluation time for every read the service answers
    (a service session IS a consistent read point, same rule as
    ``KVStore.pin``); defaults to wall-clock at ``start()``. The service
    holds a pinned-read session for its lifetime, so concurrent and
    repeated gets, mgets and scans resolve against one shared cached view
    (``cf`` and ``as_of`` requests plan their own); writes through
    the underlying store invalidate it via the manifest-version check and
    the next read transparently rebuilds.
    """

    def __init__(
        self,
        db,
        host: str = "127.0.0.1",
        port: int = 0,
        now: int | None = None,
        rate_limit: float | None = None,
        slow_query_ms: int | None = None,
    ):
        # accept the user-facing facade or the store itself
        self.store = getattr(db, "kv", db)
        self._host, self._port = host, port
        self._now = now
        self._server = None
        self._thread = None
        self._pin = None
        # The reference's cluster config carries rate-limit and slow-query
        # knobs with no implementation behind them
        # (`internal/conf/conf.go:11-54`, `configs/master.yml`). Real here:
        # ``rate_limit`` = requests/second, enforced by a global token
        # bucket (a limited request gets an error reply, the connection
        # survives — the 429 analog); ``slow_query_ms`` = threshold above
        # which a request is recorded in the bounded slow-query log, read
        # back via the ``stats`` op. ping/stats are exempt from the
        # limiter so health checks and diagnostics stay reachable.
        self._rate_limit = None if rate_limit is None else float(rate_limit)
        self._slow_ms = None if slow_query_ms is None else int(slow_query_ms)
        # the bucket starts FULL (capacity = max(rate, 1)), so a fractional
        # rate_limit (< 1 req/s) serves its first request immediately
        # instead of rejecting everything for the first 1/rate seconds
        self._bucket = max(self._rate_limit, 1.0) if self._rate_limit else 0.0
        self._bucket_ts = time.monotonic()
        self._stats_lock = threading.Lock()
        self._n_requests = 0
        self._n_rate_limited = 0
        self._slow_log: list = []  # bounded at 128 newest

    def _acquire_token(self) -> bool:
        if self._rate_limit is None:
            return True
        with self._stats_lock:
            now = time.monotonic()
            # burst capacity floors at one whole token: a fractional
            # rate_limit (< 1 req/s) must still accumulate to a full token
            # over 1/rate seconds — capping at rate_limit alone would
            # starve such configs forever
            self._bucket = min(
                max(self._rate_limit, 1.0),
                self._bucket + (now - self._bucket_ts) * self._rate_limit,
            )
            self._bucket_ts = now
            if self._bucket >= 1.0:
                self._bucket -= 1.0
                return True
            return False

    def _record(self, op: str, elapsed_ms: float) -> None:
        with self._stats_lock:
            self._n_requests += 1
            if self._slow_ms is not None and elapsed_ms >= self._slow_ms:
                self._slow_log.append({"op": op, "ms": round(elapsed_ms, 3)})
                if len(self._slow_log) > 128:
                    del self._slow_log[: len(self._slow_log) - 128]

    # -------------------------------------------------------- key codec
    # JSON can't carry bytes: binary-key stores (`key_type="binary"`,
    # the reference's opaque []byte keys) exchange keys base64-encoded
    # on the wire, exactly like values. String-key stores pass through.
    def _dec_key(self, k):
        if k is None:
            return None
        return base64.b64decode(k) if self.store.key_type == "binary" else k

    def _enc_key(self, k):
        return _b64(k) if self.store.key_type == "binary" else k

    # ------------------------------------------------------------- ops
    def _reader(self, req: dict):
        """The read target: the store (default namespace), or a
        column-family handle when the request carries ``cf``. The handle
        re-checks the catalog per request, so a dropped family turns into
        an error reply instead of silently empty reads."""
        name = req.get("cf")
        return self.store if name is None else self.store.cf(str(name))

    def _op_get(self, req: dict) -> dict:
        e = self._reader(req).get(self._dec_key(req["key"]), now=self._now)
        if e is None:
            return {"ok": True, "found": False}
        return {"ok": True, "found": True, **_entry_payload(e)}

    def _op_mget(self, req: dict) -> dict:
        keys = req.get("keys") or []
        if not isinstance(keys, list):
            raise ValueError("mget: 'keys' must be a list")
        got = self._reader(req).mget(
            [self._dec_key(k) for k in keys], now=self._now
        )
        return {
            "ok": True,
            "entries": {self._enc_key(k): _entry_payload(e) for k, e in got.items()},
        }

    def _op_scan(self, req: dict) -> dict:
        from pyspark.sql import functions as F

        # floor of 1: a zero/negative limit would page forever without progress
        limit = max(1, min(int(req.get("limit", MAX_SCAN_ROWS)), MAX_SCAN_ROWS))
        # key paging, same scheme as `changes`: a range wider than one
        # page is never silently truncated — `more` signals, the client
        # passes the last key back as after_key. The cursor ALSO becomes
        # the scan's start bound so manifest min/max pruning skips every
        # segment wholly below it (a post-filter alone would re-read all
        # N segments on each of P pages); the strict `>` filter stays for
        # the boundary key itself (scan start is inclusive). Optional
        # `as_of` pins every page to one snapshot seq — the client's
        # paged mode sends it so a concurrent writer cannot tear the
        # stitched result.
        after = req.get("after_key")
        as_of = req.get("as_of")
        start = self._dec_key(req.get("start"))
        if after is not None:
            start = self._dec_key(after)  # pages move forward: after >= start
        df = self._reader(req).scan(
            start=start,
            end=self._dec_key(req.get("end")),
            prefix=self._dec_key(req.get("prefix")),
            now=self._now,
            as_of=None if as_of is None else int(as_of),
        )
        if after is not None:
            df = df.filter(F.col("key") > F.lit(self._dec_key(after)))
        raw = df.limit(limit + 1).collect()
        more = len(raw) > limit
        rows = [
            {
                "key": self._enc_key(r["key"]),
                "value": _b64(r["value"]),
                "version": r["version"],
                "expires_at": r["expires_at"],
            }
            for r in raw[:limit]
        ]
        return {"ok": True, "more": more, "rows": rows}

    def _op_info(self, req: dict) -> dict:
        return {"ok": True, "info": self.store.info()}

    # ------------------------------------------------- remote CDC consumer
    # snapshot -> hold -> poll changes(since) -> re-hold(advance) ->
    # release: the consumer-checkpoint protocol over the wire. hold and
    # release are manifest commits; the commit invalidates the pinned
    # cache via the version check and the next read rebuilds it.
    def _op_snapshot(self, req: dict) -> dict:
        return {"ok": True, "seq": self.store.snapshot_seq()}

    def _op_hold(self, req: dict) -> dict:
        seq = req.get("seq")
        held = self.store.hold_snapshot(
            str(req["holder"]), seq=None if seq is None else int(seq)
        )
        return {"ok": True, "seq": held}

    def _op_release(self, req: dict) -> dict:
        self.store.release_snapshot(str(req["holder"]))
        return {"ok": True}

    def _op_changes(self, req: dict) -> dict:
        from pyspark.sql import functions as F

        since = int(req["since"])
        # floor of 1: a zero/negative limit would page forever without progress
        limit = max(1, min(int(req.get("limit", MAX_SCAN_ROWS)), MAX_SCAN_ROWS))
        # optional upper pin: every page of one poll reads the closed
        # interval (since, as_of] — the same snapshot-consistency scheme
        # _op_scan uses, so a write landing mid-pagination cannot tear
        # the stitched feed. KVClient.changes always sends it.
        as_of = req.get("as_of")
        cfname = req.get("cf")
        feed = self.store.changes_since(
            since,
            now=self._now,
            as_of=None if as_of is None else int(as_of),
            cf=None if cfname is None else str(cfname),
        )
        after = req.get("after_key")
        if after is not None:
            # COMPOUND (key, version, change) paging: a merge-store feed
            # carries SEVERAL events per key (one upsert/delete + N
            # surviving operands), so bare-key paging would silently skip
            # a boundary key's remaining events when a page cut mid-key.
            # (key, version) orders them (operand versions are unique seq
            # stamps; the full event sits below its operands), and the
            # change tiebreak covers a custom-stamped full row sharing an
            # operand's version. Legacy clients sending only after_key get
            # the old key-cursor semantics (correct for non-merge feeds,
            # where keys ARE unique: newest-per-key events, expansion
            # anti-joined).
            ak = F.lit(self._dec_key(after))
            av = req.get("after_version")
            if av is None:
                feed = feed.filter(F.col("key") > ak)
            else:
                same_key = F.col("key") == ak
                same_v = F.col("version") == F.lit(int(av))
                cond = (F.col("key") > ak) | (
                    same_key & (F.col("version") > F.lit(int(av)))
                )
                ac = req.get("after_change")
                if ac is not None:
                    cond = cond | (
                        same_key & same_v & (F.col("change") > F.lit(str(ac)))
                    )
                feed = feed.filter(cond)
        rows = feed.orderBy("key", "version", "change").limit(limit + 1).collect()
        more = len(rows) > limit
        rows = rows[:limit]
        return {
            "ok": True,
            "more": more,
            # fencing stamp: the serving store's writer generation, so a
            # remote consumer can pass it to apply_changes(source_epoch=)
            # and refuse feeds from a deposed primary
            "epoch": self.store.writer_epoch,
            "rows": [
                {
                    "key": self._enc_key(r["key"]),
                    "change": r["change"],
                    "value": _b64(r["value"]),
                    "expires_at": r["expires_at"],
                    "version": r["version"],
                }
                for r in rows
            ],
        }

    def _op_ping(self, req: dict) -> dict:
        return {"ok": True, "pong": True}

    def _op_stats(self, req: dict) -> dict:
        """Service-side observability: request/ratelimit counters + the
        bounded slow-query log (the reference's slow-query-threshold knob,
        implemented) + replication lag (r15): per-holder event distance
        from the head seq, so a remote operator can assert a replica's
        changefeed checkpoint is keeping up WITHOUT a data read."""
        with self._stats_lock:
            return {
                "ok": True,
                "requests": self._n_requests,
                "rate_limited": self._n_rate_limited,
                "slow_queries": list(self._slow_log),
                "rate_limit": self._rate_limit,
                "slow_query_ms": self._slow_ms,
                "replication": self.store.replication_lag(),
            }

    _UNTHROTTLED = frozenset({"ping", "stats"})

    def _dispatch(self, line: str) -> dict:
        t0 = time.perf_counter()
        op = None
        try:
            req = json.loads(line)
            op = req.get("op")
            handler = getattr(self, f"_op_{op}", None)
            if handler is None or not op or op.startswith("_"):
                raise ValueError(f"unknown op: {op!r}")
            if op not in self._UNTHROTTLED and not self._acquire_token():
                with self._stats_lock:
                    self._n_rate_limited += 1
                return {
                    "ok": False,
                    "error": "RateLimited: request rate above the "
                    f"configured {self._rate_limit}/s — retry later",
                    "rate_limited": True,
                }
            return handler(req)
        except Exception as e:  # keep the connection alive on bad requests
            return {"ok": False, "error": f"{type(e).__name__}: {e}"}
        finally:
            self._record(str(op), (time.perf_counter() - t0) * 1000.0)

    # ------------------------------------------------------ lifecycle
    def start(self) -> tuple[str, int]:
        """Bind, pin the read session, and serve in a daemon thread.
        Returns (host, port) — port is the ephemeral one when 0 was
        requested."""
        if self._server is not None:
            raise RuntimeError("service already started")
        if self._now is None:
            self._now = int(time.time())
        service = self

        class _Handler(socketserver.StreamRequestHandler):
            def handle(self):
                for raw in self.rfile:
                    line = raw.decode("utf-8").strip()
                    if not line:
                        break
                    reply = service._dispatch(line)
                    self.wfile.write((json.dumps(reply) + "\n").encode("utf-8"))
                    self.wfile.flush()

        class _Server(socketserver.ThreadingTCPServer):
            daemon_threads = True
            allow_reuse_address = True

        # Bind FIRST: a failed bind (port in use) must not leave the store
        # in a pinned-read state nobody can unwind. Anything that fails
        # after the pin is entered unwinds it before re-raising.
        self._server = _Server((self._host, self._port), _Handler)
        try:
            self._pin = self.store.pin(now=self._now)
            self._pin.__enter__()
            try:
                self._host, self._port = self._server.server_address[:2]
                self._thread = threading.Thread(
                    target=self._server.serve_forever, daemon=True
                )
                self._thread.start()
            except BaseException:
                self._pin.__exit__(None, None, None)
                self._pin = None
                raise
        except BaseException:
            self._server.server_close()
            self._server = None
            raise
        return self._host, self._port

    def stop(self) -> None:
        if self._server is None:
            return
        self._server.shutdown()
        self._server.server_close()
        self._server = None
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None
        if self._pin is not None:
            self._pin.__exit__(None, None, None)
            self._pin = None

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.stop()
        return False

    @property
    def address(self) -> tuple[str, int]:
        return (self._host, self._port)
