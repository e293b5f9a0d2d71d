"""KV-semantics queries — the reference's query contract expressed over the
driver's `events` table so the DuckDB oracle can check it.

Mapping (deterministic, same in Spark and SQL): each event is an upsert into
a versioned KV table, exactly the Entry shape of `kv/utils/entry.go:50-60`:

    key        = 'u' || lpad(user_id, 4, '0')
    value      = props                  (NULL when event_type='error' → tombstone,
                                         the Del semantics of kv/db.go:132-138)
    version    = event_id               (monotonic, newest wins)
    seq        = event_id               (tie-break, source precedence of
                                         kv/lsm/iterator.go:314-319)
    expires_at = 1_000_000    if event_type='view'   (expired at NOW)
                 3_000_000_000 if event_type='click' (live)
                 0 otherwise                          (never expires)

The live view is the engine's read path (`kv/db.go:89-130`): newest version
per key → tombstone filter → TTL filter. At 100 TB this plan is a single
hash-shuffle by key (the window), with filters pushed to the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from octopusdb_spark.queries.common import NOW, t

# ---------------------------------------------------------------- Spark side


def kv_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = t(spark, sf_dir, "events")
    return ev.select(
        F.concat(F.lit("u"), F.lpad(F.col("user_id").cast("string"), 4, "0")).alias("key"),
        F.when(F.col("event_type") == "error", F.lit(None).cast("string"))
        .otherwise(F.col("props"))
        .alias("value"),
        F.when(F.col("event_type") == "view", F.lit(1_000_000))
        .when(F.col("event_type") == "click", F.lit(3_000_000_000))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("expires_at"),
        F.col("event_id").alias("version"),
        F.col("event_id").alias("seq"),
    )


def _latest(df: DataFrame) -> DataFrame:
    """Full version ranking — only for history/GC accounting queries that
    need the losers (rn > 1); the hot read path uses ``_newest`` instead."""
    w = Window.partitionBy("key").orderBy(F.desc("version"), F.desc("seq"))
    return df.withColumn("rn", F.row_number().over(w))


def _newest(df: DataFrame) -> DataFrame:
    """Newest version per key via max_by aggregation, NOT a window: the agg
    has a map-side partial phase, so the shuffle carries one candidate row
    per key per input partition instead of the key's whole version history —
    the difference between O(versions) and O(keys) shuffle volume at scale."""
    return df.groupBy("key").agg(
        F.max_by(
            F.struct("value", "expires_at", "version"), F.struct("version", "seq")
        ).alias("e")
    ).select("key", "e.value", "e.expires_at", "e.version")


def kv_live(spark: SparkSession, sf_dir: str, entries: DataFrame | None = None) -> DataFrame:
    df = entries if entries is not None else kv_entries(spark, sf_dir)
    return _newest(df).filter(
        F.col("value").isNotNull()
        & ((F.col("expires_at") == 0) | (F.col("expires_at") > F.lit(NOW)))
    )


def q_kv_latest_live(spark, sf_dir):
    """A6/A7: full ordered scan of the latest-live view."""
    return kv_live(spark, sf_dir).orderBy("key")


def q_kv_point_lookup(spark, sf_dir):
    """A2: Get(key) — filter reaches the scan; at real scale manifest
    pruning + bloom would bound this to one segment."""
    return kv_live(spark, sf_dir).filter(F.col("key") == "u0007")


def q_kv_prefix_scan(spark, sf_dir):
    """A6: iterator Prefix option (`kv/utils/iterator.go:16-19`) — pushed-down
    startswith."""
    return kv_live(spark, sf_dir).filter(F.col("key").startswith("u001")).orderBy("key")


def q_kv_range_seek(spark, sf_dir):
    """A9: Seek(k) then bounded iterate — `key >= k AND key < hi`."""
    return (
        kv_live(spark, sf_dir)
        .filter((F.col("key") >= "u0050") & (F.col("key") < "u0080"))
        .orderBy(F.col("key").desc())
    )


def q_kv_version_history(spark, sf_dir):
    """Versioned read: every version of two keys, newest first — what the
    reference's internal iterator sees before dedup."""
    return (
        kv_entries(spark, sf_dir)
        .filter(F.col("key").isin("u0003", "u0007"))
        .select("key", "version", "value", F.col("value").isNull().alias("is_tombstone"))
        .orderBy("key", F.col("version").desc())
    )


def q_kv_tombstoned_keys(spark, sf_dir):
    """A3: keys currently hidden by a tombstone (latest version is a delete)."""
    return (
        _newest(kv_entries(spark, sf_dir))
        .filter(F.col("value").isNull())
        .select("key", "version")
        .orderBy("key")
    )


def q_kv_ttl_classes(spark, sf_dir):
    """A4: TTL classification of the newest version of every key."""
    return (
        _newest(kv_entries(spark, sf_dir))
        .select(
            F.when(F.col("expires_at") == 0, "never")
            .when(F.col("expires_at") > F.lit(NOW), "live")
            .otherwise("expired")
            .alias("ttl_class")
        )
        .groupBy("ttl_class")
        .agg(F.count("*").alias("n_keys"))
        .orderBy("ttl_class")
    )


def q_kv_value_separation(spark, sf_dir):
    """A14/A15: WiscKey value separation round-trip over `documents` —
    payloads >= 300 chars are routed to a values table and re-joined on read;
    the output proves reconstruction is lossless."""
    docs = t(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text").alias("payload")
    )
    big = docs.filter(F.length("payload") >= 300).select(
        F.concat(F.lit("d"), F.col("doc_id").cast("string")).alias("value_id"),
        F.col("payload").alias("big_value"),
    )
    main = docs.select(
        "doc_id",
        F.when(F.length("payload") < 300, F.col("payload")).alias("inline_value"),
        F.when(
            F.length("payload") >= 300,
            F.concat(F.lit("d"), F.col("doc_id").cast("string")),
        ).alias("value_ptr"),
    )
    # `big` is the *payload* (large-value) side of the WiscKey split — the
    # majority of the table's bytes. Never force-broadcast it: AQE will
    # broadcast at runtime iff it actually fits (mirrors
    # KVStore._resolve_values' manifest-gated hint, kv/store.py).
    joined = main.join(big, main.value_ptr == big.value_id, "left")
    return joined.select(
        "doc_id",
        F.col("value_ptr").isNotNull().alias("was_separated"),
        F.length(F.coalesce("inline_value", "big_value")).alias("recovered_chars"),
    ).orderBy("doc_id")


def q_kv_merge_sorted_runs(spark, sf_dir):
    """A7/A8: k-way merge of multiple sorted runs (here: three disjoint
    'level' slices) with newest-wins dedup — union + window replaces the
    reference's MergeIterator tree (`kv/lsm/iterator.go:230-436`)."""
    ent = kv_entries(spark, sf_dir)
    runs = [ent.filter(F.col("seq") % 3 == i) for i in range(3)]
    merged = runs[0].unionByName(runs[1]).unionByName(runs[2])
    return kv_live(spark, sf_dir, entries=merged).orderBy("key")


def q_kv_gc_discard_stats(spark, sf_dir):
    """A16/A17: discard-stats accounting — bytes of superseded (dead)
    versions per value-log segment, the aggregation behind vlog GC candidate
    selection (`kv/vlog_gc.go:198-253`)."""
    return (
        _latest(kv_entries(spark, sf_dir))
        .filter((F.col("rn") > 1) & F.col("value").isNotNull())
        .select((F.col("seq") % 8).alias("value_segment"), F.length("value").alias("vbytes"))
        .groupBy("value_segment")
        .agg(F.count("*").alias("dead_entries"), F.sum("vbytes").alias("dead_bytes"))
        .orderBy("value_segment")
    )


# ---------------------------------------------------------------- oracle SQL

KV_BASE = """
WITH kv AS (
  SELECT 'u' || lpad(CAST(user_id AS VARCHAR), 4, '0') AS key,
         CASE WHEN event_type = 'error' THEN NULL ELSE props END AS value,
         CAST(CASE WHEN event_type = 'view' THEN 1000000
              WHEN event_type = 'click' THEN 3000000000
              ELSE 0 END AS BIGINT) AS expires_at,
         event_id AS version,
         event_id AS seq
  FROM events
), latest AS (
  SELECT *, row_number() OVER (PARTITION BY key ORDER BY version DESC, seq DESC) AS rn
  FROM kv
), live AS (
  SELECT key, value, expires_at, version FROM latest
  WHERE rn = 1 AND value IS NOT NULL AND (expires_at = 0 OR expires_at > 2000000000)
)
"""

def q_kv_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changefeed (CDC) view: for every key touched after a snapshot point
    (here the 80th percentile of the seq domain), emit its CURRENT state as
    an upsert/delete event — what a downstream consumer replays to stay in
    sync. Because versions are monotonic, the newest version of a touched
    key always lies inside the delta, so the plan reads ONLY post-snapshot
    rows (in the engine: only segments whose created_seq exceeds the
    snapshot — manifest-pruned O(delta), see KVStore.changes_since) and
    never rescans the base. Tombstones and entries that expired by NOW
    surface as 'delete'."""
    entries = kv_entries(spark, sf_dir)
    cut = entries.agg(
        F.floor(F.max("seq") * 0.8).cast("long").alias("cutoff")
    )
    delta = entries.join(F.broadcast(cut)).filter(F.col("seq") > F.col("cutoff"))
    newest = _newest(delta)
    return newest.select(
        "key",
        F.when(
            F.col("value").isNull()
            | ((F.col("expires_at") != 0) & (F.col("expires_at") <= F.lit(NOW))),
            F.lit("delete"),
        )
        .otherwise(F.lit("upsert"))
        .alias("change"),
        "value",
        "version",
    ).orderBy("key")


def q_kv_changefeed_preimage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changefeed with pre-images (KVStore.changes_since(include_preimage=
    True)): each post-snapshot change additionally carries ``old_value`` —
    the key's LIVE value as of the snapshot (NULL when the key was absent,
    tombstoned, or expired at the snapshot) — what a cache invalidator or
    audit log consumes. Plan shape: the delta side is identical to
    kv_changefeed (O(delta)); the pre-image side is one extra as-of read
    joined by key, i.e. the delta's keys against the snapshot view — in the
    engine the as-of view is manifest-pruned, and the join is keyed by the
    same key column the delta was just aggregated on."""
    entries = kv_entries(spark, sf_dir)
    cut = entries.agg(F.floor(F.max("seq") * 0.8).cast("long").alias("cutoff"))
    with_cut = entries.join(F.broadcast(cut))
    delta = with_cut.filter(F.col("seq") > F.col("cutoff"))
    newest = _newest(delta)
    pre = (
        _newest(with_cut.filter(F.col("seq") <= F.col("cutoff")))
        .filter(
            F.col("value").isNotNull()
            & ((F.col("expires_at") == 0) | (F.col("expires_at") > F.lit(NOW)))
        )
        .select("key", F.col("value").alias("old_value"))
    )
    return (
        newest.join(pre, "key", "left")
        .select(
            "key",
            F.when(
                F.col("value").isNull()
                | ((F.col("expires_at") != 0) & (F.col("expires_at") <= F.lit(NOW))),
                F.lit("delete"),
            )
            .otherwise(F.lit("upsert"))
            .alias("change"),
            "value",
            "old_value",
            "version",
        )
        .orderBy("key")
    )


def q_kv_binary_key_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-key range scan: the reference's keys are opaque []byte
    (`kv/utils/key.go:32-37`), ordered by unsigned byte comparison. Keys
    here are raw md5 digests (16 bytes, decidedly non-UTF8); the plan
    filters and orders on the BinaryType column itself — the same
    comparisons KVStore(key_type='binary') relies on — and emits hex for
    the oracle compare."""
    docs = t(spark, sf_dir, "documents")
    bkey = F.unhex(F.md5(F.col("doc_id").cast("string")))
    return (
        docs.select(bkey.alias("bkey"), "doc_id", "n_chars")
        .filter(F.col("bkey") < F.lit(b"\x20"))  # byte-range scan [x'00', x'20')
        .orderBy("bkey")
        .select(F.lower(F.hex("bkey")).alias("key_hex"), "doc_id", "n_chars")
    )


def q_kv_pinned_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinned point-read session run FOR REAL under the correctness gate:
    customer rows land in a KV store via the distributed ingest path, then
    ``with store.pin(now=NOW)`` serves a repeated ``get``/``mget`` loop —
    the reference's repeated Get against the block cache (A13,
    `kv/lsm/cache.go:7-28`). The pin contract is ASSERTED in-query, the
    `kv_stream_ingest` pattern: after the first read lazily builds the
    shared cached view, a counting wrapper around ``store.view`` proves the
    following get + 61-key mget replan NOTHING (zero view() calls — every
    read resolves against the one cached frame), else the query throws and
    the driver row goes red. The checked output is the mget result itself,
    so the values that rode the cache are what the oracle hashes."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.kv.store import KVStore

    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 60)
        .select(
            F.concat(
                F.lit("c"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")
            ).alias("key"),
            F.col("c_name").cast("binary").alias("value"),
        )
    )
    base = tempfile.mkdtemp(prefix=f"kv_pin_{uuid.uuid4().hex[:12]}_")
    try:
        store = KVStore(spark, f"{base}/kv")
        store.ingest_df(cust, target_segments=2)
        keys = [f"c{k:06d}" for k in range(0, 61)]  # custkeys start at 0
        with store.pin(now=NOW) as s:
            first = s.get(keys[0], now=NOW)  # lazily builds the shared cache
            if first is None or s.cached_view() is None:
                raise RuntimeError("pin cache was not built by the first read")
            calls = 0
            orig_view = s.view

            def counting_view(*a, **kw):
                nonlocal calls
                calls += 1
                return orig_view(*a, **kw)

            s.view = counting_view
            try:
                single = s.get(keys[7], now=NOW)
                got = s.mget(keys, now=NOW)
            finally:
                s.view = orig_view
            if calls != 0:
                raise RuntimeError(
                    f"pinned reads replanned the view {calls}x (expected 0)"
                )
            if single is None or len(got) != len(keys):
                raise RuntimeError(
                    f"pinned reads missed keys: got {len(got)}/{len(keys)}"
                )
        rows = [
            (k, bytes(e.value).decode("utf-8")) for k, e in sorted(got.items())
        ]
        # bounded (60 rows); concrete frame so the result outlives the store
        return spark.createDataFrame(rows, "key string, value string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_kv_remote_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The remote point-read service (A24) run FOR REAL under the
    correctness gate: supplier rows land in a KV store, a `KVService`
    binds a TCP port, and every checked value then travels the full
    remote path — newline-JSON request, server-side pinned read, base64
    value on the wire, client decode (`service/server.py`,
    `proto/proto/octopuspb.proto:6-21` contract). In-query assertions,
    the `kv_pinned_reads` pattern: ping answers, a tombstoned key and a
    TTL-expired key read as absent REMOTELY, and a prefix scan through
    the service agrees key-for-key with the mget subset — else the query
    throws and the driver row goes red. The checked output is the remote
    mget result itself, so the bytes that rode the socket are what the
    oracle hashes.

    Round 11 adds the CONCURRENT-WRITER FENCING drill end-to-end over the
    socket (the store-level fence is pinned by `kv_failover`; this runs
    it through the remote protocol): the service's `changes` reply stamps
    the serving store's writer_epoch, a replica is PROMOTED past it, and
    applying the remotely-fetched feed under its (now stale) epoch must
    be refused — while the same feed applied BEFORE the promotion lands
    and converges."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.kv.store import Entry, KVStore, StaleWriterError
    from octopusdb_spark.service import KVClient, KVService

    sup = (
        t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= 40)
        .select(
            F.concat(
                F.lit("s"), F.lpad(F.col("s_suppkey").cast("string"), 6, "0")
            ).alias("key"),
            F.col("s_name").cast("binary").alias("value"),
        )
    )
    base = tempfile.mkdtemp(prefix=f"kv_remote_{uuid.uuid4().hex[:12]}_")
    try:
        store = KVStore(spark, f"{base}/kv")
        store.ingest_df(sup, target_segments=2)
        store.delete("s000007")
        store.set(Entry("ttlx", b"x", expires_at=NOW - 5))
        keys = [f"s{k:06d}" for k in range(0, 41)]
        with KVService(store, now=NOW) as svc:
            with KVClient(*svc.address) as c:
                if not c.ping():
                    raise RuntimeError("service did not answer ping")
                if c.get("s000007") is not None:
                    raise RuntimeError("tombstoned key visible over the service")
                if c.get("ttlx") is not None:
                    raise RuntimeError("TTL-expired key visible over the service")
                got = c.mget(keys)
                scanned = {r["key"] for r in c.scan(prefix="s00000")}
                expect_prefix = {k for k in got if k.startswith("s00000")}
                if scanned != expect_prefix:
                    raise RuntimeError(
                        f"remote scan/mget disagree: {scanned ^ expect_prefix}"
                    )
                # ---- fencing drill, end-to-end over the socket ----
                # the remote feed carries the serving store's epoch stamp
                feed = c.changes(0)
                if feed.epoch != store.writer_epoch:
                    raise RuntimeError(
                        "remote changes feed lost the writer epoch: "
                        f"{feed.epoch} != {store.writer_epoch}"
                    )
                feed_df = spark.createDataFrame(
                    [
                        (r["key"], r["change"], r["value"], r["expires_at"], r["version"])
                        for r in feed
                    ],
                    "key string, change string, value binary, "
                    "expires_at long, version long",
                )
                # happy path: applied under the feed's epoch, it lands
                replica = KVStore(spark, f"{base}/replica")
                if replica.apply_changes(
                    feed_df, commit_tag=("remote", 1), source_epoch=feed.epoch
                ) == 0:
                    raise RuntimeError("remote feed applied zero rows")
                # a failover promotes the replica past the serving store's
                # generation; the SAME remotely-fetched feed — still
                # stamped with the deposed epoch — must now be refused
                if replica.promote() <= feed.epoch:
                    raise RuntimeError("promotion did not advance the epoch")
                try:
                    replica.apply_changes(
                        feed_df, commit_tag=("remote", 2), source_epoch=feed.epoch
                    )
                    raise RuntimeError(
                        "deposed primary's remote feed landed on a fenced replica"
                    )
                except StaleWriterError:
                    pass
                # the pre-promotion apply converged: replica live view ==
                # what the remote mget returned (both rode the socket)
                repl = {
                    r["key"]: bytes(r["value"]).decode("utf-8")
                    for r in replica.view(now=NOW).collect()
                }
                want = {k: e["value"].decode("utf-8") for k, e in got.items()}
                if repl != want:
                    raise RuntimeError(
                        f"fenced replica diverged: {set(repl) ^ set(want)}"
                    )
        rows = [
            (k, e["value"].decode("utf-8")) for k, e in sorted(got.items())
        ]
        return spark.createDataFrame(rows, "key string, value string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_kv_replication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changefeed replication run FOR REAL under the correctness gate:
    customer rows bulk-load into a PRIMARY store, a replica bootstraps
    via `clone_to` at a snapshot, the primary takes post-snapshot traffic
    (overwrites, deletes, a TTL'd key), and the replica applies the
    shipped `changes_since` feed (`apply_changes`, idempotent
    commit_tag — the replay is ASSERTED a no-op in-query). The checked
    output is the REPLICA's live view, so the oracle hashes exactly what
    log-shipping reconstructed — upsert-wins, tombstones, and TTL all
    through the ship+apply path."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.kv.store import Entry, KVStore

    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 50)
        .select(
            F.concat(
                F.lit("r"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")
            ).alias("key"),
            F.col("c_name").cast("binary").alias("value"),
        )
    )
    base = tempfile.mkdtemp(prefix=f"kv_repl_{uuid.uuid4().hex[:12]}_")
    try:
        primary = KVStore(spark, f"{base}/primary")
        primary.ingest_df(cust, target_segments=2)
        snap = primary.snapshot_seq()
        replica = primary.clone_to(f"{base}/replica")
        # post-snapshot traffic: overwrite every 7th, delete every 11th,
        # one TTL'd key that expires before the checked read time
        primary.ingest_df(
            cust.filter(F.expr("CAST(substring(key, 2) AS INT) % 7 = 0")).select(
                "key", F.concat(F.lit("v2-"), F.col("value").cast("string")).cast("binary").alias("value")
            ),
            target_segments=1,
        )
        for k in range(0, 51, 11):
            primary.delete(f"r{k:06d}")
        primary.set(Entry("ttl-ship", b"x", expires_at=NOW - 5))
        feed = primary.changes_since(snap, now=NOW)
        applied = replica.apply_changes(feed, commit_tag=("gate", 1))
        if applied == 0:
            raise RuntimeError("replication applied nothing")
        if replica.apply_changes(feed, commit_tag=("gate", 1)) != 0:
            raise RuntimeError("replayed feed batch was not a no-op")
        rows = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in replica.view(now=NOW).collect()
        )
        return spark.createDataFrame(rows, "key string, value string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_kv_failover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replica promotion / failover drill (the natural completion of the
    A25 data plane; the reference ships none of this — empty
    `cmd/main.go:3-4`): a PRIMARY takes four waves of traffic and dies
    after wave 2 was committed but NOT shipped. The replica (bootstrapped
    via `clone_to`, caught up through the held changefeed) PROMOTES at
    its applied seq; a FRESH replica then bootstraps from the new primary
    and catches up via the feed.

    In-query assertions (each reddens the driver row on violation):
      1. promoted state == dead primary's view as_of the shipped pin —
         no committed-AND-shipped write is lost at promotion;
      2. the dead primary's post-pin feed is EXACTLY the wave-2 tail —
         the un-shipped interval is replayable from its durable manifest,
         nothing more, nothing less;
      3. re-applying the shipped batch is a committed no-op (idempotent
         commit_tag), so crash-replayed shipping converges;
      4. the fresh replica's caught-up view == the new primary's live
         view (bootstrap + feed = state, the `apply_changes` contract);
      5. FENCING (round 10): promotion bumps the durable writer epoch,
         and the dead primary's feed — shipped with its stale epoch — is
         REFUSED by both the promoted store and the fenced fresh replica
         (StaleWriterError), with zero rows applied: split brain cannot
         land.
    The checked output is the FRESH replica's live view — everything the
    oracle hashes traveled clone -> promote -> re-clone -> feed. Wave-2
    writes are absent from it BY DESIGN: async replication loses the
    un-shipped tail at promotion (that is the documented trade; the
    replayable-interval assertion is what makes it recoverable)."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.kv.store import Entry, KVStore

    cust = (
        t(spark, sf_dir, "customer")
        # 1..60: custkey 0 exists in the testdata and is divisible by every
        # wave modulus — exclude it so each wave's key set is the range the
        # tail assertion and the oracle enumerate
        .filter((F.col("c_custkey") >= 1) & (F.col("c_custkey") <= 60))
        .select(
            F.concat(
                F.lit("f"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")
            ).alias("key"),
            F.col("c_name").cast("binary").alias("value"),
            F.col("c_custkey").alias("k"),
        )
    )

    def wave(mod: int, tag: str):
        return cust.filter(F.col("k") % mod == 0).select(
            "key",
            F.concat(F.lit(tag), F.col("value").cast("string"))
            .cast("binary")
            .alias("value"),
        )

    base = tempfile.mkdtemp(prefix=f"kv_failover_{uuid.uuid4().hex[:12]}_")
    try:
        primary = KVStore(spark, f"{base}/primary")
        primary.ingest_df(cust.select("key", "value"), target_segments=2)
        s0 = primary.snapshot_seq()
        replica = primary.clone_to(f"{base}/replica")
        primary.hold_snapshot("replica", s0)
        # wave 1 (will be shipped): overwrites, per-key deletes, a range
        # delete — the tombstone kinds whose retention the hold protects
        primary.ingest_df(wave(5, "w1-"), target_segments=1)
        for k in range(13, 61, 13):
            primary.delete(f"f{k:06d}")
        primary.delete_range(start="f000045", end="f000048")
        pin1 = primary.snapshot_seq()
        feed1 = primary.changes_since(s0, now=NOW, as_of=pin1)
        if replica.apply_changes(feed1, commit_tag=("failover", 1)) == 0:
            raise RuntimeError("failover: shipped feed applied nothing")
        primary.hold_snapshot("replica", pin1)
        # wave 2: committed on the primary, NEVER shipped — the tail
        primary.ingest_df(wave(7, "w2-"), target_segments=1)
        primary.set(Entry("f000100", b"newkey"))
        primary.delete("f000002")
        # ---- primary dies here (no further writes reach it) ----
        # (3) crash-replayed ship converges before promotion
        if replica.apply_changes(feed1, commit_tag=("failover", 1)) != 0:
            raise RuntimeError("failover: replayed shipped batch not a no-op")
        # (1) promotion point: replica == primary as of the shipped pin
        promoted_state = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in replica.view(now=NOW).collect()
        )
        shipped_truth = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in primary.view(now=NOW, as_of=pin1).collect()
        )
        if promoted_state != shipped_truth:
            raise RuntimeError("failover: promoted replica lost a shipped write")
        # (2) the un-shipped tail is exactly the replayable interval
        tail = {
            (r["key"], r["change"])
            for r in primary.changes_since(pin1, now=NOW).collect()
        }
        expect_tail = {(f"f{k:06d}", "upsert") for k in range(7, 61, 7)} | {
            ("f000100", "upsert"),
            ("f000002", "delete"),
        }
        if tail != expect_tail:
            raise RuntimeError(
                f"failover: replayable tail mismatch: {tail ^ expect_tail}"
            )
        # ---- promotion: the replica is the new primary ----
        promoted = replica
        # (5a) fence the deposed generation: epoch bumps past the dead
        # primary's (inherited at clone time), durably
        if promoted.promote() <= primary.writer_epoch:
            raise RuntimeError("failover: promotion did not advance the epoch")
        promoted.ingest_df(wave(9, "w3-"), target_segments=1)
        promoted.set(Entry("f000013", b"back"))  # revive a wave-1 delete
        s2 = promoted.snapshot_seq()
        fresh = promoted.clone_to(f"{base}/fresh")
        promoted.hold_snapshot("replica2", s2)
        # wave 4: traffic the fresh replica catches up through the feed
        promoted.ingest_df(wave(11, "w4-"), target_segments=1)
        promoted.delete("f000001")
        pin2 = promoted.snapshot_seq()
        feed2 = promoted.changes_since(s2, now=NOW, as_of=pin2)
        # fenced ship: the fresh replica adopts the promoted epoch here
        fresh.apply_changes(
            feed2, commit_tag=("failover", 2), source_epoch=promoted.writer_epoch
        )
        promoted.hold_snapshot("replica2", pin2)
        # (5b) split brain refused: the dead primary's durable tail, shipped
        # under its stale epoch, must not land on either fenced store
        from octopusdb_spark.kv.store import StaleWriterError

        dead_feed = primary.changes_since(pin1, now=NOW)
        for fenced in (promoted, fresh):
            try:
                fenced.apply_changes(
                    dead_feed,
                    commit_tag=("failover", 99),
                    source_epoch=primary.writer_epoch,
                )
                raise RuntimeError("failover: deposed primary's feed was applied")
            except StaleWriterError:
                pass
        # (4) bootstrap + feed = state
        caught_up = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in fresh.view(now=NOW).collect()
        )
        new_primary_state = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in promoted.view(now=NOW).collect()
        )
        if caught_up != new_primary_state:
            raise RuntimeError("failover: fresh replica diverges after catch-up")
        return spark.createDataFrame(caught_up, "key string, value string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_kv_merge_operator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge operator (beyond-reference; the RocksDB MergeOperator /
    kTypeMerge analog) run FOR REAL under the correctness gate:
    per-customer counters take a full base value, a tombstone wave, a
    DISTRIBUTED bulk operand load (`ingest_df(merge_col=)` — one
    BIT_MERGE delta per order, O(1) write amplification, no
    read-modify-write), and a write-side `merge_batch` wave; every read
    folds (`view` with merge_op='add', RocksDB FullMergeV2 at read time).
    In-query assertions, each of which reddens the driver row:
      1. the bulk operand ingest raises the manifest flag durably;
      2. `fold_merges()` over live operands writes folded full versions
         and the verifying full `compact()` CLEARS the flag;
      3. the physically-folded post-compaction view is bit-identical to
         the fold-on-read view it replaced.
    Tombstoned bases contribute the operator's identity — operands above
    a delete fold from zero; a tombstoned key with no operands stays
    absent. The checked output is the POST-compaction view: every byte
    the oracle hashes traveled write-side operands -> read fold ->
    physical fold -> compaction."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.kv.store import Entry, KVStore

    bases = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 40)
        .select(
            F.concat(
                F.lit("m"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")
            ).alias("key"),
            (F.col("c_custkey") * 1000).cast("string").cast("binary").alias("value"),
        )
    )
    ops = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") <= 40)
        .select(
            F.concat(
                F.lit("m"), F.lpad(F.col("o_custkey").cast("string"), 6, "0")
            ).alias("key"),
            (F.col("o_orderkey") % 100).cast("string").cast("binary").alias("value"),
            F.lit(True).alias("is_op"),
        )
    )
    base = tempfile.mkdtemp(prefix=f"kv_mergeop_{uuid.uuid4().hex[:12]}_")
    try:
        store = KVStore(spark, f"{base}/kv", merge_op="add")
        store.ingest_df(bases, target_segments=2)
        # tombstone wave BELOW the operands: these bases fold as identity
        store.set_batch([Entry(f"m{k:06d}", None) for k in range(10, 41, 10)])
        store.ingest_df(ops, merge_col="is_op", target_segments=2)
        if store.info()["has_merge_operands"] is not True:
            raise RuntimeError("bulk operand ingest did not raise the manifest flag")
        # write-side operand wave through the point API
        store.merge_batch([(f"m{k:06d}", b"5") for k in range(7, 41, 7)])
        on_read = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in store.view(now=NOW).collect()
        )
        if store.fold_merges(now=NOW) == 0:
            raise RuntimeError("fold_merges folded nothing over live operands")
        store.compact(now=NOW)
        if store.info()["has_merge_operands"] is not False:
            raise RuntimeError("verifying compact did not clear the merge flag")
        folded = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in store.view(now=NOW).collect()
        )
        if folded != on_read:
            raise RuntimeError("physical fold diverged from the read-time fold")
        return spark.createDataFrame(folded, "key string, value string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_kv_column_families(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column families (beyond-reference; RocksDB CF analog) run FOR REAL
    under the correctness gate: three families share one store's segment
    files — `cust` takes a bulk load plus an overwrite wave, `supp` a bulk
    load plus per-key deletes, `tmp` a bulk load that is then DROPPED in
    one O(1) manifest commit (catalog remove + one range tombstone; no
    scan). The default namespace holds nation rows that must never mix
    with any family. In-query assertions (each reddens the driver row):
      1. the drop is exactly ONE manifest commit;
      2. a recreated `tmp` is EMPTY (old rows sit below the drop
         tombstone — RocksDB drop+recreate semantics);
      3. a stale handle for the dropped family fails fast;
      4. a verifying full `compact()` purges the tombstone physically and
         every surviving view is bit-identical to its pre-compaction self;
      5. (r13) the families carry MIXED per-CF compaction policies —
         `cust` tiered, `supp` leveled, in a leveled store — and
         policy-routed maintenance (`compact_cf` / `auto_compact`) runs
         the family's OWN policy before the final verifying compact, so
         per-CF policy routing is under the driver gate, not just pytest.
    The checked output is the POST-compaction union of all live
    namespaces, so every hashed byte traveled CF-encoded keys ->
    namespace-filtered reads -> policy-routed maintenance -> O(1) drop
    -> physical purge."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.kv.store import Entry, KVStore

    nat = t(spark, sf_dir, "nation").select(
        F.concat(F.lit("n"), F.lpad(F.col("n_nationkey").cast("string"), 4, "0")).alias("key"),
        F.col("n_name").cast("binary").alias("value"),
    )
    cust = (
        t(spark, sf_dir, "customer")
        .filter((F.col("c_custkey") >= 1) & (F.col("c_custkey") <= 80))
        .select(
            F.concat(F.lit("c"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")).alias("key"),
            F.col("c_name").cast("binary").alias("value"),
            F.col("c_custkey").alias("k"),
        )
    )
    supp = (
        t(spark, sf_dir, "supplier")
        .filter((F.col("s_suppkey") >= 1) & (F.col("s_suppkey") <= 40))
        .select(
            F.concat(F.lit("s"), F.lpad(F.col("s_suppkey").cast("string"), 6, "0")).alias("key"),
            F.col("s_name").cast("binary").alias("value"),
        )
    )
    part = t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 50).select(
        F.concat(F.lit("p"), F.lpad(F.col("p_partkey").cast("string"), 6, "0")).alias("key"),
        F.col("p_name").cast("binary").alias("value"),
    )
    base = tempfile.mkdtemp(prefix=f"kv_cf_{uuid.uuid4().hex[:12]}_")
    try:
        store = KVStore(spark, f"{base}/kv")
        store.ingest_df(nat, target_segments=1)
        cf_cust = store.create_cf("cust", compaction_style="tiered")
        cf_supp = store.create_cf("supp", compaction_style="leveled")
        cf_tmp = store.create_cf("tmp")
        cf_cust.ingest_df(cust.select("key", "value"), target_segments=2)
        cf_supp.ingest_df(supp, target_segments=1)
        cf_tmp.ingest_df(part, target_segments=1)
        # overwrite wave in cust (every 7th), delete wave in supp (every 11th)
        cf_cust.ingest_df(
            cust.filter(F.col("k") % 7 == 0).select(
                "key",
                F.concat(F.lit("v2-"), F.col("value").cast("string"))
                .cast("binary")
                .alias("value"),
            ),
            target_segments=1,
        )
        cf_supp.set_batch(
            [Entry(f"s{k:06d}", None) for k in range(11, 41, 11)]
        )  # one commit for the whole delete wave
        # policy-routed per-family maintenance: each family's OWN policy
        # runs (tiered banding over cust's runs; one range-restricted
        # leveled compaction over supp) — views must be unchanged, which
        # the final checked output verifies
        res = store.compact_cf("cust", now=NOW)
        if res["policy"] != "tiered":
            raise RuntimeError(f"cf: cust maintenance ran {res['policy']}")
        res = cf_supp.auto_compact(now=NOW)
        if res["policy"] != "leveled" or res["rounds"] != 1:
            raise RuntimeError(f"cf: supp maintenance ran {res}")
        v0 = store.manifest.state.version
        store.drop_cf("tmp")
        if store.manifest.state.version != v0 + 1:
            raise RuntimeError("cf: drop was not a single manifest commit")
        try:
            cf_tmp.get("p000001", now=NOW)
            raise RuntimeError("cf: stale dropped handle served a read")
        except ValueError:
            pass
        if store.create_cf("tmp").view(now=NOW).count() != 0:
            raise RuntimeError("cf: recreated family is not empty")
        def union_live() -> list:
            # ONE collect over a union of the three namespace views — the
            # namespaces are disjoint key ranges in the same segments, so
            # Spark runs this as one job instead of three
            u = None
            for ns, h in (("default", store), ("cust", cf_cust), ("supp", cf_supp)):
                part = h.view(now=NOW).select(
                    F.lit(ns).alias("ns"), "key", "value"
                )
                u = part if u is None else u.unionByName(part)
            return sorted(
                (r["ns"], r["key"], bytes(r["value"]).decode("utf-8"))
                for r in u.collect()
            )
        before = union_live()
        store.compact(now=NOW)  # physical purge of the drop tombstone
        if store.info()["range_tombstones"] != 0:
            raise RuntimeError("cf: compact left the drop tombstone live")
        after = union_live()
        if after != before:
            raise RuntimeError("cf: physical purge changed a surviving view")
        return spark.createDataFrame(after, "ns string, key string, value string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_kv_range_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range tombstone (DeleteRange) run FOR REAL under the correctness
    gate: customer rows bulk-load, ONE O(1) manifest commit hides the
    whole [d000020, d000040) span (no scan, no per-key tombstones — the
    100 TB point of the operator), then a single key inside the range is
    re-written and must come back (the mask is seq-bounded). In-query
    assertions: full compaction applies the mask physically, CLEARS the
    tombstone list, and leaves the live view bit-identical — else the
    query throws and the driver row goes red. The checked output is the
    post-compaction live view."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.kv.store import Entry, KVStore

    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 60)
        .select(
            F.concat(
                F.lit("d"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")
            ).alias("key"),
            F.col("c_name").cast("binary").alias("value"),
        )
    )
    base = tempfile.mkdtemp(prefix=f"kv_rdel_{uuid.uuid4().hex[:12]}_")
    try:
        store = KVStore(spark, f"{base}/kv")
        store.ingest_df(cust, target_segments=2)
        store.delete_range(start="d000020", end="d000040")
        store.set(Entry("d000025", b"reborn"))
        before = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in store.view(now=NOW).collect()
        )
        store.compact(now=NOW)
        if store.manifest.state.range_tombstones != []:
            raise RuntimeError("full compaction did not clear the range tombstone")
        after = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in store.view(now=NOW).collect()
        )
        if before != after:
            raise RuntimeError("compaction changed the range-deleted view")
        return spark.createDataFrame(after, "key string, value string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_kv_snapshot_holds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tracked snapshot holds run FOR REAL under the correctness gate (the
    RocksDB snapshot-list / Badger minReadTs analog): customer rows bulk-
    load, a named hold pins the pre-delete snapshot, a range tombstone
    hides [h000010, h000030), one covered key is re-written BEFORE the
    merge, and leveled compaction runs. In-query assertions, each of
    which reddens the driver row if violated: (1) while held, the merge
    must RETAIN the tombstone, the covered rows, AND the overwritten
    key's boundary version (snapshot-aware compaction, `_retained_df`) —
    the held as-of read still returns every ingested key at its
    pre-snapshot value and the changefeed from the held seq still
    expands the range into per-key deletes; (2) after release, the next
    leveled merge applies the mask physically, drops the manifest entry,
    and leaves the live view bit-identical. The checked output is the
    final live view."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.kv.store import Entry, KVStore

    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 50)
        .select(
            F.concat(
                F.lit("h"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")
            ).alias("key"),
            F.col("c_name").cast("binary").alias("value"),
        )
    )
    base = tempfile.mkdtemp(prefix=f"kv_hold_{uuid.uuid4().hex[:12]}_")
    try:
        store = KVStore(spark, f"{base}/kv")
        n_keys = store.ingest_df(cust, target_segments=2)
        snap = store.snapshot_seq()
        store.hold_snapshot("gate-consumer", seq=snap)
        store.delete_range(start="h000010", end="h000030")
        # a covered key reborn BEFORE the merge: snapshot-aware compaction
        # (_retained_df) must keep BOTH versions — the rebirth for the
        # live view and the held boundary version for as_of reads
        store.set(Entry("h000015", b"reborn"))
        store.compact_level(0, now=NOW)  # held: must not retire the mask
        if store.info()["range_tombstones"] != 1:
            raise RuntimeError("held range tombstone was retired by compaction")
        held_seen = store.view(now=NOW, as_of=snap).count()
        if held_seen != n_keys:
            raise RuntimeError(
                f"held as-of read lost covered rows: {held_seen} != {n_keys}"
            )
        held_15 = store.get("h000015", now=NOW, as_of=snap)
        if held_15 is None or held_15.value == b"reborn":
            raise RuntimeError(
                "held boundary version lost: as_of read saw the rebirth"
            )
        feed = {
            r["key"]: r["change"]
            for r in store.changes_since(snap, now=NOW).collect()
        }
        expect_deletes = {f"h{i:06d}" for i in range(10, 30)} - {"h000015"}
        if {k for k, c in feed.items() if c == "delete"} != expect_deletes:
            raise RuntimeError("held changefeed lost range-delete expansions")
        if feed.get("h000015") != "upsert":
            raise RuntimeError("reborn key missing from the held changefeed")
        before = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in store.view(now=NOW).collect()
        )
        store.release_snapshot("gate-consumer")
        store.compact_level(1, now=NOW)  # released: mask applies, entry drops
        if store.info()["range_tombstones"] != 0:
            raise RuntimeError("released range tombstone survived compaction")
        after = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in store.view(now=NOW).collect()
        )
        if before != after:
            raise RuntimeError("tombstone retirement changed the live view")
        return spark.createDataFrame(after, "key string, value string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


def q_kv_compaction_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction filter (the RocksDB CompactionFilter analog) run FOR
    REAL under the gate: customer rows bulk-load, then a full compaction
    with ``drop_where`` = (key number % 4 == 0) runs TWICE. First while
    a registered hold can see every row — the filter must touch NOTHING
    (snapshot-protected rows are exempt, the RocksDB rule), asserted
    in-query on the live count. Then after release — matching rows purge
    physically, asserted on the raw segment rows (no tombstones left
    behind: nothing retained lies beneath them). The checked output is
    the post-purge live view."""
    import shutil
    import tempfile
    import uuid

    from octopusdb_spark.kv.store import KVStore

    cust = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 60)
        .select(
            F.concat(
                F.lit("f"), F.lpad(F.col("c_custkey").cast("string"), 6, "0")
            ).alias("key"),
            F.col("c_name").cast("binary").alias("value"),
        )
    )
    drop_where = F.substring(F.col("key"), 2, 6).cast("int") % 4 == 0
    base = tempfile.mkdtemp(prefix=f"kv_cfilter_{uuid.uuid4().hex[:12]}_")
    try:
        store = KVStore(spark, f"{base}/kv")
        n_keys = store.ingest_df(cust, target_segments=2)
        snap = store.snapshot_seq()
        store.hold_snapshot("reader", seq=snap)
        store.compact(now=NOW, drop_where=drop_where)
        if store.view(now=NOW).count() != n_keys:
            raise RuntimeError("filter touched snapshot-protected rows")
        store.release_snapshot("reader")
        store.compact(now=NOW, drop_where=drop_where)
        raw_matching = store.raw_df().filter(drop_where).count()
        if raw_matching != 0:
            raise RuntimeError(
                f"{raw_matching} filtered rows survived physically after release"
            )
        live = sorted(
            (r["key"], bytes(r["value"]).decode("utf-8"))
            for r in store.view(now=NOW).collect()
        )
        return spark.createDataFrame(live, "key string, value string")
    finally:
        shutil.rmtree(base, ignore_errors=True)


ORACLES = {
    "kv_compaction_filter": """
        SELECT 'f' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS key,
               c_name AS value
        FROM customer
        WHERE c_custkey <= 60 AND c_custkey % 4 != 0
        ORDER BY key""",
    "kv_snapshot_holds": """
        SELECT 'h' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS key,
               c_name AS value
        FROM customer
        WHERE c_custkey <= 50 AND (c_custkey < 10 OR c_custkey >= 30)
        UNION ALL
        SELECT 'h000015' AS key, 'reborn' AS value
        ORDER BY key""",
    "kv_range_delete": """
        SELECT 'd' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS key,
               c_name AS value
        FROM customer
        WHERE c_custkey <= 60 AND (c_custkey < 20 OR c_custkey >= 40)
        UNION ALL
        SELECT 'd000025' AS key, 'reborn' AS value
        ORDER BY key""",
    "kv_replication": """
        SELECT 'r' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS key,
               CASE WHEN c_custkey % 7 = 0 THEN 'v2-' || c_name
                    ELSE c_name END AS value
        FROM customer
        WHERE c_custkey <= 50 AND c_custkey % 11 != 0
        ORDER BY key""",
    # Final fresh-replica state after base -> wave1(shipped: %5 overwrite,
    # %13 deletes, [45,48) range delete) -> [wave2 LOST at promotion] ->
    # wave3 on the promoted replica (%9 overwrite, revive 13) -> wave4
    # shipped to the fresh replica (%11 overwrite, delete 1). CASE order =
    # reverse wave order (later wave wins); WHERE drops keys whose LAST
    # event is a delete (1; 26/39/52; 46/47 — 45 was revived by wave 3).
    "kv_failover": """
        SELECT 'f' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS key,
               CASE WHEN c_custkey % 11 = 0 THEN 'w4-' || c_name
                    WHEN c_custkey = 13 THEN 'back'
                    WHEN c_custkey % 9 = 0 THEN 'w3-' || c_name
                    WHEN c_custkey % 5 = 0 THEN 'w1-' || c_name
                    ELSE c_name END AS value
        FROM customer
        WHERE c_custkey BETWEEN 2 AND 60
          AND NOT (c_custkey % 13 = 0 AND c_custkey != 13)
          AND c_custkey NOT IN (46, 47)
        ORDER BY key""",
    # three namespaces in one store: default = nations; cust = customers
    # 1..80 with every 7th overwritten; supp = suppliers 1..40 with every
    # 11th deleted; the dropped tmp family (parts <= 50) contributes
    # NOTHING — the O(1) drop + recreate-empty + physical purge are
    # asserted in-query
    "kv_column_families": """
        SELECT 'default' AS ns,
               'n' || lpad(CAST(n_nationkey AS VARCHAR), 4, '0') AS key,
               n_name AS value
        FROM nation
        UNION ALL
        SELECT 'cust' AS ns,
               'c' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS key,
               CASE WHEN c_custkey % 7 = 0 THEN 'v2-' || c_name
                    ELSE c_name END AS value
        FROM customer WHERE c_custkey BETWEEN 1 AND 80
        UNION ALL
        SELECT 'supp' AS ns,
               's' || lpad(CAST(s_suppkey AS VARCHAR), 6, '0') AS key,
               s_name AS value
        FROM supplier
        WHERE s_suppkey BETWEEN 1 AND 40 AND s_suppkey % 11 != 0
        ORDER BY ns, key""",
    # base (custkey*1000; identity when the tombstone wave killed it) +
    # one operand per order (o_orderkey % 100) + the write-side wave (+5
    # for every 7th customer). Keys whose last full event is the delete
    # and which carry no operands at all stay absent.
    "kv_merge_operator": """
        WITH ops AS (
          SELECT o_custkey AS ck, SUM(o_orderkey % 100) AS osum
          FROM orders WHERE o_custkey <= 40 GROUP BY 1
        )
        SELECT 'm' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS key,
               CAST((CASE WHEN c_custkey % 10 = 0 AND c_custkey > 0 THEN 0
                          ELSE c_custkey * 1000 END)
                    + COALESCE(osum, 0)
                    + (CASE WHEN c_custkey % 7 = 0 AND c_custkey > 0
                            THEN 5 ELSE 0 END)
                 AS VARCHAR) AS value
        FROM customer LEFT JOIN ops ON ops.ck = c_custkey
        WHERE c_custkey <= 40
          -- the testdata's custkeys start at 0, which the engine-side
          -- tombstone (10..40 step 10) and merge (7..35 step 7) waves
          -- do not touch; key m000000 keeps its base
          AND NOT (c_custkey % 10 = 0 AND c_custkey > 0 AND osum IS NULL)
        ORDER BY key""",
    "kv_remote_reads": """
        SELECT 's' || lpad(CAST(s_suppkey AS VARCHAR), 6, '0') AS key,
               s_name AS value
        FROM supplier WHERE s_suppkey <= 40 AND s_suppkey != 7 ORDER BY key""",
    "kv_pinned_reads": """
        SELECT 'c' || lpad(CAST(c_custkey AS VARCHAR), 6, '0') AS key,
               c_name AS value
        FROM customer WHERE c_custkey <= 60 ORDER BY key""",
    "kv_latest_live": KV_BASE + "SELECT key, value, expires_at, version FROM live ORDER BY key",
    "kv_point_lookup": KV_BASE + "SELECT key, value, expires_at, version FROM live WHERE key = 'u0007'",
    "kv_prefix_scan": KV_BASE
    + "SELECT key, value, expires_at, version FROM live WHERE key LIKE 'u001%' ORDER BY key",
    "kv_range_seek": KV_BASE
    + "SELECT key, value, expires_at, version FROM live WHERE key >= 'u0050' AND key < 'u0080' ORDER BY key DESC",
    "kv_version_history": KV_BASE
    + """SELECT key, version, value, value IS NULL AS is_tombstone
         FROM kv WHERE key IN ('u0003','u0007') ORDER BY key, version DESC""",
    "kv_tombstoned_keys": KV_BASE
    + "SELECT key, version FROM latest WHERE rn = 1 AND value IS NULL ORDER BY key",
    "kv_ttl_classes": KV_BASE
    + """SELECT CASE WHEN expires_at = 0 THEN 'never'
                WHEN expires_at > 2000000000 THEN 'live'
                ELSE 'expired' END AS ttl_class,
                count(*) AS n_keys
         FROM latest WHERE rn = 1 GROUP BY 1 ORDER BY 1""",
    "kv_value_separation": """
        SELECT doc_id,
               length(text) >= 300 AS was_separated,
               length(text) AS recovered_chars
        FROM documents ORDER BY doc_id""",
    "kv_merge_sorted_runs": KV_BASE
    + "SELECT key, value, expires_at, version FROM live ORDER BY key",
    "kv_gc_discard_stats": KV_BASE
    + """SELECT seq % 8 AS value_segment,
                count(*) AS dead_entries,
                CAST(sum(length(value)) AS BIGINT) AS dead_bytes
         FROM latest WHERE rn > 1 AND value IS NOT NULL
         GROUP BY 1 ORDER BY 1""",
    "kv_binary_key_scan": """
        SELECT lower(hex(unhex(md5(CAST(doc_id AS VARCHAR))))) AS key_hex,
               doc_id, n_chars
        FROM documents
        WHERE unhex(md5(CAST(doc_id AS VARCHAR))) < unhex('20')
        ORDER BY 1""",
    "kv_changefeed": KV_BASE
    + """, cut AS (SELECT CAST(floor(max(seq) * 0.8) AS BIGINT) AS cutoff FROM kv),
    delta AS (SELECT kv.* FROM kv, cut WHERE kv.seq > cut.cutoff),
    dn AS (
      SELECT *, row_number() OVER (PARTITION BY key ORDER BY version DESC, seq DESC) AS drn
      FROM delta
    )
    SELECT key,
           CASE WHEN value IS NULL OR (expires_at != 0 AND expires_at <= 2000000000)
                THEN 'delete' ELSE 'upsert' END AS change,
           value, version
    FROM dn WHERE drn = 1 ORDER BY key""",
    "kv_changefeed_preimage": KV_BASE
    + """, cut AS (SELECT CAST(floor(max(seq) * 0.8) AS BIGINT) AS cutoff FROM kv),
    delta AS (SELECT kv.* FROM kv, cut WHERE kv.seq > cut.cutoff),
    dn AS (
      SELECT *, row_number() OVER (PARTITION BY key ORDER BY version DESC, seq DESC) AS drn
      FROM delta
    ),
    base AS (SELECT kv.* FROM kv, cut WHERE kv.seq <= cut.cutoff),
    bn AS (
      SELECT *, row_number() OVER (PARTITION BY key ORDER BY version DESC, seq DESC) AS brn
      FROM base
    ),
    pre AS (
      SELECT key, value AS old_value FROM bn
      WHERE brn = 1 AND value IS NOT NULL AND (expires_at = 0 OR expires_at > 2000000000)
    )
    SELECT dn.key,
           CASE WHEN dn.value IS NULL OR (dn.expires_at != 0 AND dn.expires_at <= 2000000000)
                THEN 'delete' ELSE 'upsert' END AS change,
           dn.value, pre.old_value, dn.version
    FROM dn LEFT JOIN pre ON pre.key = dn.key
    WHERE dn.drn = 1 ORDER BY dn.key""",
}

QUERIES = {
    "kv_latest_live": q_kv_latest_live,
    "kv_point_lookup": q_kv_point_lookup,
    "kv_prefix_scan": q_kv_prefix_scan,
    "kv_range_seek": q_kv_range_seek,
    "kv_version_history": q_kv_version_history,
    "kv_tombstoned_keys": q_kv_tombstoned_keys,
    "kv_ttl_classes": q_kv_ttl_classes,
    "kv_value_separation": q_kv_value_separation,
    "kv_merge_sorted_runs": q_kv_merge_sorted_runs,
    "kv_gc_discard_stats": q_kv_gc_discard_stats,
    "kv_binary_key_scan": q_kv_binary_key_scan,
    "kv_changefeed": q_kv_changefeed,
    "kv_changefeed_preimage": q_kv_changefeed_preimage,
    "kv_pinned_reads": q_kv_pinned_reads,
    "kv_remote_reads": q_kv_remote_reads,
    "kv_replication": q_kv_replication,
    "kv_failover": q_kv_failover,
    "kv_merge_operator": q_kv_merge_operator,
    "kv_column_families": q_kv_column_families,
    "kv_range_delete": q_kv_range_delete,
    "kv_snapshot_holds": q_kv_snapshot_holds,
    "kv_compaction_filter": q_kv_compaction_filter,
}
