"""Continuous KV replication: streaming ingest + per-batch log shipping.

The reference's cluster layer is aspirational (A25: a YAML config + raft
dependency with an empty ``cmd/main.go:3-4``); the Spark-idiomatic stand-in
is CDC log shipping (``KVStore.changes_since`` -> ``apply_changes``), and
this module runs that shipping CONTINUOUSLY: every micro-batch ingested
into the primary is followed by shipping the primary's changefeed interval
to the replica inside the same ``foreachBatch`` callback, so the replica
trails the primary by at most one batch.

Resume-point durability rides the tracked-snapshot holds: the replica's
last-shipped seq is registered as a named hold on the PRIMARY
(``hold_snapshot``), which simultaneously (a) persists the resume point in
the primary's manifest (a restarted shipper resumes exactly), and (b)
pins every range tombstone the un-shipped interval still needs — primary
maintenance cannot retire a range delete before the replica has seen its
expansion. Advancing the hold after each shipped batch releases retention
incrementally, exactly the consumer-checkpoint protocol of any log system.

Exactly-once end to end: the primary ingest commit and the replica apply
are each idempotent per (checkpoint, batch_id) via
``ManifestState.stream_commits``, so a crash-replayed batch re-ships an
interval the replica then no-ops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from octopusdb_spark.kv.store import KVStore


def stream_ingest_with_replication(
    stream_df: DataFrame,
    primary: KVStore,
    replica: KVStore,
    checkpoint_dir: str,
    holder: str = "replica",
    key_col: str = "key",
    value_col: str = "value",
    expires_col: str | None = None,
    target_segments: int = 2,
    maintenance_every: int | None = None,
    now: int | None = None,
    merge_col: str | None = None,
    cf: str | None = None,
):
    """Run a streaming DataFrame into ``primary`` and ship each committed
    interval to ``replica`` in the same micro-batch. The shipper's resume
    seq is the ``holder`` hold on the primary (register it at the feed
    start, e.g. ``primary.hold_snapshot(holder, 0)`` for
    replicate-from-genesis, or at the seq a ``clone_to`` bootstrap was
    taken). Returns the StreamingQuery; caller awaits termination.

    Per batch, serially (single-writer discipline): (1) ``ingest_df`` into
    the primary, idempotent per (checkpoint, batch_id); (2)
    ``changes_since(held seq)`` shipped via ``apply_changes``, idempotent
    per (checkpoint#ship, batch_id); (3) the hold advances to the shipped
    snapshot; (4) optionally a primary ``maintenance_tick`` every
    ``maintenance_every`` batches — safe at any cadence because the hold
    guarantees un-shipped range tombstones survive it.

    ``cf`` routes the ingest into one column family (as in
    ``ingest_stream_to_kv``); the ship stays the FULL feed, so the
    replica mirrors every namespace — bootstrap it via ``clone_to`` (the
    catalog rides along) per the ``changes_since`` consumer contract."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        cols = [
            F.col(key_col).cast(primary.key_type).alias("key"),
            F.col(value_col).cast("binary").alias("value"),
        ]
        if expires_col is not None:
            cols.append(F.col(expires_col).cast("long").alias("expires_at"))
        if merge_col is not None:
            # streamed merge operands (see ingest_stream_to_kv): the ship
            # below carries them as 'merge' events and apply_changes
            # re-lands them as operands — end-to-end streaming counters
            cols.append(F.col(merge_col).cast("boolean").alias("_merge_flag"))
        writer = primary if cf is None else primary.cf(cf)
        writer.ingest_df(
            batch_df.select(*cols),
            expires_col="expires_at" if expires_col is not None else None,
            target_segments=target_segments,
            commit_tag=(checkpoint_dir, int(batch_id)),
            merge_col="_merge_flag" if merge_col is not None else None,
        )
        resume = int(primary.manifest.state.held_snapshots.get(holder, 0))
        shipped_to = primary.snapshot_seq()
        # pin the ship to (resume, shipped_to]: the hold below advances to
        # exactly the interval that was applied, even if another commit
        # lands between the snapshot and the apply
        feed = primary.changes_since(resume, now=now, as_of=shipped_to)
        replica.apply_changes(
            feed,
            commit_tag=(f"{checkpoint_dir}#ship", int(batch_id)),
            target_segments=target_segments,
            # fenced shipping: a replica that was promoted (or followed a
            # newer leader) refuses this deposed primary's batches instead
            # of diverging — StaleWriterError fails the streaming query
            source_epoch=primary.writer_epoch,
        )
        # advance the resume point only after the apply committed: a crash
        # between apply and advance re-ships an interval the replica no-ops
        primary.hold_snapshot(holder, shipped_to)
        if maintenance_every and (int(batch_id) + 1) % maintenance_every == 0:
            primary.maintenance_tick(now=now)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
