"""Continuous aggregate (hypertable-rollup) maintenance over a stream.

The batch query surface has `q_time_rollup` (year→quarter→month ROLLUP in
one pass); this is its streaming twin: a materialized per-(bucket, group)
aggregate table maintained incrementally from micro-batches, readable at
any moment with one cheap scan — the TimescaleDB continuous-aggregate /
Druid rollup shape built on Spark + the engine's manifest machinery.

Design:
- each micro-batch is pre-aggregated map-side (partial agg), then merged
  with the current rollup state by (bucket, group) — work per batch is
  O(batch) + O(touched groups), never a rescan of history;
- the merged table is written as a fresh Parquet snapshot and committed
  through the same atomic ``Manifest`` as the KV store: readers always see
  a consistent version, a crash mid-write leaves only an orphan file;
- replays are idempotent per (checkpoint, batch_id) via the manifest's
  ``stream_commits`` bookkeeping, so foreachBatch's at-least-once delivery
  cannot double-count;
- state is bounded by the bucket × group cardinality (time-bucketed keys
  grow slowly), and the snapshot rewrite is proportional to that state,
  not to the ingested history.

At 100 TB of stream history the rollup table is the small thing (one row
per bucket-group); the merge shuffle is keyed by (bucket, group) and the
snapshot write is a single narrow table — this maintains dashboards over
unbounded streams without ever recomputing them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from octopusdb_spark.kv.manifest import Manifest, ManifestState, SegmentInfo

ROLLUP_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.LongType(), False),
        T.StructField("grp", T.StringType(), True),
        T.StructField("n_events", T.LongType(), False),
        T.StructField("total_value", T.DoubleType(), True),
        T.StructField("min_value", T.DoubleType(), True),
        T.StructField("max_value", T.DoubleType(), True),
    ]
)


class ContinuousRollup:
    """Materialized (bucket, group) → (count, sum) aggregate with atomic
    versioned snapshots and idempotent streaming maintenance."""

    def __init__(self, spark: SparkSession, root: str, bucket_seconds: int = 3600):
        self.spark = spark
        self.root = root
        self.bucket_seconds = bucket_seconds
        self.manifest = Manifest(root)

    # ---------------------------------------------------------------- read
    def table(self, state: ManifestState | None = None) -> DataFrame:
        st = state if state is not None else self.manifest.state
        segs = [s for s in st.segments if s.kind == "data"]
        if not segs:
            return self.spark.createDataFrame([], ROLLUP_SCHEMA)
        return self.spark.read.schema(ROLLUP_SCHEMA).parquet(*[s.path for s in segs])

    # --------------------------------------------------------------- write
    def merge_batch(
        self,
        batch_df: DataFrame,
        ts_us_col: str = "ts_us",
        group_col: str = "event_type",
        value_col: str = "value",
        commit_tag: tuple | None = None,
    ) -> int:
        """Merge one micro-batch into the rollup. Partial-aggregates the
        batch, unions with current state, re-aggregates by (bucket, grp) —
        sums accumulate in DECIMAL(38,6) so merge order never changes the
        result — and commits a new snapshot. Returns rows in the batch."""
        state = self.manifest.state
        if commit_tag is not None:
            done = state.stream_commits.get(commit_tag[0])
            if done is not None and int(commit_tag[1]) <= int(done):
                return 0
        bucket = (
            (F.col(ts_us_col) / F.lit(1_000_000)).cast("long")
            / F.lit(self.bucket_seconds)
        ).cast("long") * F.lit(self.bucket_seconds)
        batch_agg = (
            batch_df.select(
                bucket.alias("bucket"),
                F.col(group_col).alias("grp"),
                F.col(value_col).cast("double").alias("v"),
            )
            .groupBy("bucket", "grp")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("v").cast("decimal(38,6)")).alias("dv"),
                F.min("v").alias("min_value"),
                F.max("v").alias("max_value"),
            )
            .select(
                "bucket",
                "grp",
                "n_events",
                F.col("dv").cast("double").alias("total_value"),
                "min_value",
                "max_value",
            )
        )
        n_batch = batch_agg.agg(F.sum("n_events")).collect()[0][0]
        if not n_batch:
            return 0
        merged = (
            self.table(state)
            .unionByName(batch_agg)
            .groupBy("bucket", "grp")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum(F.col("total_value").cast("decimal(38,6)"))
                .cast("double")
                .alias("total_value"),
                # min/max merge losslessly (idempotent, order-free) — the
                # textbook mergeable-aggregate set alongside count/sum
                F.min("min_value").alias("min_value"),
                F.max("max_value").alias("max_value"),
            )
        )
        seg_id, path = self.manifest.new_segment_path("data")
        merged.repartitionByRange(4, "bucket", "grp").write.mode("overwrite").parquet(path)
        stats = (
            self.spark.read.schema(ROLLUP_SCHEMA)
            .parquet(path)
            .agg(F.count("*").alias("cnt"), F.sum("n_events").alias("tot"))
            .collect()[0]
        )
        changes = {}
        if commit_tag is not None:
            changes["stream_commits"] = {
                **state.stream_commits, commit_tag[0]: int(commit_tag[1])
            }
        self.manifest.commit(
            next_seq=state.next_seq + 1,
            segments=[
                SegmentInfo(
                    segment_id=seg_id,
                    kind="data",
                    level=0,
                    path=path,
                    min_key=None,
                    max_key=None,
                    row_count=int(stats["cnt"]),
                    size_bytes=0,
                    created_seq=state.next_seq,
                )
            ],
            **changes,
        )
        return int(n_batch)


def maintain_rollup_stream(
    stream_df: DataFrame,
    rollup: ContinuousRollup,
    checkpoint_dir: str,
    ts_us_col: str = "ts_us",
    group_col: str = "event_type",
    value_col: str = "value",
    prune_every: int = 8,
):
    """Run a stream into the rollup: one atomic snapshot per micro-batch,
    idempotent under foreachBatch replays. Every ``prune_every`` batches
    the snapshot history is swept (keep last 2), so an always-on stream
    holds a bounded number of rollup segments on disk. Returns the
    StreamingQuery."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        n = rollup.merge_batch(
            batch_df,
            ts_us_col=ts_us_col,
            group_col=group_col,
            value_col=value_col,
            commit_tag=(checkpoint_dir, int(batch_id)),
        )
        if n and prune_every and (int(batch_id) + 1) % prune_every == 0:
            rollup.manifest.prune_versions(keep_last=2)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
