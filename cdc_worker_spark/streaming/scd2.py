"""Incremental SCD Type-2 maintenance over the CDC stream.

The batch operator (operators/curation.q_cdc_scd2) rebuilds the full
versioned history from scratch; a 100 TB deployment maintains it
INCREMENTALLY: each micro-batch closes the affected entities' open
intervals and appends new versions, leaving every untouched entity's
history on disk. The reference's design doc (:654-727) specifies
latest-wins upsert — SCD2 is the keep-every-version warehouse twin, fed by
the same decoded change stream.

Design (the same shapes the rest of the streaming layer uses):
- storage: bucketed manifest-versioned parquet, copy-on-write per touched
  bucket (streaming/pipeline.BucketedTable, the table LatestWinsState
  also is — a merge that touches 1 bucket writes 1 bucket);
- idempotence: the committed batch ids ride in the manifest publish that
  commits the data, which makes foreachBatch replays no-ops, so interval
  counts never double-count;
- the stitch itself is pure DataFrame algebra: stored intervals ARE runs,
  so "merge stored history with a new batch" = union the stored runs of
  TOUCHED entities with the batch's collapsed runs, then re-run the
  gaps-and-islands collapse treating each run as a weighted pseudo-event.
  Re-collapsing is associative, which is what makes incremental == batch
  (asserted in tests/test_streaming_scd2.py).

Ordering: events are assumed watermark-ordered across batches per entity
(the pipeline's dedup/watermark stage upstream guarantees this); within a
batch any order is fine — the collapse sorts by (ts_ms, event_id).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from cdc_worker_spark.streaming.pipeline import BucketedTable

#: on-disk layout version. v1 had no anchor_id column; v2 (current) added
#: it as the deterministic restitch tiebreak. Reading v1 state with the v2
#: schema would silently yield NULL anchor_ids and quietly degrade the
#: tiebreak back to nondeterministic ordering — so v1 state is REFUSED
#: loudly instead (ADVICE r6): rebuild from the batch operator or replay.
SCD2_LAYOUT_VERSION = 2

#: stored interval rows (one per version per entity). anchor_id is the
#: event_id of the version's first event — the deterministic tiebreak that
#: keeps restitch order total when two runs share a valid_from_ms.
SCD2_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("version", LongType()),
        StructField("event_type", StringType()),
        StructField("valid_from_ms", LongType()),
        StructField("valid_to_ms", LongType()),
        StructField("n_events", LongType()),
        StructField("anchor_id", LongType()),
    ]
)


def collapse_runs(events: DataFrame) -> DataFrame:
    """(user_id, event_type, ts_ms, event_id) -> closed/open runs
    (user_id, event_type, valid_from_ms, n_events, anchor_id), one row per
    maximal same-type run in (ts_ms, event_id) order. anchor_id = the
    event_id of the run's first event under that total order, carried so
    downstream stitching stays deterministic when two runs of one user
    start at the same ts_ms. The batch-side half of the SCD2 build;
    versions/valid_to are assigned after stitching."""
    w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    runs = events.select(
        "user_id",
        "event_type",
        "ts_ms",
        "event_id",
        F.sum(chg).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("run_id"),
    )
    return runs.groupBy("user_id", "run_id", "event_type").agg(
        F.min("ts_ms").alias("valid_from_ms"),
        F.count("*").alias("n_events"),
        F.min(F.struct("ts_ms", "event_id"))["event_id"].alias("anchor_id"),
    ).drop("run_id")


def _restitch(runs: DataFrame) -> DataFrame:
    """Re-collapse adjacent same-type runs (each run = a weighted pseudo-
    event at its valid_from) and assign version/valid_to/is-open. The
    second collapse is what makes incremental maintenance associative:
    collapse(collapse(A) ∪ collapse(B)) == collapse(A ∪ B) for
    time-ordered A, B. Runs are ordered by (valid_from_ms, anchor_id) —
    the anchor tiebreak mirrors the event-level (ts_ms, event_id) total
    order, so equal-timestamp adjacent runs stitch deterministically
    (matching the batch q_cdc_scd2 convention)."""
    w = Window.partitionBy("user_id").orderBy("valid_from_ms", "anchor_id")
    prev = F.lag("event_type").over(w)
    chg = F.when(prev.isNull() | (prev != F.col("event_type")), 1).otherwise(0)
    grouped = (
        runs.select(
            "user_id",
            "event_type",
            "valid_from_ms",
            "n_events",
            "anchor_id",
            F.sum(chg).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ).alias("version"),
        )
        .groupBy("user_id", "version", "event_type")
        .agg(
            F.min("valid_from_ms").alias("valid_from_ms"),
            F.sum("n_events").alias("n_events"),
            F.min(F.struct("valid_from_ms", "anchor_id"))["anchor_id"].alias(
                "anchor_id"
            ),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("version")
    return grouped.select(
        "user_id",
        F.col("version").cast("long"),
        "event_type",
        "valid_from_ms",
        F.lead("valid_from_ms").over(w2).alias("valid_to_ms"),
        "n_events",
        "anchor_id",
    )


class Scd2State(BucketedTable):
    """The SCD2 dimension table: a :class:`BucketedTable` keyed by user_id
    whose manifest also carries the layout version and the committed batch
    ids. Every stored interval row is live, so :meth:`read` is the full
    table."""

    bucket_key = ("user_id",)
    schema = SCD2_SCHEMA
    read = BucketedTable.read_full

    def _manifest(self, at_version: int | None = None) -> dict:
        manifest = super()._manifest(at_version)
        # a manifest with data but no layout marker predates v2 (anchor_id)
        layout = manifest.get("layout", 1 if manifest["buckets"] else SCD2_LAYOUT_VERSION)
        if layout != SCD2_LAYOUT_VERSION:
            raise ValueError(
                f"SCD2 state at {self.path} has layout v{layout}; this engine "
                f"writes v{SCD2_LAYOUT_VERSION} (anchor_id tiebreak). Reading "
                "old-layout state would silently NULL anchor_id — rebuild the "
                "dimension from the batch operator or replay the stream into "
                "a fresh state directory."
            )
        manifest["layout"] = layout
        return manifest

    def committed_batch_ids(self) -> set[int]:
        """Batch ids already folded into the stored history. Recorded in
        the SAME manifest publish that commits the data, so "state merged"
        and "batch committed" are one atomic step — no
        crash-between-two-writes replay corruption (a separate ledger file
        had exactly that window)."""
        return set(self._manifest().get("committed_batch_ids", []))

    def merge_batch(
        self, spark: SparkSession, batch: DataFrame, batch_id: int | None = None
    ) -> None:
        """Stitch one micro-batch of events into the stored history.

        Reads ONLY the buckets the batch touches; unioned stored runs +
        batch runs re-collapse (associativity, see _restitch) and the
        touched buckets rewrite under a new manifest version. When
        ``batch_id`` is given, the merge is exactly-once: an id already in
        the manifest's committed set is a no-op, and the id is committed
        by the same manifest publish that commits the buckets."""
        self.sync_layout()
        extra = {}
        if batch_id is not None:
            committed = self.committed_batch_ids()
            if batch_id in committed:
                return
            extra["committed_batch_ids"] = sorted(committed | {int(batch_id)})
        batch_runs = collapse_runs(batch).localCheckpoint(eager=True)
        touched = sorted(
            r[0]
            for r in batch_runs.select(self.bucket_col().alias("b"))
            .distinct()
            .collect()
        )
        if not touched and batch_id is None:
            return
        stored = self.read(spark, buckets=touched)
        all_runs = (
            batch_runs
            if stored is None
            else stored.select(
                "user_id", "event_type", "valid_from_ms", "n_events", "anchor_id"
            ).unionByName(batch_runs)
        )
        # one task per touched bucket: one file per bucket directory
        new_rows = _restitch(all_runs).repartition(self.bucket_col())
        self.write_buckets(new_rows, touched, extra)


def run_scd2_pipeline(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int | None = 1,
    available_now: bool = True,
):
    """Stream jsonl change events (user_id, event_type, ts_ms, event_id)
    into an incrementally-maintained SCD2 dimension. foreachBatch with the
    batch id committed INSIDE the state manifest (one publish commits
    buckets + commit record together) = exactly-once interval counts under
    replay, with no crash window between "merged" and "recorded"."""
    os.makedirs(checkpoint_dir, exist_ok=True)
    state = Scd2State(state_dir)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        state.merge_batch(spark, batch_df, batch_id=batch_id)

    event_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("ts_ms", LongType()),
            StructField("event_id", LongType()),
        ]
    )
    reader = spark.readStream.schema(event_schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.json(input_dir)
    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "query")
    )
    if available_now:
        q = writer.trigger(availableNow=True).start()
        q.awaitTermination()
        return None
    return writer.start()
