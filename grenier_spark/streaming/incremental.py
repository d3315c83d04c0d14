"""Structured-Streaming incremental sketch maintenance.

The reference has no streaming model (SURVEY.md §1.1); sketches are
inherently incremental, so this is the natural extension (§7 step 8):
``foreachBatch`` builds partial sketches for each micro-batch and appends
them — with the batch id as the lineage unit — to the same snapshot-manifest
checkpoint table the batch layer uses (plans/checkpoint.py). The merged
"current sketch" is a pure associative fold over checkpoint rows, so stream
restarts and batch replays are idempotent at the byte level for
HLL/CMS/Bloom.

Exactly-once note: foreachBatch is at-least-once under failure; replays of a
batch id are detected via the lineage column and skipped, which upgrades the
sink to effectively-once — the same trick Delta/Iceberg sinks use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.sketch_build import (SketchSpec, _merge_partials,
                                      build_sketches)
from ..sources.tableio import SnapshotTable


class IncrementalSketchSink:
    def __init__(self, state_dir: str, specs: "list[SketchSpec]",
                 group_cols: "list[str] | None" = None, fanout: int = 32):
        self.table = SnapshotTable(state_dir)
        self.specs = list(specs)
        self.group_cols = list(group_cols or [])
        self.fanout = fanout
        self._seen_cache: "set[int] | None" = None

    def seen_batches(self, spark) -> "set[int]":
        # loaded from the state table ONCE per sink instance (restart
        # recovery), then maintained in memory: a full table scan per
        # micro-batch would cost O(batches) per trigger, growing without
        # bound over a long-running stream
        if self._seen_cache is None:
            if self.table.current_snapshot() is None:
                self._seen_cache = set()
            else:
                self._seen_cache = {
                    r.batch_id for r in self.table.read(spark)
                    .select("batch_id").distinct().collect()}
        return self._seen_cache

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """The foreachBatch hook."""
        spark = batch_df.sparkSession
        if batch_id in self.seen_batches(spark):
            return  # replay after failure -> skip, effectively-once
        partials = build_sketches(batch_df, self.specs,
                                  group_cols=self.group_cols,
                                  fanout=self.fanout)
        self.table.append(partials.withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")))
        self.seen_batches(spark).add(int(batch_id))

    def attach(self, stream_df: DataFrame, checkpoint_location: str,
               trigger_available_now: bool = True):
        """Wire onto a streaming DataFrame; returns the StreamingQuery."""
        writer = (stream_df.writeStream
                  .foreachBatch(self.process_batch)
                  .option("checkpointLocation", checkpoint_location))
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def current(self, spark) -> DataFrame:
        """Merged sketch state over all batches so far."""
        rows = self.table.read(spark)
        kind_of = {s.name: s.kind for s in self.specs}
        rows = rows.withColumn("part_id",
                               F.col("batch_id").cast("int")).drop("batch_id")
        # each seen batch appended one snapshot holding one row per
        # (group, spec), so no merge key has more rows than snapshots
        n_batches = len(self.table._read_manifest()["snapshots"])
        return _merge_partials(rows, kind_of, self.group_cols, self.fanout,
                               n_batches)
