"""Structured Streaming validation: the same compiled CheckSuite over
an unbounded stream.

The reference is strictly batch (one document per process run,
/root/reference/canner/src/validate.cpp); an engine at 10^12-clip
scale also needs continuous validation of arriving data. Because row
checks compile to Column expressions, the SAME suite runs unchanged on
a streaming DataFrame — this module only adds the streaming plumbing:

- `validate_stream`: readStream → violations (explode) → append sink.
  Stateless, so no watermark is required; violations land within one
  micro-batch of arrival.
- `windowed_verdicts`: per event-time window × partition verdict
  aggregation with a watermark for late clips — the streaming analog
  of the per-partition verdict table. The watermark is what evicts
  its state, so the state store stays bounded on an unbounded stream.
- `validate_stream_with_lineage`: foreachBatch sink that commits each
  micro-batch with the batch engine (job.all_violations, then
  checkpoint.commit) into out_dir/stream_id=<sid>/batch_id=<n>/ —
  violations/, verdicts/ and manifest/, the layout job.run writes.

All accept any streaming source; tests use a parquet file source with
Trigger.AvailableNow and the rate source (rate_clips_stream) for
determinism.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from canned_yaml_spark.checks import CheckSuite, Severity
from canned_yaml_spark.runner import (
    max_violation_severity, row_violations, violation_count,
)


def validate_stream(stream_df: DataFrame, suite: CheckSuite,
                    out_dir: str, checkpoint_dir: str,
                    id_col: str = "clip_id",
                    part_col: str = "part_id") -> DataStreamWriter:
    """Append-mode violations sink. Caller picks the trigger and calls
    .start(); exactly-once via the streaming checkpoint. The batch
    builder runner.row_violations is a stateless map (no shuffle, no
    state store), so it runs on the stream unchanged."""
    v = row_violations(stream_df, suite, id_col, part_col)
    return (v.writeStream
             .format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", checkpoint_dir)
             .outputMode("append"))


def windowed_verdicts(stream_df: DataFrame, suite: CheckSuite,
                      ts_col: str = "ts",
                      window: str = "1 minute",
                      watermark: str = "2 minutes",
                      part_col: str = "part_id") -> DataFrame:
    """Per (event-time window, partition) verdicts with late-data
    tolerance: one stateful windowed aggregation, pass = no ERROR in
    the window (the reference's verdict rule, canner.cc:1101)."""
    return (stream_df
            .withWatermark(ts_col, watermark)
            .select(F.col(ts_col), F.col(part_col).alias("part_id"),
                    violation_count(suite.row_checks).alias("n_viol"),
                    max_violation_severity(suite.row_checks).alias("max_sev"))
            .groupBy(F.window(ts_col, window), F.col("part_id"))
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.sum("n_viol").alias("n_violations"),
                 F.max("max_sev").alias("max_sev"))
            .select("window", "part_id", "n_rows", "n_violations",
                    (F.col("max_sev") < int(Severity.ERROR)).alias("pass")))


def validate_stream_with_lineage(stream_df: DataFrame, suite: CheckSuite,
                                 out_dir: str, checkpoint_dir: str,
                                 run_id: str, *,
                                 dims: dict[str, DataFrame] | None = None,
                                 clips_ref: DataFrame | None = None,
                                 id_col: str = "clip_id",
                                 part_col: str = "part_id"
                                 ) -> DataStreamWriter:
    """foreachBatch sink that commits every micro-batch with the batch
    engine: job.all_violations over the batch's static frame, then
    checkpoint.commit into out_dir/stream_id=<sid>/batch_id=<n>/, an
    ordinary job.run out_dir (violations/, verdicts/, manifest/).

    Every family job.all_violations runs executes once per batch; dims
    and clips_ref feed the reference families as in job.run, and are
    re-planned per batch (an x-ref / x-absent inline key list is
    collected per batch). The table-scoped families (x-unique, drift,
    ...) see the one micro-batch as the table.

    A batch whose manifest/ holds a file is a replay and is skipped
    (checkpoint.is_committed: one listing, no Spark job). stream_id is
    a token kept inside the streaming checkpoint
    (checkpoint.stream_identity): batch ids restart at 0 when the
    checkpoint is recreated, and the new incarnation writes under its
    own directory, leaving the old one intact. All batches' lineage:
    spark.read.option("basePath", out_dir)
         .parquet(f"{out_dir}/stream_id=*/batch_id=*/manifest")
    """
    from canned_yaml_spark import checkpoint, job

    stream_id: str | None = None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal stream_id
        spark = batch_df.sparkSession
        if stream_id is None:        # the checkpoint dir exists by now
            stream_id = checkpoint.stream_identity(spark, checkpoint_dir)
        batch_dir = f"{out_dir}/stream_id={stream_id}/batch_id={batch_id}"
        if checkpoint.is_committed(spark, batch_dir):
            return                              # replay of a committed batch
        viol = job.all_violations(batch_df, suite, dims=dims,
                                  clips_ref=clips_ref,
                                  id_col=id_col, part_col=part_col)
        checkpoint.commit(spark, batch_df, viol, batch_dir, run_id,
                          part_col=part_col)

    return (stream_df.writeStream
            .foreachBatch(process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append"))


# ------------------------------------------------- non-file sources
def rate_clips_stream(spark, rows_per_batch: int = 200,
                      start_key: int = 0,
                      view: str = "_rate_orders") -> DataFrame:
    """Non-file streaming source: deterministic clips derived from the
    `rate-micro-batch` source's monotonically increasing `value`
    through the SAME integer-arithmetic derivation
    (derive.clips_select) as the batch corpus — so a batch
    recomputation over the observed key range is the stream's oracle.
    rate-micro-batch (unlike `rate`) emits exactly `rows_per_batch`
    sequential values per trigger, independent of wall clock, which
    keeps the test deterministic."""
    from canned_yaml_spark import derive

    src = (spark.readStream.format("rate-micro-batch")
           .option("rowsPerBatch", rows_per_batch)
           .option("startTimestamp", 0)
           .load()
           .select((F.col("value") + F.lit(start_key)).alias("o_orderkey")))
    src.createOrReplaceTempView(view)
    return spark.sql(derive.clips_select("spark", view))
