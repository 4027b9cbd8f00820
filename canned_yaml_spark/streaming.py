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
  of the per-partition verdict table.

Both accept any streaming source; tests use a parquet file source with
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


def stream_ref_violations(stream_df: DataFrame, clips_ref: DataFrame,
                          suite: CheckSuite,
                          id_col: str = "clip_id",
                          part_col: str = "part_id") -> DataFrame:
    """Reference-table check families over a STREAM: x-payload
    (decode + SNR + transcript equality) and x-transcript (tolerance
    bounds) run on each micro-batch via stream-static joins against
    the static reference table — continuous-ingest validation, the
    north_star's posture, with the SAME operators the batch path uses
    (payload_violations / transcript_violations are plain DataFrame
    transforms; Structured Streaming supports stateless stream-static
    equi-joins and mapInPandas, so they compose unchanged and the
    stream==batch equality is pinned in tests/test_streaming.py).

    Append-safe: no watermark, no state store. Scale note: the static
    side is re-planned each micro-batch; with the reference table
    bucketed by clip_id the per-batch join is exchange-free on the
    static side and only the (small) micro-batch shuffles — the same
    layout argument as the batch path, now amortized per trigger.
    """
    from canned_yaml_spark import payload as pl
    parts = []
    for pc in suite.payload_checks:
        parts.append(pl.payload_violations(
            stream_df, clips_ref, pc, id_col, part_col))
    for tc in suite.transcript_checks:
        if tc.column in stream_df.columns:
            parts.append(pl.transcript_violations(
                stream_df, clips_ref, tc, id_col, part_col))
    if not parts:
        raise ValueError("suite has no reference-table checks "
                         "(x-payload / x-transcript)")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def stream_absent_violations(stream_df: DataFrame, blocklist: DataFrame,
                             suite: CheckSuite,
                             id_col: str = "clip_id",
                             part_col: str = "part_id") -> DataFrame:
    """x-absent deny-list checks over a STREAM: each micro-batch
    stream-static LEFT SEMI joins against the static blocklist —
    continuous-ingest blocking of known-bad ids/hashes with the SAME
    operator the batch path uses (absent_violations is a plain
    DataFrame transform; Structured Streaming supports stateless
    stream-static semi-joins, so it composes unchanged).

    The inline-IN plan snapshots at plan build, which for a stream
    would freeze the blocklist for the query's lifetime — so the
    stream path always takes the join (max_inline_keys=0): the static
    side is re-planned each micro-batch, picking up blocklist
    appends between triggers. Append-safe: no watermark, no state.
    """
    from canned_yaml_spark import dataset as ds
    parts = [ds.absent_violations(stream_df, blocklist, ac,
                                  id_col, part_col, max_inline_keys=0)
             for ac in suite.absent_checks]
    if not parts:
        raise ValueError("suite has no x-absent checks")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def stream_media_violations(stream_df: DataFrame, suite: CheckSuite,
                            id_col: str = "media_id",
                            part_col: str = "part_id") -> DataFrame:
    """x-media checks over a STREAM: continuous-ingest media
    validation with the SAME operator the batch path uses
    (multimodal.media_violations is one stateless mapInPandas decode
    pass + JVM filters — no join, no watermark, no state store, so it
    composes onto a streaming DataFrame unchanged and the
    stream==batch equality is pinned in tests/test_streaming.py).
    Per-micro-batch cost is the Arrow decode of that batch's payloads
    only; nothing accumulates."""
    from canned_yaml_spark import multimodal as mmod
    parts = [mmod.media_violations(stream_df, mc, id_col, part_col)
             for mc in suite.media_checks]
    if not parts:
        raise ValueError("suite has no x-media checks")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def running_verdicts(stream_df: DataFrame, suite: CheckSuite,
                     part_col: str = "part_id",
                     state_timeout_ms: int = 600_000) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): RUNNING
    per-partition verdict across micro-batches.

    Unlike windowed_verdicts (built-in windowed agg), this keeps an
    explicit per-partition state tuple (n_rows, n_violations, max_sev)
    that accumulates over the stream's lifetime and is EVICTED after
    `state_timeout_ms` without new data for that partition — the
    late-data state-eviction pattern for unbounded key spaces (at
    10^12 clips the partition key space is unbounded over time; state
    must age out or the store grows forever). Emits one updated verdict
    row per partition per micro-batch (update output mode), plus a
    final `evicted=true` row when the state times out.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    pre = stream_df.select(
        F.col(part_col).alias("part_id"),
        violation_count(suite.row_checks).alias("n_viol"),
        max_violation_severity(suite.row_checks).alias("max_sev"))

    def update(key, pdfs, state):
        import pandas as pd
        n_rows, n_violations, max_sev = (state.get if state.exists
                                         else (0, 0, -1))
        if state.hasTimedOut:
            state.remove()
            evicted = True
        else:
            for pdf in pdfs:
                n_rows += len(pdf)
                n_violations += int(pdf["n_viol"].sum())
                if len(pdf):
                    max_sev = max(max_sev, int(pdf["max_sev"].max()))
            state.update((n_rows, n_violations, max_sev))
            state.setTimeoutDuration(state_timeout_ms)
            evicted = False
        yield pd.DataFrame({
            "part_id": [int(key[0])],
            "n_rows": [n_rows],
            "n_violations": [n_violations],
            "pass": [max_sev < int(Severity.ERROR)],
            "evicted": [evicted]})

    return pre.groupBy("part_id").applyInPandasWithState(
        update,
        outputStructType="part_id int, n_rows long, n_violations long, "
                         "pass boolean, evicted boolean",
        stateStructType="n_rows long, n_violations long, max_sev int",
        outputMode="update",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout)


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
                                 manifest_dir: str, run_id: str,
                                 id_col: str = "clip_id",
                                 part_col: str = "part_id"
                                 ) -> DataStreamWriter:
    """Streaming lineage parity with the batch engine (VERDICT r3
    item 6 / ROADMAP 2): a foreachBatch sink that gives every
    micro-batch the SAME commit discipline batch jobs get from
    checkpoint.py —

    1. replayed batches are skipped (batch_id already in the manifest:
       a restart after crash-between-write-and-stream-checkpoint
       re-delivers the batch; the manifest probe makes the sink
       idempotent at the lineage level too);
    2. the batch's violation rows land partitioned BY batch_id, in a
       batch_id directory cleared first — a half-written replay or an
       earlier incarnation's batch of the same id is replaced, never
       duplicated or inherited;
    3. only then is the (batch_id, part_id) verdict row appended to
       the manifest — the manifest append is the commit point,
       exactly as in the batch path. The verdicts are derived from
       the batch's WRITTEN violations, read back from its own
       batch_id directory only (runner.violation_verdicts, the batch
       path's derivation), so the row suite runs once per batch.

    The manifest carries the same columns as batch runs' plus
    batch_id and stream_id (STREAM_MANIFEST_SCHEMA) — one queryable
    lineage SCHEMA across both execution modes, but the streaming
    manifest_dir must be its own directory, never shared with batch
    append_manifest output (plain parquet reads resolve the schema
    from an arbitrary file; mixed files make batch_id error or null
    out — ADVICE r4).

    Replay detection is keyed on (stream_id, batch_id), where
    stream_id is a token stored inside the streaming checkpoint dir
    (checkpoint.stream_identity): batch ids restart at 0 when the
    checkpoint is recreated, so a manifest that outlives its
    checkpoint would otherwise silently skip the fresh incarnation's
    real batches. The committed set is read from the manifest ONCE per
    sink start and maintained in the closure afterwards — this sink is
    the manifest's only appender, so the cache stays correct within a
    run and a long-lived stream does not pay an O(committed batches)
    manifest scan per micro-batch (ADVICE r4).
    """
    from canned_yaml_spark import checkpoint
    from canned_yaml_spark.runner import violation_verdicts

    committed: set[int] | None = None          # lazily read, then cached
    stream_id: str | None = None

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal committed, stream_id
        spark = batch_df.sparkSession
        if committed is None:
            # first batch of this sink's life: resolve the stream
            # incarnation (the checkpoint dir exists by now — the
            # stream has started) and read the manifest once
            stream_id = checkpoint.stream_identity(spark, checkpoint_dir)
            committed = checkpoint.committed_batches(spark, manifest_dir,
                                                     stream_id)
        if batch_id in committed:
            return                              # replay of a committed batch
        viol = (row_violations(batch_df, suite, id_col, part_col)
                .withColumn("batch_id", F.lit(batch_id)))
        # the batch's directory holds an uncommitted replay or an
        # earlier incarnation's batch of the same id: clear it, so a
        # batch with no violations cannot inherit its rows
        batch_dir = f"{out_dir}/batch_id={batch_id}"
        checkpoint.delete_dir(spark, batch_dir)
        (viol.write
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("batch_id")
             .mode("overwrite")
             .parquet(out_dir))
        if checkpoint.path_exists(spark, batch_dir):
            written = (spark.read.schema(viol.schema)
                       .option("basePath", out_dir).parquet(batch_dir))
        else:                                   # no violation row written
            written = spark.createDataFrame([], viol.schema)
        verdicts = violation_verdicts(batch_df, written, part_col)
        checkpoint.append_stream_manifest(verdicts, manifest_dir,
                                          run_id, batch_id, stream_id)
        committed.add(batch_id)

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
