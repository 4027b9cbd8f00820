"""Streaming validation: same suite, streaming source, AvailableNow."""

import pyspark.sql.functions as F
import pytest

from canned_yaml_spark import fixtures, streaming
from canned_yaml_spark.runner import row_verdicts, row_violations


def test_validate_stream_matches_batch(spark, suite, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "viol")
    chk = str(tmp_path / "chk")

    clips = fixtures.clips_df(spark, 400, max_samples=16)
    clips.write.parquet(src)

    stream = (spark.readStream
              .schema(clips.schema)
              .parquet(src))
    q = (streaming.validate_stream(stream, suite, out, chk)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = row_violations(clips, suite)
    assert got.count() == want.count()
    key = ["clip_id", "rule_id"]
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0


def test_windowed_verdicts_streaming(spark, suite, tmp_path):
    src = str(tmp_path / "src2")
    out = str(tmp_path / "verd")
    chk = str(tmp_path / "chk2")

    clips = (fixtures.clips_df(spark, 200, max_samples=16)
             .withColumn("ts", F.to_timestamp(
                 F.lit("2026-01-01 00:00:00")) + (F.col("part_id") % 3)
                 * F.expr("INTERVAL 1 MINUTE")))
    # append-mode only emits a window once the watermark passes it, and
    # the watermark only advances between micro-batches — so: ship the
    # data in batch 1, a far-future flush sentinel in batch 2
    # (maxFilesPerTrigger=1 splits them), zero watermark delay.
    clips.coalesce(1).write.parquet(src)
    flush = (fixtures.clips_df(spark, 1, max_samples=16)
             .withColumn("ts", F.to_timestamp(F.lit("2026-01-01 01:00:00"))))
    flush.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(clips.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    verd = streaming.windowed_verdicts(stream, suite, watermark="0 seconds")
    q = (verd.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", chk)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    assert got.count() > 0
    # all three 1-minute windows of real data emitted; the flush
    # sentinel's own window stays withheld
    total = got.agg(F.sum("n_rows")).collect()[0][0]
    assert total == 200
    assert got.filter(~F.col("pass")).count() > 0   # injected defects


def test_running_verdicts_stateful(spark, suite, tmp_path):
    # custom stateful op: running totals across micro-batches must end
    # at the batch-mode totals (maxFilesPerTrigger=1 forces 2 batches)
    src = str(tmp_path / "src3")
    out = str(tmp_path / "run_verd")
    chk = str(tmp_path / "chk3")

    first = fixtures.clips_df(spark, 200, max_samples=16)
    # rows 200..399 = full-corpus minus first-batch rows (a clip_id
    # range filter would drop injected 'CLIP-…' pattern rows)
    second = (fixtures.clips_df(spark, 400, max_samples=16)
              .subtract(first))
    first.coalesce(1).write.parquet(src)
    second.coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(first.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    rv = streaming.running_verdicts(stream, suite)
    # update output mode → parquet (append-only) goes via foreachBatch
    q = (rv.writeStream
         .foreachBatch(lambda df, _: df.write.mode("append").parquet(out))
         .option("checkpointLocation", chk)
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    assert got.count() > 0
    # the LAST update per partition equals the 400-row batch verdict
    last = (got.groupBy("part_id")
               .agg(F.max(F.struct("n_rows", "n_violations", "pass"))
                     .alias("s"))
               .select("part_id", "s.n_rows", "s.n_violations", "s.pass"))
    full = fixtures.clips_df(spark, 400, max_samples=16)
    want = {r.part_id: (r.n_rows, r.n_violations)
            for r in row_verdicts(full, suite).collect()}
    got_map = {r.part_id: (r.n_rows, r.n_violations) for r in last.collect()}
    assert got_map == want
    assert not got.filter("evicted").count()   # nothing timed out here


def test_rate_source_stream_matches_batch(spark, suite, tmp_path):
    # non-file source: rate-micro-batch → derived clips → violations.
    # The source emits sequential keys 0..N-1 deterministically, so the
    # batch derivation over the same key range is the oracle.
    out = str(tmp_path / "rate_viol")
    chk = str(tmp_path / "rate_chk")

    stream = streaming.rate_clips_stream(spark, rows_per_batch=200)
    q = (streaming.validate_stream(stream, suite, out, chk)
         .trigger(processingTime="0 seconds")
         .start())
    # run until at least 2 micro-batches (≥400 keys) have committed
    import time
    deadline = time.time() + 120
    while time.time() < deadline:
        if q.lastProgress and q.lastProgress["batchId"] >= 2:
            break
        time.sleep(0.5)
    q.stop()
    q.awaitTermination(60)

    got = spark.read.parquet(out)
    # the parquet sink's _spark_metadata log is the authoritative list
    # of committed batches; rate-micro-batch ships keys [200·b, 200·b+200)
    # in batch b, so the committed key range is exactly [0, 200·n).
    import os
    n_batches = len([f for f in os.listdir(out + "/_spark_metadata")
                     if f.isdigit()])
    assert n_batches >= 2
    from canned_yaml_spark import derive
    spark.range(0, 200 * n_batches) \
         .select(F.col("id").alias("o_orderkey")) \
         .createOrReplaceTempView("_rate_oracle")
    batch_clips = spark.sql(derive.clips_select("spark", "_rate_oracle"))
    want = row_violations(batch_clips, suite)
    key = ["clip_id", "rule_id"]
    # the sink holds exactly the violations of every committed batch
    # the sink holds exactly the violations of every COMMITTED batch
    assert got.count() == want.count()
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0


def test_stream_restart_resumes_exactly_once(spark, suite, tmp_path):
    # kill/restart: run the stream over file 1, stop, add file 2,
    # restart from the SAME checkpoint → only file 2 is processed
    # (append-exactly-once); a third restart with no new data appends
    # nothing.
    src = str(tmp_path / "src_resume")
    out = str(tmp_path / "viol_resume")
    chk = str(tmp_path / "chk_resume")

    first = fixtures.clips_df(spark, 200, max_samples=16)
    second = (fixtures.clips_df(spark, 400, max_samples=16)
              .subtract(first))
    first.coalesce(1).write.parquet(src)

    def run_once():
        stream = (spark.readStream.schema(first.schema).parquet(src))
        q = (streaming.validate_stream(stream, suite, out, chk)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()                                   # processes file 1
    n1 = spark.read.parquet(out).count()
    want1 = row_violations(first, suite).count()
    assert n1 == want1

    second.coalesce(1).write.mode("append").parquet(src)
    run_once()                                   # resumes: file 2 only
    got = spark.read.parquet(out)
    full = fixtures.clips_df(spark, 400, max_samples=16)
    want = row_violations(full, suite)
    assert got.count() == want.count()           # no duplicates of file 1
    key = ["clip_id", "rule_id"]
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0

    run_once()                                   # restart, no new data
    assert spark.read.parquet(out).count() == want.count()


def test_stream_lineage_manifest_parity(spark, suite, tmp_path):
    # foreachBatch lineage sink: after a stream run the manifest holds
    # one (batch_id, part_id) verdict row per partition per batch, the
    # violations equal the batch recomputation, and a restart neither
    # reprocesses committed batches nor appends duplicate lineage.
    from canned_yaml_spark import checkpoint

    src = str(tmp_path / "src_lin")
    out = str(tmp_path / "viol_lin")
    chk = str(tmp_path / "chk_lin")
    man = str(tmp_path / "manifest_lin")

    first = fixtures.clips_df(spark, 200, max_samples=16)
    first.coalesce(1).write.parquet(src)

    def run_once():
        stream = spark.readStream.schema(first.schema).parquet(src)
        q = (streaming.validate_stream_with_lineage(
                stream, suite, out, chk, man, run_id="stream_r1")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    manifest = spark.read.parquet(man)
    assert set(manifest.columns) >= {"part_id", "n_rows", "n_violations",
                                     "max_severity", "pass", "run_id",
                                     "completed_at", "batch_id"}
    # verdict parity with the batch engine over the same rows
    want_v = {r.part_id: (r.n_rows, r.n_violations, r.pass_)
              for r in row_verdicts(first, suite)
              .withColumnRenamed("pass", "pass_").collect()}
    got_v = {r.part_id: (r.n_rows, r.n_violations, r.pass_)
             for r in manifest.withColumnRenamed("pass", "pass_").collect()}
    assert got_v == want_v
    # violations parity
    got = spark.read.parquet(out)
    want = row_violations(first, suite)
    assert got.count() == want.count()
    key = ["clip_id", "rule_id"]
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0
    n_manifest_rows = manifest.count()
    batches1 = checkpoint.committed_batches(spark, man)
    assert batches1

    # restart with no new data: nothing reprocessed, nothing appended
    run_once()
    assert spark.read.parquet(man).count() == n_manifest_rows
    assert spark.read.parquet(out).count() == want.count()

    # append new data, restart: exactly the delta commits, under a new
    # batch id
    second = (fixtures.clips_df(spark, 400, max_samples=16)
              .subtract(first))
    second.coalesce(1).write.mode("append").parquet(src)
    run_once()
    full = fixtures.clips_df(spark, 400, max_samples=16)
    got2 = spark.read.parquet(out)
    want2 = row_violations(full, suite)
    assert got2.count() == want2.count()
    assert got2.select(*key).exceptAll(want2.select(*key)).count() == 0
    batches2 = checkpoint.committed_batches(spark, man)
    assert batches2 > batches1
    # lineage totals across batches equal the batch engine over all rows
    tot = (spark.read.parquet(man)
           .groupBy("part_id")
           .agg(F.sum("n_rows").alias("n_rows"),
                F.sum("n_violations").alias("n_violations")))
    want_tot = {r.part_id: (r.n_rows, r.n_violations)
                for r in row_verdicts(full, suite).collect()}
    got_tot = {r.part_id: (r.n_rows, r.n_violations)
               for r in tot.collect()}
    assert got_tot == want_tot


def test_stream_manifest_survives_checkpoint_wipe(spark, suite, tmp_path):
    # ADVICE r4: batch ids restart at 0 when the streaming checkpoint
    # is recreated. Replay detection keys on (stream_id, batch_id) —
    # stream_id lives INSIDE the checkpoint dir — so a manifest that
    # outlives its checkpoint must NOT cause the fresh incarnation's
    # batch 0 to be skipped as "already committed".
    import shutil

    from canned_yaml_spark import checkpoint

    src = str(tmp_path / "src_wipe")
    out = str(tmp_path / "viol_wipe")
    chk = str(tmp_path / "chk_wipe")
    man = str(tmp_path / "manifest_wipe")

    first = fixtures.clips_df(spark, 200, max_samples=16)
    first.coalesce(1).write.parquet(src)

    def run_once():
        stream = spark.readStream.schema(first.schema).parquet(src)
        q = (streaming.validate_stream_with_lineage(
                stream, suite, out, chk, man, run_id="wipe_r1")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)

    run_once()
    sid1 = checkpoint.stream_identity(spark, chk)
    n1 = spark.read.parquet(man).count()
    assert checkpoint.committed_batches(spark, man, sid1)

    # wipe ONLY the checkpoint: the manifest outlives it
    shutil.rmtree(chk)
    run_once()                    # fresh incarnation, batch ids restart at 0
    sid2 = checkpoint.stream_identity(spark, chk)
    assert sid2 != sid1
    man_df = spark.read.parquet(man)
    # the fresh batch 0 was REPROCESSED (not skipped): new manifest
    # rows under the new stream_id, old incarnation's rows intact
    assert man_df.filter(F.col("stream_id") == sid2).count() > 0
    assert man_df.filter(F.col("stream_id") == sid1).count() == n1
    # per-incarnation replay sets are disjoint views of one surface
    assert checkpoint.committed_batches(spark, man, sid2) == {0}
    # and the violations for the replayed batch 0 were overwritten in
    # place (dynamic partition overwrite), not duplicated
    got = spark.read.parquet(out)
    want = row_violations(first, suite)
    assert got.count() == want.count()



def test_stream_new_incarnation_clean_batch_records_no_violations(
        spark, suite, tmp_path):
    # batch ids restart at 0 with a new checkpoint; a clean batch 0 of
    # the new incarnation writes no violation row, so it must not read
    # the old incarnation's batch_id=0 rows back into its verdicts
    import os
    import shutil

    from canned_yaml_spark import checkpoint
    from canned_yaml_spark.runner import violation_count

    out = str(tmp_path / "viol_inc")
    chk = str(tmp_path / "chk_inc")
    man = str(tmp_path / "manifest_inc")
    dirty = fixtures.clips_df(spark, 200, max_samples=16)
    clean = dirty.filter(violation_count(suite.row_checks) == 0)

    def run_once(frame, src):
        frame.coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(dirty.schema).parquet(src)
        q = (streaming.validate_stream_with_lineage(
                stream, suite, out, chk, man, run_id="inc")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return checkpoint.stream_identity(spark, chk)

    sid1 = run_once(dirty, str(tmp_path / "src_dirty"))
    m = spark.read.parquet(man)
    assert m.filter(F.col("stream_id") == sid1) \
            .agg(F.sum("n_violations")).first()[0] > 0

    shutil.rmtree(chk)
    sid2 = run_once(clean, str(tmp_path / "src_clean"))
    mine = (spark.read.parquet(man)
            .filter(F.col("stream_id") == sid2).collect())
    assert {r.batch_id for r in mine} == {0}
    assert sum(r.n_rows for r in mine) == clean.count()
    assert all(r.n_violations == 0 and r["pass"] for r in mine)
    assert not os.path.exists(os.path.join(out, "batch_id=0"))

def test_audio_ops_compose_with_streams(spark, tmp_path):
    # the r5 audio family is stateless mapInPandas — it must compose
    # with readStream unchanged (same operator object, no batch-only
    # API). stream==batch for audio_stats AND segmentation.
    from canned_yaml_spark import payload, segment

    src = str(tmp_path / "asrc")
    clips = segment.seg_corpus_df(
        spark, spark.range(60).selectExpr("id AS k"))
    clips.write.parquet(src)
    stream = spark.readStream.schema(
        spark.read.parquet(src).schema).parquet(src)

    for name, op in (
            ("stats", lambda df: payload.audio_stats(
                df.withColumn("part_id", F.lit(0)))),
            ("segs", lambda df: segment.segments(df))):
        out = str(tmp_path / f"out_{name}")
        chk = str(tmp_path / f"chk_{name}")
        q = (op(stream).writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", chk)
             .outputMode("append")
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        got = spark.read.parquet(out)
        want = op(spark.read.parquet(src))
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0, name


def test_extension_rules_compose_with_streams(spark, tmp_path):
    # round-5 rule families over streams: x-assert is a stateless row
    # check (append mode, unchanged operator); the partition-scoped
    # families (x-completeness / x-frequency / x-anomaly) validate
    # each micro-batch as a table via foreachBatch — stream == batch
    # when the stream delivers one batch.
    from canned_yaml_spark import derive, job
    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.runner import row_violations

    src = str(tmp_path / "xsrc")
    derive.clips_df(spark, "/root/testdata/sf0.001").write.parquet(src)
    batch = spark.read.parquet(src)
    stream = spark.readStream.schema(batch.schema).parquet(src)

    spec = {"type": "object",
            "x-assert": {"id": "rate",
                         "expr": "length(transcript) <= dur_ms"},
            "x-completeness": {"column": "transcript",
                               "max_null_frac": 0.01},
            "x-frequency": {"column": "codec", "max_share": 0.68},
            "x-anomaly": {"column": "dur_ms"}}
    suite = compile_spec(spec, batch.schema)

    # stateless row rule: same operator object on the stream
    out = str(tmp_path / "xout")
    q = (row_violations(stream, suite).writeStream.format("parquet")
         .option("path", out)
         .option("checkpointLocation", str(tmp_path / "xchk"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    want = row_violations(batch, suite)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # partition-scoped families: per-micro-batch tables via foreachBatch
    out2 = str(tmp_path / "xout2")
    q2 = (stream.writeStream.foreachBatch(
            lambda df, _: job.all_violations(df, suite)
                             .write.mode("append").parquet(out2))
          .option("checkpointLocation", str(tmp_path / "xchk2"))
          .trigger(availableNow=True).start())
    q2.awaitTermination(180)
    got2 = spark.read.parquet(out2)
    want2 = job.all_violations(batch, suite)
    assert got2.count() == want2.count() > 0
    assert got2.exceptAll(want2).count() == 0


def test_stream_payload_violations_match_batch(spark, suite, tmp_path):
    """x-payload over a stream (stream-static join + Arrow decode per
    micro-batch) must emit exactly the batch plan's violation rows —
    including across a micro-batch boundary (maxFilesPerTrigger=1)."""
    from canned_yaml_spark import payload as pl

    src = str(tmp_path / "psrc")
    out = str(tmp_path / "pviol")
    chk = str(tmp_path / "pchk")
    clips = fixtures.clips_df(spark, 300, max_samples=16)
    ref = fixtures.clips_ref_df(spark, 300, max_samples=16)
    clips.filter(F.col("part_id") < 32).coalesce(1).write.parquet(src)
    clips.filter(F.col("part_id") >= 32).coalesce(1) \
         .write.mode("append").parquet(src)

    stream = (spark.readStream.schema(clips.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    v = streaming.stream_ref_violations(stream, ref, suite)
    q = (v.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", chk)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    [pc] = suite.payload_checks
    want = pl.payload_violations(clips, ref, pc)
    key = ["clip_id", "rule_id", "message"]
    assert got.count() == want.count() > 0
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0
    assert want.select(*key).exceptAll(got.select(*key)).count() == 0


def test_stream_transcript_rule_match_batch(spark, tmp_path):
    """x-transcript (WER bound) over a stream: same rows as batch."""
    from canned_yaml_spark import payload as pl
    from canned_yaml_spark.compile import compile_spec

    src = str(tmp_path / "tsrc")
    out = str(tmp_path / "tviol")
    chk = str(tmp_path / "tchk")
    clips = fixtures.clips_df(spark, 300, max_samples=16)
    ref = fixtures.clips_ref_df(spark, 300, max_samples=16)
    clips.coalesce(1).write.parquet(src)

    tsuite = compile_spec(
        {"type": "object", "properties": {
            "transcript": {"x-transcript": {"max_dist": 3,
                                            "max_wer": 0.5}}}},
        clips.schema)
    stream = spark.readStream.schema(clips.schema).parquet(src)
    v = streaming.stream_ref_violations(stream, ref, tsuite)
    q = (v.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", chk)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    [tc] = tsuite.transcript_checks
    want = pl.transcript_violations(clips, ref, tc)
    key = ["clip_id", "rule_id", "message"]
    assert got.count() == want.count() > 0
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0


def test_stream_ref_violations_needs_ref_checks(spark, tmp_path):
    import pytest

    from canned_yaml_spark.compile import compile_spec
    clips = fixtures.clips_df(spark, 10, max_samples=16)
    empty = compile_spec({"type": "object"}, clips.schema)
    with pytest.raises(ValueError):
        streaming.stream_ref_violations(clips, clips, empty)


def test_stream_window_chunking_matches_batch(spark, tmp_path):
    """Training-window chunking on a STREAM: window_slices is
    stateless pure-JVM column logic, so it composes onto a streaming
    source unchanged — continuous clip ingest → trainer-shaped chunks
    with no state store and no watermark."""
    from canned_yaml_spark import audio, segment

    src = str(tmp_path / "wsrc")
    out = str(tmp_path / "wout")
    chk = str(tmp_path / "wchk")
    pcm = audio.synth_pcm(3, 16000, 400)
    rows = [(f"c{i}", bytearray(audio.encode(pcm, c)), c)
            for i, c in enumerate(("pcm_s16le", "ulaw", "alaw"))]
    clips = spark.createDataFrame(rows,
                                  "clip_id string, bytes binary, "
                                  "codec string")
    clips.write.parquet(src)

    stream = spark.readStream.schema(clips.schema).parquet(src)
    w = segment.window_slices(stream, 256, 192)
    q = (w.writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", chk)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = segment.window_slices(clips, 256, 192)
    key = ["clip_id", "win_idx", "win_start", "win_end"]
    assert got.count() == want.count() > 0
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0


def test_stream_new_vocabulary_matches_batch(spark, tmp_path):
    # round-5 vocabulary (format assertion + x-repetition) composes
    # onto streams unchanged: both are pure Column row checks, so
    # validate_stream routes them through runner.row_violations, the
    # batch builder.
    from canned_yaml_spark import derive
    src = str(tmp_path / "src_fmt")
    out = str(tmp_path / "viol_fmt")
    chk = str(tmp_path / "chk_fmt")

    t = derive.clips_formats_df(spark, "/root/testdata/sf0.001") \
              .withColumn("transcript",
                          F.concat(F.lit("go go go go stop x"),
                                   F.col("part_id").cast("string")))
    from canned_yaml_spark.compile import compile_spec
    spec = {"type": "object", "x-assert-formats": True,
            "properties": {
                "ip4": {"format": "ipv4"},
                "date_s": {"format": "date"},
                "transcript": {"x-repetition": {"n": 2, "max_frac": 0.3}}}}
    suite = compile_spec(spec, t.schema)
    t.write.parquet(src)

    stream = spark.readStream.schema(t.schema).parquet(src)
    q = (streaming.validate_stream(stream, suite, out, chk)
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = row_violations(t, suite)
    assert want.filter(F.col("rule_id").contains("format")).count() > 0
    assert want.filter(F.col("rule_id").contains("x-repetition")).count() > 0
    key = ["clip_id", "rule_id"]
    assert got.count() == want.count()
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0


def test_stream_absent_blocklist_matches_batch(spark, tmp_path):
    # x-absent over a stream: stream-static LEFT SEMI per micro-batch
    from canned_yaml_spark import dataset as ds
    from canned_yaml_spark.compile import compile_spec
    src = str(tmp_path / "src_blk")
    out = str(tmp_path / "viol_blk")
    chk = str(tmp_path / "chk_blk")

    clips = fixtures.clips_df(spark, 300, max_samples=16)
    block = clips.select(F.col("clip_id").alias("bad_id")) \
                 .filter(F.xxhash64("bad_id") % 5 == 0)
    spec = {"type": "object",
            "properties": {"clip_id": {"x-absent": {"table": "blocklist",
                                                    "key": "bad_id"}}}}
    suite = compile_spec(spec, clips.schema)
    clips.write.parquet(src)

    stream = spark.readStream.schema(clips.schema).parquet(src)
    q = (streaming.stream_absent_violations(stream, block, suite)
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", chk)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    [ac] = suite.absent_checks
    want = ds.absent_violations(clips, block, ac, max_inline_keys=0)
    assert want.count() > 0
    assert got.count() == want.count()
    key = ["clip_id", "rule_id"]
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0


def test_stream_media_rule_matches_batch(spark, tmp_path):
    # x-media over a stream: one stateless Arrow decode pass per
    # micro-batch — no join, no state — so the batch operator composes
    # unchanged; violations (undecodable + width floor) must match the
    # batch run row-for-row
    from canned_yaml_spark import multimodal as mm
    from canned_yaml_spark.compile import compile_spec
    src = str(tmp_path / "src_media")
    out = str(tmp_path / "viol_media")
    chk = str(tmp_path / "chk_media")

    rows = []
    for k in range(120):
        mid, part, buf = mm.media_row(k)
        rows.append((mid, part, buf))
    media = spark.createDataFrame(
        rows, "media_id string, part_id int, media binary")
    spec = {"type": "object", "properties": {"media": {
        "x-media": {"kinds": ["image"], "min_width": 7,
                    "require_decodable": True}}}}
    suite = compile_spec(spec, media.schema)
    media.write.parquet(src)

    stream = spark.readStream.schema(media.schema).parquet(src)
    q = (streaming.stream_media_violations(stream, suite)
         .writeStream.format("parquet")
         .option("path", out).option("checkpointLocation", chk)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    [mc] = suite.media_checks
    want = mm.media_violations(media, mc)
    assert want.count() > 0
    key = ["clip_id", "rule_id", "message"]
    assert got.count() == want.count()
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0

    with pytest.raises(ValueError):
        streaming.stream_media_violations(
            stream, compile_spec({"type": "object", "properties": {
                "media_id": {"type": "string"}}}, media.schema))


def test_stream_embedding_rule_matches_batch(spark, tmp_path):
    # x-embedding composes onto streams unchanged: all four vector
    # checks are pure array-HOF row predicates, so validate_stream
    # routes them through runner.row_violations (no state store).
    from canned_yaml_spark import derive
    from canned_yaml_spark.compile import compile_spec
    src = str(tmp_path / "src_emb")
    out = str(tmp_path / "viol_emb")
    chk = str(tmp_path / "chk_emb")

    emb = derive.emb_corpus_df(spark, "/root/testdata/sf0.001")
    suite = compile_spec(
        {"type": "object",
         "x-embedding": {"column": "embedding", "dim": 64,
                         "min_norm": 0.5, "max_norm": 2.0,
                         "forbid_zero": True}},
        emb.schema)
    emb.write.parquet(src)

    stream = spark.readStream.schema(emb.schema).parquet(src)
    q = (streaming.validate_stream(stream, suite, out, chk,
                                   id_col="vec_id")
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = row_violations(emb, suite, id_col="vec_id")
    assert want.count() > 0
    key = ["clip_id", "rule_id"]
    assert got.count() == want.count()
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0
