"""Streaming validation: same suite, streaming source, AvailableNow."""

from collections import Counter

import pyspark.sql.functions as F
import pytest
from pyspark.sql import DataFrame

from canned_yaml_spark import fixtures, streaming
from canned_yaml_spark.runner import row_violations
from tests.conftest import run_available_now


@pytest.fixture(autouse=True)
def _no_query_outlives_its_test(spark):
    yield
    assert not spark.streams.active, "a stream query is still running"


def test_validate_stream_matches_batch(spark, suite, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "viol")
    chk = str(tmp_path / "chk")

    clips = fixtures.clips_df(spark, 400, max_samples=16)
    clips.write.parquet(src)

    stream = (spark.readStream
              .schema(clips.schema)
              .parquet(src))
    run_available_now(streaming.validate_stream(stream, suite, out, chk))

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
    run_available_now(verd.writeStream.format("parquet")
                      .option("path", out).option("checkpointLocation", chk)
                      .outputMode("append"), 180)

    got = spark.read.parquet(out)
    assert got.count() > 0
    # all three 1-minute windows of real data emitted; the flush
    # sentinel's own window stays withheld
    total = got.agg(F.sum("n_rows")).collect()[0][0]
    assert total == 200
    assert got.filter(~F.col("pass")).count() > 0   # injected defects


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
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if q.lastProgress and q.lastProgress["batchId"] >= 2:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert q.awaitTermination(60)

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
        run_available_now(streaming.validate_stream(stream, suite, out, chk))

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


def _sink_once(spark, src, schema, out, chk, suite, run_id, **kw):
    """One availableNow run of the lineage sink over src (a path or a
    glob), one file per micro-batch."""
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    run_available_now(streaming.validate_stream_with_lineage(
        stream, suite, out, chk, run_id, **kw), 180)


def _stage(df, src, i):
    """Write df as the source's i-th file, in its own directory under
    src, and return the file read back: the batch engine's
    expectations then scan the bytes the stream reads, not the
    fixture generator."""
    path = f"{src}/{i}"
    df.coalesce(1).write.parquet(path)
    return df.sparkSession.read.parquet(path)


def _sink_manifest(spark, out, stream_id="*"):
    return (spark.read.option("basePath", out)
            .parquet(f"{out}/stream_id={stream_id}/batch_id=*/manifest"))


def _sink_violations(spark, out, schema, stream_id="*"):
    """Union of the batch directories' written violations."""
    import glob
    from functools import reduce

    return reduce(DataFrame.unionByName,
                  [spark.read.schema(schema).parquet(d) for d in sorted(
                      glob.glob(f"{out}/stream_id={stream_id}"
                                "/batch_id=*/violations"))])


def test_stream_lineage_manifest_parity(spark, suite, tmp_path):
    # each micro-batch commits like job.run over that batch's rows:
    # its manifest holds violation_verdicts over all_violations of the
    # batch (x-unique and drift see the batch as the table), a restart
    # with no new data writes nothing, and new data commits under a
    # new batch id
    import glob
    import os

    from canned_yaml_spark import job
    from canned_yaml_spark.runner import violation_verdicts

    src = str(tmp_path / "src_lin")
    out = str(tmp_path / "viol_lin")
    chk = str(tmp_path / "chk_lin")
    kw = dict(dims={"codec_dim": fixtures.codec_dim_df(spark)})

    first = fixtures.clips_df(spark, 200, max_samples=16)
    second = (fixtures.clips_df(spark, 400, max_samples=16)
              .subtract(first))

    def verdicts(rows):
        v = violation_verdicts(rows, job.all_violations(rows, suite, **kw))
        return sorted((r.part_id, r.n_rows, r.n_violations, r["pass"])
                      for r in v.collect())

    def manifest(batch_id):
        return sorted((r.part_id, r.n_rows, r.n_violations, r["pass"])
                      for r in _sink_manifest(spark, out)
                      .filter(F.col("batch_id") == batch_id).collect())

    def files():
        return sorted(glob.glob(f"{out}/**/*.parquet", recursive=True))

    first = _stage(first, src, 0)
    want0 = verdicts(first)
    _sink_once(spark, f"{src}/*", first.schema, out, chk, suite, "r1", **kw)
    m = _sink_manifest(spark, out)
    assert set(m.columns) >= {"part_id", "n_rows", "n_violations",
                              "max_severity", "pass", "run_id",
                              "completed_at", "batch_id", "stream_id"}
    assert manifest(0) == want0
    written = _sink_violations(spark, out, job.all_violations(
        first, suite, **kw).schema)
    assert {r.part_id: r["count"] for r in
            written.groupBy("part_id").count().collect()} == {
        p: n for p, _, n, _ in manifest(0) if n}

    # restart with no new data: nothing reprocessed, no file written.
    # Without its streaming commit-log entry, batch 0 is delivered
    # again on restart; the sink finds its manifest file and skips it
    before = files()
    _sink_once(spark, f"{src}/*", first.schema, out, chk, suite, "r1", **kw)
    for name in ("0", ".0.crc"):
        os.remove(os.path.join(chk, "commits", name))
    _sink_once(spark, f"{src}/*", first.schema, out, chk, suite, "r1", **kw)
    assert os.path.exists(os.path.join(chk, "commits", "0"))
    assert files() == before

    # new data: exactly the delta commits, under batch id 1
    second = _stage(second, src, 1)
    _sink_once(spark, f"{src}/*", first.schema, out, chk, suite, "r1", **kw)
    assert {r.batch_id for r in
            _sink_manifest(spark, out).select("batch_id").collect()} == {0, 1}
    assert manifest(0) == want0
    assert manifest(1) == verdicts(second)


@pytest.mark.parametrize("case", ["clips", "transcript", "absent", "media"])
def test_stream_sink_matches_batch(spark, tmp_path, case):
    """The lineage sink commits each micro-batch with the batch engine:
    the batch directories' violations equal job.all_violations over
    each batch's rows, and their manifests equal
    runner.violation_verdicts over those. clips: every family of the
    clips spec (dims + reference table) across a micro-batch boundary;
    transcript: x-transcript; absent: a blocklist row appended between
    two triggers (a restart from the same checkpoint) is caught by the
    second batch; media: x-media keyed by media_id."""
    from canned_yaml_spark import job
    from canned_yaml_spark import multimodal as mm
    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.runner import violation_verdicts

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    clips = _stage(fixtures.clips_df(spark, 300, max_samples=16),
                   str(tmp_path), "clips")
    ref = _stage(fixtures.clips_ref_df(spark, 300, max_samples=16),
                 str(tmp_path), "ref")
    lo, hi = clips.filter(F.col("part_id") < 32), clips.filter(
        F.col("part_id") >= 32)
    # runs: (the rows of each micro-batch, the sink's keyword arguments)
    if case == "clips":
        suite = compile_spec("specs/clips.spec.yaml", clips.schema)
        kw = dict(dims={"codec_dim": fixtures.codec_dim_df(spark)},
                  clips_ref=ref)
        runs = [([lo, hi], kw)]
    elif case == "transcript":
        suite = compile_spec(
            {"type": "object", "properties": {
                "transcript": {"x-transcript": {"max_dist": 3,
                                                "max_wer": 0.5}}}},
            clips.schema)
        runs = [([clips], dict(clips_ref=ref))]
    elif case == "absent":
        suite = compile_spec(
            {"type": "object", "properties": {"clip_id": {"x-absent": {
                "table": "blocklist", "key": "bad_id"}}}}, clips.schema)
        blk = str(tmp_path / "blocklist")
        ids = clips.select(F.col("clip_id").alias("bad_id"))
        ids.filter(F.xxhash64("bad_id") % 5 == 0).write.parquet(blk)
        late = (hi.select(F.col("clip_id").alias("bad_id"))
                .exceptAll(spark.read.parquet(blk)).orderBy("bad_id")
                .limit(1))
        first = dict(dims={"blocklist": spark.read.parquet(blk)})
        runs = [([lo], first), ([hi], None)]
    else:
        media = spark.createDataFrame(
            [mm.media_row(k) for k in range(120)],
            "media_id string, part_id int, media binary")
        suite = compile_spec({"type": "object", "properties": {"media": {
            "x-media": {"kinds": ["image"], "min_width": 7,
                        "require_decodable": True}}}}, media.schema)
        runs = [([media], dict(id_col="media_id"))]

    schema = runs[0][0][0].schema
    key = ["clip_id", "part_id", "rule_id", "severity", "message"]
    want, want_verdicts, n_batches = Counter(), Counter(), 0
    for frames, kw in runs:
        if kw is None:      # absent: append the late blocklist row now
            (late_id,) = late.first()
            spark.createDataFrame([(late_id,)], "bad_id string") \
                 .write.mode("append").parquet(blk)
            kw = dict(dims={"blocklist": spark.read.parquet(blk)})
        for rows in frames:
            rows = _stage(rows, src, n_batches)
            n_batches += 1
            v = job.all_violations(rows, suite, **kw)
            # run the families once; derive the verdicts from the rows
            written = spark.createDataFrame(v.collect(), v.schema)
            want.update(tuple(r) for r in written.select(*key).collect())
            want_verdicts.update(
                (r.part_id, r.n_rows, r.n_violations, r["pass"])
                for r in violation_verdicts(rows, written).collect())
        _sink_once(spark, f"{src}/*", schema, out, chk, suite, case, **kw)

    got = Counter(tuple(r) for r in _sink_violations(
        spark, out, v.schema).select(*key).collect())
    assert want and got == want
    m = _sink_manifest(spark, out).collect()
    assert len({r.batch_id for r in m}) == n_batches
    assert Counter((r.part_id, r.n_rows, r.n_violations, r["pass"])
                   for r in m) == want_verdicts
    if case == "clips":
        # row-local families: the batches' union is the batch engine
        # over all rows
        def local(rule_id):
            return not rule_id.startswith(("x-unique", "x-drift"))

        whole = Counter(tuple(r) for r in job.all_violations(
            spark.read.parquet(f"{src}/*"), suite, **kw)
            .select(*key).collect() if local(r.rule_id))
        assert whole and whole == Counter(
            {k: n for k, n in got.items() if local(k[2])})
    if case == "absent":
        assert sum(n for k, n in got.items() if k[0] == late_id) == 1


def _incarnations(spark, tmp_path, second):
    """Run the lineage sink over a corpus with sr_hz < 0 in 8
    partitions, wipe the streaming checkpoint, and run it again over
    `second` ("dirty" or "clean"). Returns (stream ids, the two
    incarnations' violation and manifest totals)."""
    import shutil

    from canned_yaml_spark import checkpoint, job
    from canned_yaml_spark.compile import compile_spec

    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    clean = fixtures.clips_df(spark, 200, inject=False, max_samples=16)
    dirty = clean.withColumn(
        "sr_hz", F.when(F.col("part_id") < 8, F.lit(-1))
                  .otherwise(F.col("sr_hz")))
    suite = compile_spec({"type": "object", "properties": {
        "sr_hz": {"type": "integer", "minimum": 0}}}, clean.schema)
    schema = job.all_violations(dirty, suite).schema
    sids = []
    for i, frame in enumerate((dirty, dirty if second == "dirty" else clean)):
        if i:
            shutil.rmtree(chk)   # the lineage outlives the checkpoint
        _stage(frame, str(tmp_path / "src"), i)
        _sink_once(spark, str(tmp_path / "src" / str(i)), clean.schema,
                   out, chk, suite, "inc")
        sids.append(checkpoint.stream_identity(spark, chk))
    totals = [(_sink_violations(spark, out, schema, sid).count(),
               _sink_manifest(spark, out, sid).collect()) for sid in sids]
    return sids, totals


def test_stream_manifest_survives_checkpoint_wipe(spark, tmp_path):
    # batch ids restart at 0 when the streaming checkpoint is
    # recreated. The new incarnation gets its own stream_id directory:
    # its batch 0 over the same rows is processed (not skipped as
    # committed), and the old incarnation's violations and manifest
    # stay intact and agree
    (sid1, sid2), [(v1, m1), (v2, m2)] = _incarnations(
        spark, tmp_path, "dirty")
    assert sid2 != sid1
    assert {r.batch_id for r in m2} == {0}
    assert v1 == sum(r.n_violations for r in m1) > 0
    assert v2 == v1 and sorted(r.n_violations for r in m2) == sorted(
        r.n_violations for r in m1)


def test_stream_new_incarnation_clean_batch_records_no_violations(
        spark, tmp_path):
    # a clean batch 0 of a new incarnation records no violations, and
    # the old incarnation's batch 0 keeps its violations: on disk they
    # still add up to its manifest
    (sid1, sid2), [(v1, m1), (v2, m2)] = _incarnations(
        spark, tmp_path, "clean")
    assert {r.batch_id for r in m2} == {0}
    assert sum(r.n_rows for r in m2) == 200
    assert v2 == 0 and all(r.n_violations == 0 and r["pass"] for r in m2)
    assert v1 == sum(r.n_violations for r in m1) > 0


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
        run_available_now(op(stream).writeStream.format("parquet")
                          .option("path", out)
                          .option("checkpointLocation", chk)
                          .outputMode("append"))
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
    run_available_now(row_violations(stream, suite).writeStream
                      .format("parquet").option("path", out)
                      .option("checkpointLocation", str(tmp_path / "xchk"))
                      .outputMode("append"))
    got = spark.read.parquet(out)
    want = row_violations(batch, suite)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0

    # partition-scoped families: per-micro-batch tables via foreachBatch
    out2 = str(tmp_path / "xout2")
    run_available_now(stream.writeStream.foreachBatch(
        lambda df, _: job.all_violations(df, suite)
                         .write.mode("append").parquet(out2))
        .option("checkpointLocation", str(tmp_path / "xchk2")), 180)
    got2 = spark.read.parquet(out2)
    want2 = job.all_violations(batch, suite)
    assert got2.count() == want2.count() > 0
    assert got2.exceptAll(want2).count() == 0


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
    run_available_now(w.writeStream.format("parquet")
                      .option("path", out).option("checkpointLocation", chk)
                      .outputMode("append"))

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
    run_available_now(streaming.validate_stream(stream, suite, out, chk))

    got = spark.read.parquet(out)
    want = row_violations(t, suite)
    assert want.filter(F.col("rule_id").contains("format")).count() > 0
    assert want.filter(F.col("rule_id").contains("x-repetition")).count() > 0
    key = ["clip_id", "rule_id"]
    assert got.count() == want.count()
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0


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
    run_available_now(streaming.validate_stream(stream, suite, out, chk,
                                                id_col="vec_id"))

    got = spark.read.parquet(out)
    want = row_violations(emb, suite, id_col="vec_id")
    assert want.count() > 0
    key = ["clip_id", "rule_id"]
    assert got.count() == want.count()
    assert got.select(*key).exceptAll(want.select(*key)).count() == 0
