"""End-to-end prep funnel (pipeline.prep_run)."""

import pyspark.sql.functions as F

from canned_yaml_spark import audiofp, pipeline

SPEC = {"type": "object", "properties": {
    "clip_id": {"type": "string", "pattern": "^clip_[0-9]+"}}}


def test_prep_funnel_counts_and_exclusions(spark, tmp_path):
    # 60 chirp keys + 6 injected lossy dups; one clip_id corrupted so
    # the pattern rule quarantines it
    corpus = (audiofp.chirp_corpus_df(spark, 60, dup_every=10)
              .withColumn("clip_id",
                          F.when(F.col("clip_id") == "clip_0000000003",
                                 "BAD-id").otherwise(F.col("clip_id"))))
    out = str(tmp_path / "prep")
    res = pipeline.prep_run(spark, corpus, SPEC, win=256, hop=192,
                            out_dir=out, run_id="r1")
    assert res.n_input == 66
    assert res.n_quarantined == 1
    assert res.n_dup_dropped == 6          # dup components keep min id
    # 59 surviving pcm clips × 20 windows of 4000 samples
    assert res.n_windows == 59 * 20
    ids = {r.clip_id for r in res.windows.select("clip_id")
           .distinct().collect()}
    assert "BAD-id" not in ids
    assert not any(i.endswith("_dup") for i in ids)

    # lineage surfaces: windows parquet + verdict manifest
    w = spark.read.parquet(f"{out}/windows")
    assert w.count() == res.n_windows
    m = spark.read.parquet(f"{out}/manifest")
    assert m.filter(F.col("run_id") == "r1").count() > 0


def test_prep_framed_codecs_route_through_arrow(spark):
    # dedup off; a framed (flac-stub) clip must still produce windows,
    # re-encoded as pcm by the Arrow fallback
    from canned_yaml_spark import audio
    pcm = audio.synth_pcm(4, 16000, 400)        # capped at 4096 samples
    corpus = spark.createDataFrame(
        [("clip_1", 0, "pcm_s16le", bytearray(pcm.tobytes())),
         ("clip_2", 0, "flac", bytearray(audio.encode(pcm, "flac")))],
        "clip_id string, part_id int, codec string, bytes binary")
    res = pipeline.prep_run(spark, corpus, SPEC, win=256, hop=192,
                            dedup=False)
    per = {r.clip_id: r.cnt for r in res.windows.groupBy("clip_id")
           .agg(F.count("*").alias("cnt")).collect()}
    assert per == {"clip_1": 21, "clip_2": 21}   # (4096-256)//192+1


def test_prep_speed_family(spark):
    from canned_yaml_spark import audio
    pcm = audio.synth_pcm(4, 16000, 400)
    corpus = spark.createDataFrame(
        [("clip_1", 0, "pcm_s16le", bytearray(pcm.tobytes()))],
        "clip_id string, part_id int, codec string, bytes binary")
    res = pipeline.prep_run(spark, corpus, SPEC, win=256, hop=192,
                            dedup=False, speed=(10, 9))
    # 4096 samples → (4095*9)//10 + 1 = 3686 → (3686-256)//192+1
    assert res.n_windows == 18


def test_prep_manifest_verdicts_match_job_run(spark, tmp_path):
    # a clip_id duplicated across two partitions under x-unique: the
    # table-level violation must fail those partitions in prep's
    # manifest exactly as job.run's verdicts fail them
    from canned_yaml_spark import audio
    from canned_yaml_spark import job as jobmod
    spec = {"type": "object", "properties": {
        "clip_id": {"type": "string", "pattern": "^clip_[0-9]+",
                    "x-unique": True}}}
    pcm = bytearray(audio.synth_pcm(4, 16000, 400).tobytes())
    rows = [(f"clip_{i}", i % 3, "pcm_s16le", pcm) for i in range(9)]
    rows.append(("clip_4", 2, "pcm_s16le", pcm))        # dup of part 1's
    corpus = spark.createDataFrame(
        rows, "clip_id string, part_id int, codec string, bytes binary")
    out = str(tmp_path / "prep_u")
    pipeline.prep_run(spark, corpus, spec, win=256, hop=192,
                      dedup=False, out_dir=out, run_id="u1")
    got = {r.part_id: (r["pass"], r.n_violations) for r in
           spark.read.parquet(f"{out}/manifest").collect()}
    res = jobmod.run(spark, spec, corpus, stats_columns=())
    want = {r.part_id: (r["pass"], r.n_violations)
            for r in res.verdicts.collect()}
    assert got == want
    assert want[1] == (False, 1) and want[2] == (False, 1)
    assert want[0] == (True, 0)
