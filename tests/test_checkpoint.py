"""Checkpoint / exact resume (SURVEY.md §2.2 #25)."""

import pyspark.sql.functions as F
import pytest

from canned_yaml_spark import checkpoint, fixtures, job, pipeline
from tests.conftest import run_available_now

#: one ERROR row rule; `_broken` breaks it on partitions 0..7
SR_SPEC = {"type": "object",
           "properties": {"sr_hz": {"type": "integer", "minimum": 0}}}


def _broken(spark):
    return fixtures.clips_df(spark, 200, inject=False,
                             max_samples=16).withColumn(
        "sr_hz", F.when(F.col("part_id") < 8, F.lit(-1))
                  .otherwise(F.col("sr_hz")))


def _verdict_rows(spark, out):
    return sorted(
        tuple(r) for r in checkpoint.committed(spark, out, "verdicts")
        .select("part_id", "n_rows", "n_violations", "pass").collect())


def test_resume_skips_completed_and_is_idempotent(spark, tmp_path):
    out = str(tmp_path / "run")
    clips = fixtures.clips_df(spark, 400, max_samples=16)
    ref = fixtures.clips_ref_df(spark, 400, max_samples=16)
    dim = fixtures.codec_dim_df(spark)

    r1 = job.run(spark, "specs/clips.spec.yaml", clips,
                 dims={"codec_dim": dim}, clips_ref=ref, out_dir=out)
    assert not r1.ok
    mani1 = spark.read.parquet(f"{out}/manifest")
    assert mani1.count() == 64
    v1 = spark.read.parquet(f"{out}/violations").count()

    # second run: nothing pending, outputs unchanged
    r2 = job.run(spark, "specs/clips.spec.yaml", clips,
                 dims={"codec_dim": dim}, clips_ref=ref, out_dir=out)
    mani2 = spark.read.parquet(f"{out}/manifest")
    assert mani2.count() == 64        # no duplicate manifest rows
    assert spark.read.parquet(f"{out}/violations").count() == v1


def test_partial_manifest_resume(spark, tmp_path):
    out = str(tmp_path / "partial")
    clips = fixtures.clips_df(spark, 400, max_samples=16)

    # fake a crash: partitions 0..31 committed, rest pending
    done = spark.createDataFrame(
        [(p, 10, 0, -1, True, "run0", 0.0) for p in range(32)],
        checkpoint.MANIFEST_SCHEMA)
    done.write.parquet(f"{out}/manifest")

    pending = checkpoint.pending_only(clips, spark, f"{out}/manifest")
    parts = {r.part_id for r in pending.select("part_id").distinct().collect()}
    assert parts == set(range(32, 64))


def test_resume_catches_cross_partition_duplicates(spark, tmp_path):
    """A duplicate pair split across a completed and a pending
    partition must still be flagged on resume — uniqueness scans the
    full table, its violations filtered to pending partitions."""
    out = str(tmp_path / "splitdup")
    clips = fixtures.clips_df(spark, 200, inject=False, max_samples=16)
    # row k=40 (part 40, pending) steals row k=5's id (part 5, completed)
    clips = clips.withColumn(
        "clip_id",
        F.when(F.col("clip_id") == "clip_0000000040",
               F.lit("clip_0000000005")).otherwise(F.col("clip_id")))

    # fake run 1: parts 0..31 committed
    done = spark.createDataFrame(
        [(p, 3, 0, -1, True, "run0", 0.0) for p in range(32)],
        checkpoint.MANIFEST_SCHEMA)
    done.write.parquet(f"{out}/manifest")

    r2 = job.run(spark, "specs/clips.spec.yaml", clips, out_dir=out,
                 dims={"codec_dim": fixtures.codec_dim_df(spark)})
    uv = r2.violations.filter(F.col("rule_id") == "x-unique.clip_id")
    rows = {(r.clip_id, r.part_id) for r in uv.collect()}
    # the pending half (part 40) is flagged; the completed half
    # (part 5) belongs to run 1's committed output, not this run's
    assert ("clip_0000000005", 40) in rows
    assert ("clip_0000000005", 5) not in rows


def test_manifest_probe_absent_dir(spark, tmp_path):
    m = checkpoint.read_manifest(spark, str(tmp_path / "nope"))
    assert m.count() == 0


def test_write_partitioned_dynamic_overwrite(spark, tmp_path):
    out = str(tmp_path / "dyn")
    schema = "part_id int, v string, run_id string"
    df1 = spark.createDataFrame([(1, "a", "r1"), (2, "b", "r2"),
                                 (3, "c", "r2")], schema)
    checkpoint.write_partitioned(df1, out)
    # rewrite only run r2: its rows are replaced, run r1 survives
    df2 = spark.createDataFrame([(2, "B", "r2")], schema)
    checkpoint.write_partitioned(df2, out)
    rows = {(r.part_id, r.v, r.run_id)
            for r in spark.read.schema(schema).parquet(out).collect()}
    assert rows == {(1, "a", "r1"), (2, "B", "r2")}


def test_crash_resume_reproduces_from_scratch_verdicts(spark, tmp_path):
    """Exact-resume invariant the driver gate's oracle states
    (oracle.sql_resume_verdicts): after a mid-run crash — manifest
    truncated to half the partitions, uncommitted verdict rows left on
    disk — a resumed run's verdicts table must equal a from-scratch
    run's, byte for byte on (part_id, n_rows, n_violations, pass).
    The load-bearing case is cross-partition uniqueness: an injected
    duplicate whose two rows straddle a committed and a pending
    partition must be counted in BOTH from-scratch and resumed runs."""
    import shutil

    clips = fixtures.clips_df(spark, 400, max_samples=16)
    ref = fixtures.clips_ref_df(spark, 400, max_samples=16)
    kw = dict(dims={"codec_dim": fixtures.codec_dim_df(spark)},
              clips_ref=ref,
              expected_hist=fixtures.reference_hist_df(spark),
              ks_reference=fixtures.reference_dur_sample())

    fresh = str(tmp_path / "fresh")
    job.run(spark, "specs/clips.spec.yaml", clips, out_dir=fresh, **kw)

    crashed = str(tmp_path / "crashed")
    job.run(spark, "specs/clips.spec.yaml", clips, out_dir=crashed, **kw)
    kept = (spark.read.parquet(f"{crashed}/manifest")
                 .filter(F.col("part_id") % 2 == 0).collect())
    shutil.rmtree(f"{crashed}/manifest")
    (spark.createDataFrame(kept, checkpoint.MANIFEST_SCHEMA)
          .write.parquet(f"{crashed}/manifest"))
    job.run(spark, "specs/clips.spec.yaml", clips, out_dir=crashed, **kw)

    assert _verdict_rows(spark, crashed) == _verdict_rows(spark, fresh)
    # both manifests now cover all 64 partitions exactly once
    m = spark.read.parquet(f"{crashed}/manifest")
    assert m.select("part_id").distinct().count() == 64

    # the dup pair straddles partitions: at n=400 the id_dup rows are
    # (k-1, k) with k%64 even and (k-1)%64 odd — one committed, one
    # pending in the crash split — and both runs must flag both rows
    viol = checkpoint.committed(spark, crashed, "violations")
    uv = viol.filter(F.col("rule_id") == "x-unique.clip_id")
    parts = {r.part_id for r in uv.collect()}
    assert any(p % 2 == 0 for p in parts) and any(p % 2 == 1 for p in parts)


def test_clean_corpus_fresh_resume_and_cli(spark, tmp_path):
    """A corpus with zero violations writes no violations file; the
    commit reads the violations back with the plan's schema, so a
    fresh run, its resume and cli.main all succeed with ok=True. The
    resume, with nothing pending, appends no manifest file."""
    import glob

    from canned_yaml_spark import cli

    spec = tmp_path / "clean.spec.yaml"
    spec.write_text("type: object\n"
                    "properties:\n"
                    "  sr_hz: {type: integer, minimum: 0}\n")
    clips = fixtures.clips_df(spark, 200, inject=False, max_samples=16)
    out = str(tmp_path / "clean")

    r1 = job.run(spark, str(spec), clips, out_dir=out)
    assert r1.ok
    assert r1.verdicts.count() == 64
    assert r1.violations.count() == 0
    r2 = job.run(spark, str(spec), clips, out_dir=out)        # resume
    assert r2.ok
    assert r2.verdicts.count() == 64
    assert spark.read.parquet(f"{out}/manifest").count() == 64
    # the resume had nothing pending: it appended no manifest file
    assert len(glob.glob(f"{out}/manifest/*.parquet")) == 1

    table = str(tmp_path / "clean.parquet")
    clips.write.parquet(table)
    assert cli.main(["--spec", str(spec), "--table", table,
                     "--out", str(tmp_path / "cli_out")]) == 0


def test_rerun_of_fixed_data_clears_old_violations(spark, tmp_path):
    """Dynamic partition overwrite leaves a partition that gets no
    rows untouched. A rerun (resume=False, and every prep_run) over
    data fixed since the last run must not read that partition's old
    violations back: ok holds, this run's manifest rows count 0, and
    the quarantine is empty."""
    spec = {"type": "object",
            "properties": {"sr_hz": {"type": "integer", "minimum": 0}}}
    clean = fixtures.clips_df(spark, 200, inject=False, max_samples=16)
    broken = clean.withColumn(
        "sr_hz", F.when(F.col("part_id") < 8, F.lit(-1))
                  .otherwise(F.col("sr_hz")))

    out = str(tmp_path / "job")
    assert not job.run(spark, spec, broken, out_dir=out,
                       stats_columns=()).ok
    r2 = job.run(spark, spec, clean, out_dir=out, resume=False,
                 stats_columns=())
    assert r2.ok
    assert r2.violations.count() == 0
    (run_id,) = {r.run_id for r in r2.verdicts.select("run_id").collect()}
    mine = (spark.read.parquet(f"{out}/manifest")
            .filter(F.col("run_id") == run_id).collect())
    assert len(mine) == 64
    assert all(r.n_violations == 0 and r["pass"] for r in mine)

    out = str(tmp_path / "prep")
    p1 = pipeline.prep_run(spark, broken, spec, dedup=False, out_dir=out,
                           run_id="p1")
    assert p1.n_quarantined > 0
    p2 = pipeline.prep_run(spark, clean, spec, dedup=False, out_dir=out,
                           run_id="p2")
    assert p2.n_quarantined == 0
    mine = (spark.read.parquet(f"{out}/manifest")
            .filter(F.col("run_id") == "p2").collect())
    assert len(mine) == 64
    assert all(r.n_violations == 0 and r["pass"] for r in mine)


def test_run_executes_each_family_once(spark, tmp_path, monkeypatch):
    """job.run(out_dir=...) executes the violations union once: an
    identity Python UDF on `severity` (the column the verdict
    aggregate reads) ticks as often during the run as in one noop
    execution of the same plan. The manifest counts equal the written
    violations, and each part_id's rows sit in one file. The same
    holds for prep_run(out_dir=...), and for one micro-batch of the
    streaming lineage sink."""
    import glob
    import os

    from pyspark.sql.types import IntegerType

    from canned_yaml_spark import streaming
    from canned_yaml_spark.compile import compile_spec

    ticks = spark.sparkContext.accumulator(0)

    def ident(s):
        ticks.add(1)
        return s

    tick = F.udf(ident, IntegerType())
    plans = []
    real = job.all_violations

    def counted(*args, **kwargs):
        out = real(*args, **kwargs)
        out = out.withColumn("severity", tick(F.col("severity")))
        plans.append(out)
        return out

    def ticks_of(action):
        before = ticks.value
        action()
        return ticks.value - before

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    monkeypatch.setattr(job, "all_violations", counted)
    clips = fixtures.clips_df(spark, 400, max_samples=16)
    out = str(tmp_path / "once")
    during_run = ticks_of(lambda: job.run(
        spark, "specs/clips.spec.yaml", clips,
        dims={"codec_dim": fixtures.codec_dim_df(spark)},
        clips_ref=fixtures.clips_ref_df(spark, 400, max_samples=16),
        expected_hist=fixtures.reference_hist_df(spark),
        ks_reference=fixtures.reference_dur_sample(),
        out_dir=out))
    assert len(plans) == 1
    assert during_run > 0
    assert during_run == ticks_of(noop(plans[0]))

    viol = spark.read.parquet(f"{out}/violations")
    counts = {r.part_id: r["count"]
              for r in viol.groupBy("part_id").count().collect()}
    manifest = spark.read.parquet(f"{out}/manifest").collect()
    assert len(manifest) == 64
    for r in manifest:
        assert r.n_violations == counts.get(r.part_id, 0)
    files = {r.part_id: r["count"] for r in
             viol.select("part_id", F.input_file_name().alias("file"))
             .distinct().groupBy("part_id").count().collect()}
    assert files and set(files.values()) == {1}, files

    # prep_run(out_dir=...) commits through the same path
    plans.clear()
    during_prep = ticks_of(lambda: pipeline.prep_run(
        spark, clips, "specs/clips.spec.yaml",
        dims={"codec_dim": fixtures.codec_dim_df(spark)},
        clips_ref=fixtures.clips_ref_df(spark, 400, max_samples=16),
        dedup=False, out_dir=str(tmp_path / "prep_once")))
    assert len(plans) == 1
    assert during_prep > 0
    assert during_prep == ticks_of(noop(plans[0]))

    # one micro-batch of the lineage sink runs every family once
    plans.clear()
    src = str(tmp_path / "stream_src")
    clips.coalesce(1).write.parquet(src)
    static = spark.read.parquet(src)
    suite = compile_spec("specs/clips.spec.yaml", static.schema)
    kw = dict(dims={"codec_dim": fixtures.codec_dim_df(spark)},
              clips_ref=fixtures.clips_ref_df(spark, 400, max_samples=16))
    out = str(tmp_path / "stream_out")

    def one_batch():
        run_available_now(streaming.validate_stream_with_lineage(
            spark.readStream.schema(static.schema).parquet(src), suite,
            out, str(tmp_path / "stream_chk"), "once", **kw))

    during_batch = ticks_of(one_batch)
    assert len(plans) == 1
    assert glob.glob(os.path.join(out, "stream_id=*", "batch_id=0",
                                  "manifest", "*.parquet"))
    assert during_batch > 0
    # the batch's frame is gone after the sink returns: compare with
    # the same families over the same file as a static frame
    assert during_batch == ticks_of(noop(job.all_violations(static, suite,
                                                            **kw)))


def test_fresh_run_writes_one_file_per_table(spark, tmp_path):
    """A fresh job.run commits each table as one run directory: one
    parquet data file each for metrics, violations, verdicts and the
    manifest, however many partitions the scope has."""
    import glob

    out = str(tmp_path / "files")
    r = job.run(spark, "specs/clips.spec.yaml",
                fixtures.clips_df(spark, 400, max_samples=16),
                dims={"codec_dim": fixtures.codec_dim_df(spark)},
                out_dir=out)
    assert not r.ok
    for table in ("metrics", "violations", "verdicts", "manifest"):
        files = glob.glob(f"{out}/{table}/**/*.parquet", recursive=True)
        assert len(files) == 1, (table, files)


def test_crash_before_manifest_append_stays_invisible(spark, tmp_path,
                                                      monkeypatch):
    """A run that dies before its manifest append leaves its run
    directories on disk but in no committed view; the resume
    recomputes every partition, and its committed verdicts equal a
    from-scratch run's."""
    clips = fixtures.clips_df(spark, 200, max_samples=16)
    kw = dict(dims={"codec_dim": fixtures.codec_dim_df(spark)})
    real = checkpoint.append_manifest
    calls = []

    def crash_once(*args, **kwargs):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("crash before the manifest append")
        return real(*args, **kwargs)

    monkeypatch.setattr(checkpoint, "append_manifest", crash_once)
    crashed = str(tmp_path / "crashed")
    with pytest.raises(RuntimeError):
        job.run(spark, "specs/clips.spec.yaml", clips, out_dir=crashed,
                **kw)
    assert spark.read.parquet(f"{crashed}/verdicts").count() == 64
    for table in ("violations", "verdicts"):
        assert checkpoint.committed(spark, crashed, table).count() == 0

    r = job.run(spark, "specs/clips.spec.yaml", clips, out_dir=crashed,
                **kw)
    assert r.verdicts.count() == 64
    fresh = str(tmp_path / "fresh")
    job.run(spark, "specs/clips.spec.yaml", clips, out_dir=fresh, **kw)
    assert _verdict_rows(spark, crashed) == _verdict_rows(spark, fresh)
    assert (r.violations.drop("run_id").exceptAll(
        checkpoint.committed(spark, fresh, "violations").drop("run_id"))
        .count() == 0)


def test_prep_run_twice_same_run_id_no_duplicates(spark, tmp_path):
    """Rerunning prep_run with the same run_id rewrites that run's
    directories and appends a second manifest commit per partition;
    the committed views still hold each row once."""
    broken = _broken(spark)
    out = str(tmp_path / "prep")
    for _ in range(2):
        pipeline.prep_run(spark, broken, SR_SPEC, dedup=False,
                          out_dir=out, run_id="same")
    verd = checkpoint.committed(spark, out, "verdicts")
    assert verd.count() == verd.select("part_id").distinct().count() == 64
    viol = checkpoint.committed(spark, out, "violations")
    n_bad = broken.filter(F.col("sr_hz") < 0).count()
    assert n_bad > 0
    assert viol.count() == viol.distinct().count() == n_bad


def test_null_part_id_rows_survive_committed_view(spark, tmp_path):
    """Violations of rows whose part_id is NULL are committed under a
    NULL manifest part_id; the view matches it null-safe."""
    broken = _broken(spark).withColumn(
        "part_id", F.when(F.col("part_id") < 4, F.lit(None).cast("int"))
                    .otherwise(F.col("part_id")))
    r = job.run(spark, SR_SPEC, broken, out_dir=str(tmp_path / "nulls"),
                stats_columns=())

    def counts(df):
        return {row.part_id: row["count"]
                for row in df.groupBy("part_id").count().collect()}

    want = counts(broken.filter(F.col("sr_hz") < 0))
    assert want[None] > 0
    assert counts(r.violations) == want
    assert None in {row.part_id for row in r.verdicts.collect()}
