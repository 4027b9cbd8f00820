"""End-to-end training-data prep: validate → quarantine → dedup →
(optional speed family) → chunk → write with lineage.

The capstone composition: every stage is an existing oracle-gated
operator; this module only wires them in the order a real ASR
training-data pipeline runs them and records the funnel. Scale shape
per stage is the operators' own (documented at each): the only
driver-side materializations are four scalar counts for the funnel
report and the verdict manifest the batch validator already writes.

Reference analog: the reference stops at validate (validate.cpp); the
north_star's reason to validate at all is feeding a training pipeline,
and this is that pipeline's skeleton.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from canned_yaml_spark import checkpoint as ckpt
from canned_yaml_spark import job as jobmod
from canned_yaml_spark.checks import Severity
from canned_yaml_spark.compile import compile_spec


@dataclass
class PrepResult:
    n_input: int
    n_quarantined: int
    n_dup_dropped: int
    n_windows: int
    clean: DataFrame          #: validated, deduplicated clips
    windows: DataFrame        #: trainer-shaped (win, hop) chunks
    verdicts: DataFrame       #: per-partition validation verdicts


def prep_run(spark: SparkSession, clips: DataFrame,
             spec_source: str | dict, *,
             clips_ref: DataFrame | None = None,
             dims: dict[str, DataFrame] | None = None,
             win: int = 4000, hop: int = 4000,
             dedup: bool = True,
             ber_threshold: float = 0.15,
             speed: tuple[int, int] | None = None,
             out_dir: str | None = None,
             run_id: str = "prep",
             id_col: str = "clip_id",
             part_col: str = "part_id") -> PrepResult:
    """Run the prep funnel over a clips table.

    1. VALIDATE (job.all_violations — the full spec suite): clips with
       an ERROR-severity ROW violation are quarantined (anti-join
       against the distinct violating ids — a frame proportional to
       the defect rate, not the corpus; partition-scoped rows with
       NULL clip_id gate partitions, not clips, and don't quarantine).
    2. DEDUP (optional): acoustic near-dup pairs (audiofp fingerprint
       LSH + BER verify) → connected components → keep the min-id
       representative per component (dedup.dedup_keep) — the corpus is
       touched by ONE broadcast anti-join against the drop set.
    3. SPEED (optional): speed_perturb num/den over the survivors
       (augmentation belongs BEFORE chunking so windows stay
       fixed-size).
    4. CHUNK: segment.window_slices (pure-JVM for stateless codecs);
       framed codecs route through windows_decoded; the union is the
       training-window table.
    5. WRITE (optional): windows parquet under out_dir/windows.

    With out_dir set, step 1 commits through checkpoint.commit before
    anything else, as job.run does: violations/, verdicts/ and the
    manifest land beside windows/, every family executes once, and the
    quarantine reads the written violations. Without out_dir nothing
    is written and the verdicts stay a lazy DataFrame.
    """
    from canned_yaml_spark import audiofp, augment, dedup as dd, segment
    from canned_yaml_spark.audio import _MAGIC
    from canned_yaml_spark.runner import violation_verdicts
    from canned_yaml_spark.segment import RAW_BPS

    suite = compile_spec(spec_source, clips.schema)
    n_input = clips.count()

    # 1 — validate + quarantine
    viols = jobmod.all_violations(clips, suite, dims=dims,
                                  clips_ref=clips_ref,
                                  id_col=id_col, part_col=part_col)
    if out_dir is not None:
        viols, verdicts = ckpt.commit(spark, clips, viols, out_dir, run_id,
                                      part_col=part_col)
    else:
        # verdicts over EVERY family's violations (x-unique, x-ref, …)
        # — the same derivation job.run commits, not the row checks
        verdicts = violation_verdicts(clips, viols, part_col)
    bad_ids = (viols.filter((F.col("severity") >= int(Severity.ERROR))
                            & F.col("clip_id").isNotNull())
                    .select(F.col("clip_id").alias(id_col)).distinct())
    ok = clips.join(bad_ids, id_col, "left_anti")

    # 2 — acoustic dedup, keep-one
    if dedup:
        pairs = audiofp.near_dup_audio(ok, ber_threshold=ber_threshold,
                                       id_col=id_col)
        kept = dd.dedup_keep(
            ok.withColumnRenamed(id_col, "doc_id"),
            pairs.select(F.col("clip_a").alias("doc_a"),
                         F.col("clip_b").alias("doc_b"))) \
            .withColumnRenamed("doc_id", id_col)
    else:
        kept = ok
    n_ok = ok.count()
    n_kept = kept.count()

    # 3 — optional speed family
    chunk_src = kept
    if speed is not None and speed[0] != speed[1]:
        sp = augment.speed_perturb(kept, speed[0], speed[1],
                                   id_col=id_col)
        chunk_src = (sp.filter(F.col("bytes").isNotNull())
                       .withColumn("codec", F.lit("pcm_s16le"))
                       .select(id_col, "codec", "bytes"))

    # 4 — chunk: JVM path for stateless codecs, Arrow for framed
    raw = chunk_src.filter(F.col("codec").isin(*sorted(RAW_BPS)))
    framed = chunk_src.filter(
        F.col("codec").isin(*sorted(set(_MAGIC) - set(RAW_BPS))))
    windows = segment.window_slices(raw, win, hop, id_col=id_col) \
        .unionByName(
            segment.windows_decoded(framed, win, hop, id_col=id_col))
    n_windows = windows.count()

    # 5 — write the windows beside the committed validation outputs
    if out_dir is not None:
        windows.write.mode("overwrite").parquet(f"{out_dir}/windows")

    return PrepResult(
        n_input=n_input,
        n_quarantined=n_input - n_ok,
        n_dup_dropped=n_ok - n_kept,
        n_windows=n_windows,
        clean=kept, windows=windows, verdicts=verdicts)
