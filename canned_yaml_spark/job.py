"""End-to-end validation job: the analog of the reference's runtime
driver (/root/reference/canner/src/validate.cpp:8-26) at table scale.

    load spec → compile → scan table once for row checks →
    dataset checks (uniqueness / referential / drift / payload) →
    write metrics → commit (checkpoint.commit: violations written
    once, verdicts + manifest derived from the written violations) →
    exit code = any ERROR   (validate.cpp prints notes + verdict;
                             we persist tables and return the verdict)

all_violations is the row suite's violations followed by each table
family's, in checks.TABLE_FAMILIES order; the same family table
declares the rule inventory (runner.suite_rule_ids).

The run is resumable: every family skips manifest-completed
partitions except uniqueness, which is cross-partition by nature and
is recomputed over the full table, then limited to the pending
partitions. Both are idempotent: a run is visible only through its
manifest append, and the data path is deterministic (checkpoint.py).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, replace

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from canned_yaml_spark import (
    audiofp, checkpoint, dataset, drift, events, loudness, multimodal, payload,
)
from canned_yaml_spark.checks import CheckSuite
from canned_yaml_spark.compile import compile_spec
from canned_yaml_spark.runner import row_violations, violation_verdicts


@dataclass
class ValidationResult:
    """With an out_dir, `violations` and `verdicts` are the committed
    views read back from disk (checkpoint.committed; both then carry
    run_id); without one, they are the lazy plans."""
    violations: DataFrame          # (clip_id, part_id, rule_id, severity, message)
    verdicts: DataFrame            # (part_id, n_rows, n_violations, max_severity, pass)
    metrics: DataFrame | None      # per-partition column stats
    ok: bool                       # no ERROR-severity violation anywhere


def all_violations(clips: DataFrame, suite: CheckSuite, *,
                   dims: dict[str, DataFrame] | None = None,
                   clips_ref: DataFrame | None = None,
                   expected_hist: DataFrame | None = None,
                   ks_reference: np.ndarray | None = None,
                   id_col: str = "clip_id",
                   part_col: str = "part_id") -> DataFrame:
    """The row suite's violations, then every table check's
    (suite.table_checks(): family by family in TABLE_FAMILIES order).

    No plan option: uniqueness reads the hash partitioning `clips`
    reports (dataset.hash_partition_columns) and joins back
    co-partitioned on a table bucketed by the key, and every payload
    join is a shuffle-hash join, exchange-free over clip_id buckets.
    """
    dims = dims or {}
    ids = (id_col, part_col)
    out = row_violations(clips, suite, id_col, part_col)

    def dim(c) -> DataFrame:
        if c.table not in dims:
            raise KeyError(f"check {c.rule_id} needs dimension table "
                           f"'{c.table}' in dims")
        return dims[c.table]

    def drift_frames(c):
        yield drift.psi_violations(clips, c, expected_hist, part_col)
        if c.w1_max is not None:
            yield drift.w1_violations(clips, c, expected_hist, part_col)
        if ks_reference is not None:
            yield drift.ks_violations(clips, c, ks_reference, part_col)

    def monotonic_frames(c):
        mv = events.monotonic_violations(clips, c, id_col=id_col)
        # align id/part types with the union so far (a spec may
        # partition the ordering by any column)
        yield mv.select(*[F.col(f.name).cast(f.dataType)
                          for f in out.schema])

    # family -> (the check's fields naming columns clips must have, its
    # violation frames). A check whose columns are missing, or whose
    # reference table was not given, adds nothing. Each builder looks
    # its function up at call time, so a caller can wrap it.
    column = ("column",)
    no_ref = clips_ref is None
    frames = {
        "unique_checks": ((), lambda c: [
            dataset.unique_violations(clips, c, *ids)]),
        "ref_checks": ((), lambda c: [
            dataset.referential_violations(clips, dim(c), c, *ids)]),
        "absent_checks": ((), lambda c: [
            dataset.absent_violations(clips, dim(c), c, *ids)]),
        "drift_checks": ((), drift_frames),
        "payload_checks": ((), lambda c: [] if no_ref else [
            payload.payload_violations(clips, clips_ref, c, *ids)]),
        "transcript_checks": (column, lambda c: [] if no_ref else [
            payload.transcript_violations(clips, clips_ref, c, *ids)]),
        "media_checks": (column, lambda c: [
            multimodal.media_violations(clips, c, *ids)]),
        "audio_checks": (column, lambda c: [
            payload.audio_stats_violations(clips, c, *ids)]),
        # the sample rate designs the K-weighting / sets the Hz scale
        "loudness_checks": (("column", "sr_col"), lambda c: [
            loudness.loudness_violations(clips, c, *ids)]),
        "spectral_checks": (("column", "sr_col"), lambda c: [
            audiofp.spectral_violations(clips, c, *ids)]),
        "quantile_checks": (column, lambda c: [
            dataset.quantile_violations(clips, c, part_col)]),
        "completeness_checks": (column, lambda c: [
            dataset.completeness_violations(clips, c, part_col)]),
        "frequency_checks": (column, lambda c: [
            dataset.frequency_violations(clips, c, part_col)]),
        "anomaly_checks": (column, lambda c: [
            dataset.anomaly_violations(clips, c, part_col)]),
        "cat_drift_checks": (column, lambda c: [
            drift.chi2_violations(clips, c, part_col)]),
        "monotonic_checks": (("column", "partition_by", "order_by"),
                             monotonic_frames),
    }
    for family, check in suite.table_checks():
        needs, build = frames[family]
        if all(getattr(check, f) in clips.columns for f in needs):
            for v in build(check):
                out = out.unionByName(v)
    return out


def run(spark: SparkSession, spec_source: str | dict, clips: DataFrame, *,
        dims: dict[str, DataFrame] | None = None,
        clips_ref: DataFrame | None = None,
        expected_hist: DataFrame | None = None,
        ks_reference: np.ndarray | None = None,
        out_dir: str | None = None,
        resume: bool = True,
        stats_columns: tuple[str, ...] = ("sr_hz", "dur_ms"),
        id_col: str = "clip_id",
        part_col: str = "part_id") -> ValidationResult:
    """Compile the spec and validate `clips` end to end.

    With out_dir set, writes metrics/run_id=<run_id>/ and then
    commits through checkpoint.commit: the violations union executes
    once, into violations/run_id=<run_id>/, and this run's verdicts
    and manifest rows are derived from the written violations
    (resumable). The result's violations and verdicts are then the
    committed views, every run's partitions included. Without
    out_dir, returns lazy DataFrames only.
    """
    suite = compile_spec(spec_source, clips.schema)
    run_id = uuid.uuid4().hex[:12]

    scope, scope_suite = clips, suite
    resuming = bool(out_dir and resume)
    if resuming:
        scope = checkpoint.pending_only(clips, spark,
                                        f"{out_dir}/manifest", part_col)
        scope_suite = replace(suite, unique_checks=[])

    # Every family runs on the pending scope only (completed partitions
    # are never rescanned) except uniqueness, the one genuinely
    # CROSS-partition check: a duplicate pair split across a completed
    # and a pending partition would be invisible to a scope-only scan,
    # so on resume it runs over the full table and its violations are
    # then filtered to pending partitions (the completed partition's
    # half was already committed by the earlier run — deterministic
    # data makes the two halves consistent).
    viol = all_violations(scope, scope_suite, dims=dims, clips_ref=clips_ref,
                          expected_hist=expected_hist,
                          ks_reference=ks_reference,
                          id_col=id_col, part_col=part_col)
    if resuming:
        for uc in suite.unique_checks:
            uv = dataset.unique_violations(clips, uc, id_col, part_col)
            uv = checkpoint.pending_only(uv, spark,
                                         f"{out_dir}/manifest", "part_id")
            viol = viol.unionByName(uv)
    metrics = dataset.column_stats(scope, list(stats_columns), part_col)

    if out_dir:
        checkpoint.write_partitioned(
            metrics.withColumn("run_id", F.lit(run_id)), f"{out_dir}/metrics")
        viol, verd = checkpoint.commit(spark, scope, viol, out_dir, run_id,
                                       part_col=part_col)
    else:
        verd = violation_verdicts(scope, viol, part_col)

    # ok == "no partition failed": the verdict aggregate already folds
    # max severity per partition, so this reads the committed verdicts
    # view instead of re-executing the violations union.
    return ValidationResult(violations=viol, verdicts=verd, metrics=metrics,
                            ok=verd.filter(~F.col("pass")).isEmpty())
