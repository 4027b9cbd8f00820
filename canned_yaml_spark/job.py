"""End-to-end validation job: the analog of the reference's runtime
driver (/root/reference/canner/src/validate.cpp:8-26) at table scale.

    load spec → compile → scan table once for row checks →
    dataset checks (uniqueness / referential / drift / payload) →
    write metrics → commit (checkpoint.commit: violations written
    once, verdicts + manifest derived from the written violations) →
    exit code = any ERROR   (validate.cpp prints notes + verdict;
                             we persist tables and return the verdict)

The run is resumable: row-level checks skip manifest-completed
partitions; table-level checks are recomputed over the full table
each run (they are cross-partition by nature) — both are idempotent
because every write is partition-atomic and the data path is
deterministic (checkpoint.py).
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from canned_yaml_spark import checkpoint, dataset, drift, payload
from canned_yaml_spark.checks import CheckSuite
from canned_yaml_spark.compile import compile_spec
from canned_yaml_spark.runner import row_violations, violation_verdicts


@dataclass
class ValidationResult:
    """With an out_dir, `violations` and `verdicts` are the committed
    tables read back from disk (verdicts then carry run_id); without
    one, they are the lazy plans."""
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
                   part_col: str = "part_id",
                   skip_unique: bool = False) -> DataFrame:
    """Union of every check family's long-form violations.

    skip_unique: used by resume (job.run), where uniqueness must scan
    the FULL table rather than the pending scope — see run().

    No plan option: uniqueness reads the hash partitioning `clips`
    reports (dataset.hash_partition_columns) and joins back
    co-partitioned on a table bucketed by the key, and every payload
    join is a shuffle-hash join, exchange-free over clip_id buckets.
    """
    dims = dims or {}
    out = row_violations(clips, suite, id_col, part_col)
    if not skip_unique:
        for uc in suite.unique_checks:
            out = out.unionByName(
                dataset.unique_violations(clips, uc, id_col, part_col))
    for rc in suite.ref_checks:
        if rc.table not in dims:
            raise KeyError(f"x-ref check {rc.rule_id} needs dimension table "
                           f"'{rc.table}' in dims")
        out = out.unionByName(
            dataset.referential_violations(clips, dims[rc.table], rc,
                                           id_col, part_col))
    for ac in suite.absent_checks:
        if ac.table not in dims:
            raise KeyError(f"x-absent check {ac.rule_id} needs dimension "
                           f"table '{ac.table}' in dims")
        out = out.unionByName(
            dataset.absent_violations(clips, dims[ac.table], ac,
                                      id_col, part_col))
    for dc in suite.drift_checks:
        out = out.unionByName(
            drift.psi_violations(clips, dc, expected_hist, part_col))
        if dc.w1_max is not None:
            out = out.unionByName(
                drift.w1_violations(clips, dc, expected_hist, part_col))
        if ks_reference is not None:
            out = out.unionByName(
                drift.ks_violations(clips, dc, ks_reference, part_col))
    for pc in suite.payload_checks:
        if clips_ref is not None:
            out = out.unionByName(
                payload.payload_violations(
                    clips, clips_ref, pc, id_col, part_col))
    for tc in suite.transcript_checks:
        if clips_ref is not None and tc.column in clips.columns:
            out = out.unionByName(
                payload.transcript_violations(
                    clips, clips_ref, tc, id_col, part_col))
    for mc in suite.media_checks:
        if mc.column in clips.columns:
            from canned_yaml_spark import multimodal
            out = out.unionByName(
                multimodal.media_violations(clips, mc, id_col, part_col))
    for ac in suite.audio_checks:
        # absolute quality gates, no reference table; skipped when the
        # table has no such column (e.g. the transcript-only corpus)
        if ac.column in clips.columns:
            out = out.unionByName(
                payload.audio_stats_violations(clips, ac, id_col, part_col))
    for lc in suite.loudness_checks:
        # BS.1770 bound on decoded payload loudness; needs the table's
        # sample-rate column for the K-weighting design
        if lc.column in clips.columns and lc.sr_col in clips.columns:
            from canned_yaml_spark import loudness
            out = out.unionByName(
                loudness.loudness_violations(clips, lc, id_col, part_col))
    for sc in suite.spectral_checks:
        if sc.column in clips.columns and sc.sr_col in clips.columns:
            from canned_yaml_spark import audiofp
            out = out.unionByName(
                audiofp.spectral_violations(clips, sc, id_col, part_col))
    for qc in suite.quantile_checks:
        if qc.column in clips.columns:
            out = out.unionByName(
                dataset.quantile_violations(clips, qc, part_col))
    for cc in suite.completeness_checks:
        if cc.column in clips.columns:
            out = out.unionByName(
                dataset.completeness_violations(clips, cc, part_col))
    for fc in suite.frequency_checks:
        if fc.column in clips.columns:
            out = out.unionByName(
                dataset.frequency_violations(clips, fc, part_col))
    for nc in suite.anomaly_checks:
        if nc.column in clips.columns:
            out = out.unionByName(
                dataset.anomaly_violations(clips, nc, part_col))
    for cc in suite.cat_drift_checks:
        if cc.column in clips.columns:
            out = out.unionByName(
                drift.chi2_violations(clips, cc, part_col))
    for mc in suite.monotonic_checks:
        if all(c in clips.columns for c in
               (mc.column, mc.partition_by, mc.order_by)):
            from canned_yaml_spark import events as _events
            mv = _events.monotonic_violations(clips, mc, id_col=id_col)
            # align id/part types with the row-suite frame (a spec may
            # partition the ordering by any column)
            mv = mv.select(*[F.col(c).cast(out.schema[c].dataType)
                             for c in out.columns])
            out = out.unionByName(mv)
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

    With out_dir set, writes metrics/ and then commits through
    checkpoint.commit: the violations union executes once, into
    violations/, and verdicts/ and manifest/ are derived from the
    written violations (partition-atomic, resumable). The result's
    violations and verdicts are then the written tables, every run's
    partitions included. Without out_dir, returns lazy DataFrames
    only.
    """
    suite = compile_spec(spec_source, clips.schema)
    run_id = uuid.uuid4().hex[:12]

    scope = clips
    resuming = bool(out_dir and resume)
    if resuming:
        scope = checkpoint.pending_only(clips, spark,
                                        f"{out_dir}/manifest", part_col)

    # Row-local and partition-local families run on the pending scope
    # only (completed partitions are never rescanned). Uniqueness is
    # the one genuinely CROSS-partition check: a duplicate pair split
    # across a completed and a pending partition would be invisible to
    # a scope-only scan, so it runs over the full table and its
    # violations are then filtered to pending partitions (the
    # completed partition's half was already committed by the earlier
    # run — deterministic data makes the two halves consistent).
    unique_scope = clips if resuming else scope
    viol = all_violations(scope, suite, dims=dims, clips_ref=clips_ref,
                          expected_hist=expected_hist,
                          ks_reference=ks_reference,
                          id_col=id_col, part_col=part_col,
                          skip_unique=resuming)
    if resuming:
        for uc in suite.unique_checks:
            uv = dataset.unique_violations(unique_scope, uc, id_col, part_col)
            uv = checkpoint.pending_only(uv, spark,
                                         f"{out_dir}/manifest", "part_id")
            viol = viol.unionByName(uv)
    metrics = dataset.column_stats(scope, list(stats_columns), part_col)

    if out_dir:
        checkpoint.write_partitioned(metrics, f"{out_dir}/metrics")
        viol, verd = checkpoint.commit(spark, scope, viol, out_dir, run_id,
                                       resuming=resuming, part_col=part_col)
    else:
        verd = violation_verdicts(scope, viol, part_col)

    # ok == "no partition failed": the verdict aggregate already folds
    # max severity per partition, so this reads the (written) verdicts
    # table instead of re-executing the violations union.
    n_bad = verd.filter(~F.col("pass")).limit(1).count()
    return ValidationResult(violations=viol, verdicts=verd,
                            metrics=metrics, ok=n_bad == 0)
