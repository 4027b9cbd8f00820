"""Corpus-translation tests (SURVEY.md §5 item 2): golden violation
counts computed from the injection plan, never stored."""

import pyspark.sql.functions as F

from canned_yaml_spark.checks import Severity
from canned_yaml_spark.runner import (
    row_verdicts, row_violations, violation_count, violation_verdicts,
)


def _counts(df):
    return {r.rule_id: r.n for r in
            df.groupBy("rule_id").agg(F.count("*").alias("n")).collect()}


def test_row_violations_match_injection_plan(spark, clips, suite, golden):
    c = _counts(row_violations(clips, suite))
    assert c["properties.sr_hz.minimum"] + c["properties.sr_hz.maximum"] \
        == golden["sr_range"]
    assert c["properties.dur_ms.minimum"] + c["properties.dur_ms.maximum"] \
        == golden["dur_range"]
    assert c["properties.codec.enum"] == golden["codec_enum"]
    assert c["properties.clip_id.pattern"] == golden["id_pattern"]
    assert c["required.transcript"] == golden["transcript_null"]
    assert c["properties.transcript.minLength"] \
        + c["properties.transcript.maxLength"] == golden["transcript_len"]
    # no unexpected rules fire
    assert set(c) == {
        "properties.sr_hz.minimum", "properties.sr_hz.maximum",
        "properties.dur_ms.minimum", "properties.dur_ms.maximum",
        "properties.codec.enum", "properties.clip_id.pattern",
        "required.transcript", "properties.transcript.minLength",
        "properties.transcript.maxLength"}


def test_clean_table_has_zero_violations(spark, clips_clean, suite):
    assert row_violations(clips_clean, suite).count() == 0


def test_verdict_rule(spark, clips, clips_clean, suite):
    # verdict = max severity < ERROR (canner.cc:1101), per partition
    verd = row_verdicts(clips, suite)
    bad = verd.filter(~F.col("pass")).count()
    assert bad > 0
    assert row_verdicts(clips_clean, suite).filter(~F.col("pass")).count() == 0
    # n_rows preserved
    total = verd.agg(F.sum("n_rows")).collect()[0][0]
    assert total == clips.count()


def test_violations_row_count_equals_k_checks(spark, clips, suite):
    # a row violating k checks yields exactly k violation rows
    exploded = row_violations(clips, suite).count()
    summed = clips.agg(F.sum(violation_count(suite.row_checks))) \
        .collect()[0][0]
    assert exploded == summed > 0


def test_violation_verdicts_any_family(spark, clips, clips_clean, suite):
    # over row violations alone the one verdict derivation agrees with
    # the codegen row-only form, partition by partition
    want = {r.part_id: tuple(r) for r in row_verdicts(clips, suite)
            .select("part_id", "n_rows", "n_violations", "max_severity",
                    "pass").collect()}
    got = {r.part_id: tuple(r) for r in violation_verdicts(
        clips, row_violations(clips, suite))
        .select("part_id", "n_rows", "n_violations", "max_severity",
                "pass").collect()}
    assert got == want and any(not v[4] for v in want.values())

    # a table-level ERROR (here partition-scoped: NULL clip_id) flips
    # `pass` of an otherwise clean partition
    clean_viol = row_violations(clips_clean, suite)
    extra = spark.createDataFrame(
        [(None, 3, "x-unique.clip_id", int(Severity.ERROR), "dup")],
        "clip_id string, part_id int, rule_id string, severity int, "
        "message string")
    rows = {r.part_id: r for r in violation_verdicts(
        clips_clean, clean_viol.unionByName(extra)).collect()}
    assert rows[3]["pass"] is False
    assert rows[3]["n_violations"] == 1
    assert rows[3]["max_severity"] == int(Severity.ERROR)
    assert all(r["pass"] for p, r in rows.items() if p != 3)
    assert sum(r.n_rows for r in rows.values()) == clips_clean.count()


def test_violation_order_matches_reference_walk(spark, suite):
    # checks are emitted in the reference's dispatcher order
    # ($ref→type→ranges→pattern→length→…→enum; canner.cc:764-829):
    # per property, minimum precedes maximum precedes enum, etc.
    orders = {c.rule_id: c.order for c in suite.row_checks}
    assert orders["properties.sr_hz.minimum"] \
        < orders["properties.sr_hz.maximum"]
    assert orders["properties.codec.type"] < orders["properties.codec.enum"]
    assert orders["required.clip_id"] < orders["properties.clip_id.pattern"]


def test_rule_coverage_dead_static_and_alien(spark, clips, suite):
    from canned_yaml_spark.runner import rule_coverage, suite_rule_ids

    decl = suite_rule_ids(suite)
    assert ("x-drift.dur_ms.psi", False) in decl
    assert ("x-drift.dur_ms.ks", False) in decl
    static_ids = {rid for rid, s in decl if s}
    assert static_ids and all(".type" in rid for rid in static_ids)

    viol = row_violations(clips, suite)
    # inject an ALIEN violation row (a rule_id the suite never
    # declared — stale table / engine bug) to exercise declared=false
    alien = spark.createDataFrame(
        [("clip_x", 0, "properties.ghost.never", 2, "m")],
        "clip_id string, part_id int, rule_id string, severity int, "
        "message string")
    cov = {r.rule_id: r for r in
           rule_coverage(viol.unionByName(alien), suite).collect()}

    assert len(cov) == len(decl) + 1
    ghost = cov["properties.ghost.never"]
    assert ghost.fired and not ghost.declared and not ghost.static_ok
    # statically-elided rules: declared, dead by construction
    for rid in static_ids:
        assert cov[rid].declared and not cov[rid].fired
    # a rule the fixture corpus injects must agree with the raw counts
    direct = {r.rule_id: r.n for r in viol.groupBy("rule_id")
              .agg(F.count("*").alias("n")).collect()}
    for rid, n in direct.items():
        assert cov[rid].n_violations == n and cov[rid].fired
    # row-family rules never emitted stay declared+dead with 0 counts
    for rid, _ in decl:
        if rid not in direct and rid in cov:
            if rid.startswith(("required.", "properties.")):
                assert cov[rid].n_violations == 0
                assert cov[rid].n_parts == 0



def test_family_table_covers_every_check_list():
    # Spark-free: a CheckSuite list field left out of TABLE_FAMILIES
    # would be neither in the violations union nor in the inventory
    from dataclasses import fields

    from canned_yaml_spark.checks import TABLE_FAMILIES, CheckSuite
    lists = {f.name for f in fields(CheckSuite)} - {"row_checks", "warnings"}
    assert len(TABLE_FAMILIES) == len(lists)
    assert set(TABLE_FAMILIES) == lists


def test_rule_coverage_declares_every_fired_family_rule(spark):
    # x-absent, x-monotonic and x-drift's .w1 each fire on a few rows;
    # the inventory read off the family table declares all of them
    from canned_yaml_spark import job
    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.runner import rule_coverage, suite_rule_ids

    rows = [(f"c{i}", i // 4, i, float(i % 4 != 2), f"h{i % 3}",
             20 + 360 * (i // 4)) for i in range(8)]
    df = spark.createDataFrame(
        rows, "clip_id string, part_id int, seq long, v double, h string, "
              "dur_ms int")
    spec = {"type": "object",
            "properties": {"h": {"x-absent": {"table": "blocklist",
                                              "key": "bad"}}},
            "x-monotonic": {"column": "v", "partition_by": "part_id",
                            "order_by": "seq"},
            "x-drift": {"column": "dur_ms", "buckets": 4, "lo": 0,
                        "hi": 400, "w1_max": 50}}
    suite = compile_spec(spec, df.schema)
    assert suite.drift_checks[0].rule_ids() == (
        "x-drift.dur_ms.psi", "x-drift.dur_ms.w1", "x-drift.dur_ms.ks")
    viol = job.all_violations(
        df, suite,
        dims={"blocklist": spark.createDataFrame([("h1",)], "bad string")},
        expected_hist=spark.createDataFrame([(0, 1.0)],
                                            "bucket int, expected_frac double"))
    cov = {r.rule_id: r for r in rule_coverage(viol, suite).collect()}
    fired = {rid for rid, r in cov.items() if r.fired}
    assert {"x-absent.h", "x-monotonic.v", "x-drift.dur_ms.w1"} <= fired
    assert all(cov[rid].declared for rid in fired)
    assert {rid for rid, _ in suite_rule_ids(suite)} == set(cov)

# ----------------------------------------------- violation_report (r5)
def test_violation_report_counts_and_examples(spark, clips, suite):
    from canned_yaml_spark.runner import violation_report
    rep = violation_report(clips, suite, examples_per_rule=3)
    rows = rep.collect()
    # counts agree with the exploded long form, rule by rule
    golden = _counts(row_violations(clips, suite))
    got = {r.rule_id: r.n_violations for r in rows}
    for rid, n in golden.items():
        assert got[rid] == n, rid
    # never-fired rules appear with n=0 and a NULL example
    zero = [r for r in rows if r.n_violations == 0]
    assert zero and all(r.ex_rank is None and r.ex_clip_id is None
                        for r in zero)
    # examples: exactly min(K, n) per fired rule, ranked 1..m, and each
    # example really is a violator of that rule
    viol = {(r.clip_id, r.rule_id)
            for r in row_violations(clips, suite).collect()}
    by_rule = {}
    for r in rows:
        if r.ex_rank is not None:
            by_rule.setdefault(r.rule_id, []).append(r)
    for rid, exs in by_rule.items():
        assert [e.ex_rank for e in sorted(exs, key=lambda e: e.ex_rank)] \
            == list(range(1, len(exs) + 1))
        assert len(exs) == min(3, golden[rid])
        for e in exs:
            assert (e.ex_clip_id, rid) in viol


def test_violation_report_examples_are_exact_topk_by_hash(spark, clips,
                                                          suite):
    # the sampled selection must equal the exact (unfiltered) top-K —
    # provable when >=K survive, and guaranteed by the fallback
    from canned_yaml_spark.runner import violation_report
    from pyspark.sql.window import Window
    exact = (row_violations(clips, suite)
             .withColumn("h", F.xxhash64("clip_id"))
             .withColumn("rn", F.row_number().over(
                 Window.partitionBy("rule_id").orderBy("h", "clip_id")))
             .filter(F.col("rn") <= 3)
             .select("rule_id", "clip_id", "rn").collect())
    want = {(r.rule_id, r.rn): r.clip_id for r in exact}
    rep = violation_report(clips, suite, examples_per_rule=3).collect()
    got = {(r.rule_id, r.ex_rank): r.ex_clip_id for r in rep
           if r.ex_rank is not None}
    assert got == want


def test_violation_report_fallback_path_is_exact(spark, clips, suite):
    # force the sampling threshold so low that (almost) nothing
    # survives: the deficiency fallback must reproduce the exact
    # result anyway. _sample_boost=0 -> rate 0 for every fired rule.
    from canned_yaml_spark.runner import violation_report
    a = violation_report(clips, suite, examples_per_rule=2).collect()
    b = violation_report(clips, suite, examples_per_rule=2,
                         _sample_boost=0).collect()
    key = lambda r: (r.rule_id, r.ex_rank or 0)
    assert sorted(a, key=key) == sorted(b, key=key)
