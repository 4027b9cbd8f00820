"""Dataset-level checks: uniqueness, referential, stats, salting."""

import pyspark.sql.functions as F

from canned_yaml_spark import dataset
from canned_yaml_spark.derive import CODEC_DIM_ROWS


def test_duplicate_keys(spark, clips, suite, golden):
    uc = suite.unique_checks[0]
    dups = dataset.duplicate_keys(clips, uc).collect()
    # each id_dup injection creates one duplicated key (pair)
    assert len(dups) == golden["id_dup"]
    assert all(r.n_dup == 2 for r in dups)


def test_unique_violations_keep_row_context(spark, clips, suite, golden):
    uc = suite.unique_checks[0]
    v = dataset.unique_violations(clips, uc)
    # both rows of each duplicate pair are reported
    assert v.count() == 2 * golden["id_dup"]
    assert v.filter(F.col("part_id").isNull()).count() == 0


def test_unique_clean(spark, clips_clean, suite):
    uc = suite.unique_checks[0]
    assert dataset.unique_violations(clips_clean, uc).count() == 0


def test_referential_violations(spark, clips, codec_dim, suite, golden):
    rc = suite.ref_checks[0]
    v = dataset.referential_violations(clips, codec_dim, rc)
    # 'wav' (codec_enum) and 'vorbis' (codec_ref) are both absent from dim
    assert v.count() == golden["codec_enum"] + golden["codec_ref"]
    msgs = {r.message for r in v.collect()}
    assert any("wav" in m for m in msgs) and any("vorbis" in m for m in msgs)


def test_referential_plan_small_dim_is_pure_filter(spark, clips, codec_dim,
                                                   suite):
    # small dims compile into the scan as NOT IN — no join node at all
    rc = suite.ref_checks[0]
    plan = dataset.referential_violations(clips, codec_dim, rc) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan
    assert "Filter" in plan


def test_referential_plan_large_dim_is_broadcast(spark, clips, codec_dim,
                                                 suite):
    # above the inline cap the plan falls back to broadcast left-anti
    rc = suite.ref_checks[0]
    plan = dataset.referential_violations(clips, codec_dim, rc,
                                          max_inline_keys=0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_referential_inline_matches_broadcast(spark, clips, codec_dim, suite):
    rc = suite.ref_checks[0]
    a = dataset.referential_violations(clips, codec_dim, rc).collect()
    b = dataset.referential_violations(clips, codec_dim, rc,
                                       max_inline_keys=0).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b)) and len(a) > 0


def test_column_stats(spark, clips_clean):
    st = dataset.column_stats(clips_clean, ["sr_hz", "dur_ms"])
    rows = st.collect()
    assert len(rows) == 64
    r = rows[0]
    assert r.n_rows > 0 and r.sr_hz_min >= 8000 and r.sr_hz_max <= 48000


def test_salted_group_count_matches_plain(spark, clips_clean):
    salted = {r["codec"]: r["n"] for r in
              dataset.salted_group_count(clips_clean, "codec").collect()}
    plain = {r["codec"]: r["cnt"] for r in
             clips_clean.groupBy("codec")
             .agg(F.count("*").alias("cnt")).collect()}
    assert salted == plain
    # skew: pcm_s16le is the ~0.70 hot key (FIXTURES.md)
    total = sum(plain.values())
    assert plain["pcm_s16le"] / total > 0.6
    assert set(plain) == {c for c, _, _ in CODEC_DIM_ROWS}


def test_unique_copartitioned_matches_broadcast(spark, clips, suite,
                                               bucketed, tmp_path):
    # the join back follows the layout the table reports: co-partitioned
    # only for a check on the bucket key, broadcast for any other key
    from canned_yaml_spark.checks import UniqueCheck
    df = clips.select("clip_id", "part_id",
                      (F.abs(F.hash("clip_id")) % 500).alias("c1"))
    table = bucketed(df, "uniq_b")
    df.write.parquet(str(tmp_path / "uniq_plain"))
    plain = spark.read.parquet(str(tmp_path / "uniq_plain"))
    assert dataset.hash_partition_columns(table) == ("clip_id",)
    assert dataset.hash_partition_columns(plain) == ()
    c1 = UniqueCheck(rule_id="x-unique.c1", column="c1")
    for uc in (suite.unique_checks[0], c1):
        got = dataset.unique_violations(table, uc)
        plan = got._jdf.queryExecution().executedPlan().toString()
        if uc.columns == ("clip_id",):
            assert "Exchange" not in plan, plan
        else:
            # only the aggregate shuffles: every hash exchange sits on
            # a partial count, none on the fact scan
            lines = plan.splitlines()
            below = [lines[i + 1] for i, ln in enumerate(lines)
                     if "Exchange hashpartitioning" in ln]
            assert below and all("partial_count" in ln for ln in below), \
                plan
            assert "BroadcastExchange" in plan, plan
        want = dataset.unique_violations(plain, uc).collect()
        assert sorted(map(tuple, got.collect())) == \
            sorted(map(tuple, want)) and len(want) > 0


def test_grouped_exact_quantiles(spark, clips):
    """percentile_cont semantics vs a sorted-list reference computed
    per group in Python; q=0.5 agrees with grouped_exact_median."""
    from canned_yaml_spark import dataset

    got = {r.codec: r for r in dataset.grouped_exact_quantiles(
        clips, "codec", "dur_ms", qs=(0.5, 0.95, 0.99)).collect()}
    med = {r.codec: r.median for r in dataset.grouped_exact_median(
        clips, "codec", "dur_ms").collect()}

    rows = clips.select("codec", "dur_ms").collect()
    groups: dict = {}
    for r in rows:
        if r.dur_ms is not None:
            groups.setdefault(r.codec, []).append(r.dur_ms)
    assert set(got) == set(groups)
    for codec, vals in groups.items():
        vals.sort()
        n = len(vals)
        for q, col in ((0.5, "q50"), (0.95, "q95"), (0.99, "q99")):
            pos = q * (n - 1)
            lo, hi = vals[int(pos)], vals[min(int(pos) + 1, n - 1)]
            want = lo + (pos - int(pos)) * (hi - lo)
            assert abs(got[codec][col] - want) < 1e-9, (codec, col)
        assert abs(got[codec].q50 - med[codec]) < 1e-9


def test_x_quantile_spec_rule(spark, clips):
    """x-quantile end to end: compile → per-partition exact quantile →
    violation rows → job wiring; located SpecErrors on bad specs."""
    import pytest

    from canned_yaml_spark import compile_spec, dataset, job
    from canned_yaml_spark.errors import SpecError

    # fixture corpus: DRIFT_PART (7) carries +5000 ms; its p99 breaches
    # a 12 s cap while clean partitions stay near 10 s — wait, the
    # fixture ALSO injects dur_range outliers (0 / 86_400_000), which
    # blow the p99 of their partitions; the rule flags every partition
    # whose p99 exceeds the cap, outlier-driven or drift-driven.
    suite = compile_spec(
        {"type": "object",
         "x-quantile": [{"column": "dur_ms", "q": 0.99,
                         "maximum": 12000, "severity": "ERROR"}]},
        clips.schema)
    [qc] = suite.quantile_checks
    assert qc.rule_id == "x-quantile.dur_ms.p99" and int(qc.severity) == 2

    rep = {r.part_id: r for r in
           dataset.partition_quantile(clips, qc).collect()}
    assert len(rep) == 64
    assert rep[7].breach                       # drift partition
    viol = dataset.quantile_violations(clips, qc).collect()
    assert {r.part_id for r in viol} == {p for p, r in rep.items()
                                         if r.breach}
    assert all(r.clip_id is None and r.severity == 2 for r in viol)
    assert all("p99(dur_ms)" in r.message and "<= 12000" in r.message
               for r in viol)

    # wired through the job driver
    av = (job.all_violations(clips, suite)
          .filter(F.col("rule_id") == "x-quantile.dur_ms.p99"))
    assert av.count() == len(viol) and len(viol) > 0

    # a minimum bound flags the other tail: p01 of the dur=0 outlier
    # partitions sinks below a 150 ms floor
    suite_lo = compile_spec(
        {"type": "object",
         "x-quantile": {"column": "dur_ms", "q": 0.01, "minimum": 150}},
        clips.schema)
    [qlo] = suite_lo.quantile_checks
    lo_viol = dataset.quantile_violations(clips, qlo).collect()
    assert lo_viol and all(">= 150" in r.message for r in lo_viol)

    # located SpecErrors
    for bad in (
        {"x-quantile": {"column": "dur_ms"}},                   # no q
        {"x-quantile": {"column": "dur_ms", "q": 1.5,
                        "maximum": 1}},                         # q range
        {"x-quantile": {"column": "dur_ms", "q": 0.5}},         # no bound
        {"x-quantile": {"column": "dur_ms", "q": 0.5,
                        "minimum": 9, "maximum": 1}},           # min>max
    ):
        with pytest.raises(SpecError, match="x-quantile"):
            compile_spec({"type": "object", **bad}, clips.schema)

    # deep spec carries the rule
    deep = compile_spec(open("specs/clips_deep.spec.yaml").read(),
                        clips.schema)
    assert len(deep.quantile_checks) == 1


def test_x_quantile_bucketed_mode(spark, clips):
    """Bucketed x-quantile (unbounded-column posture): the quantized
    quantile stays within width/2 of the exact one inside the range,
    clamping is applied at the edges, and bad bucket specs raise."""
    import pytest

    from canned_yaml_spark import compile_spec, dataset
    from canned_yaml_spark.errors import SpecError

    mk = lambda extra: compile_spec(
        {"type": "object",
         "x-quantile": {"column": "dur_ms", "q": 0.5, "maximum": 12000,
                        **extra}}, clips.schema)
    [exact] = mk({}).quantile_checks
    [approx] = mk({"buckets": 1000, "lo": 0,
                   "hi": 16000}).quantile_checks
    width = (approx.hi - approx.lo) / approx.buckets

    ex = {r.part_id: r.qval for r in
          dataset.partition_quantile(clips, exact).collect()}
    ap = {r.part_id: r.qval for r in
          dataset.partition_quantile(clips, approx).collect()}
    assert set(ex) == set(ap)
    for p in ex:
        # the fixture's dur outliers (86.4e6) clamp to the top bucket;
        # they sit above p50 in every partition, so the MEDIAN is
        # in-range and the bound applies
        assert abs(ex[p] - ap[p]) <= width / 2 + 1e-9, p

    with pytest.raises(SpecError, match="buckets"):
        mk({"buckets": 0})
    with pytest.raises(SpecError, match="lo < hi"):
        mk({"buckets": 10, "lo": 5, "hi": 5})


# ------------------------------------------------------- snapshot diff
def test_snapshot_diff_classification(spark):
    old = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y"), ("c", None, "z"), ("e", 5, "v")],
        "k string, v int, w string")
    new = spark.createDataFrame(
        [("a", 1, "x"), ("b", 3, "y"), ("c", None, None), ("d", 9, "q")],
        "k string, v int, w string")
    got = {r.k: (r.change, r.changed_cols) for r in
           dataset.snapshot_diff(old, new, "k").collect()}
    # a unchanged → absent; b value change; c value→NULL IS a change
    # (null-safe); d added; e removed
    assert got == {"b": ("changed", "v"),
                   "c": ("changed", "w"),
                   "d": ("added", ""),
                   "e": ("removed", "")}
    # NULL→NULL (c.v) did NOT flag; multi-column change lists both,
    # sorted by column name
    new2 = new.withColumn("v", F.when(F.col("k") == "c", 7)
                                .otherwise(F.col("v")))
    got2 = {r.k: r.changed_cols for r in
            dataset.snapshot_diff(old, new2, "k").collect()}
    assert got2["c"] == "v,w"


def test_snapshot_diff_key_only_and_digest(spark):
    from canned_yaml_spark import derive
    old = derive.snapshot_df(spark, "/root/testdata/sf0.001", "old")
    new = derive.snapshot_df(spark, "/root/testdata/sf0.001", "new")
    # digest mode must reproduce the value-mode report exactly on the
    # derived churn corpus (8-byte xxhash64 cells cross the join
    # instead of the columns themselves)
    val = sorted(map(tuple, dataset.snapshot_diff(old, new).collect()))
    dig = sorted(map(tuple,
                     dataset.snapshot_diff(old, new, digest=True).collect()))
    assert val == dig
    assert len(val) > 0
    # every pinned churn class occurs (derive.snapshot_select moduli)
    kinds = {(r[1], r[2]) for r in val}
    assert ("added", "") in kinds and ("removed", "") in kinds
    assert ("changed", "sr_hz") in kinds
    assert ("changed", "transcript") in kinds
    assert ("changed", "codec") in kinds
    # compare_cols=[] → membership-only diff: added/removed survive,
    # changed rows vanish
    ko = dataset.snapshot_diff(old, new, compare_cols=[])
    assert set(ko.select("change").distinct().toPandas()["change"]) \
        == {"added", "removed"}


# -------------------------------------------- composite uniqueness (r5)
def test_composite_unique_violations(spark):
    from canned_yaml_spark.checks import UniqueCheck
    df = spark.createDataFrame(
        [("a", 1, 16000, 0), ("a", 1, 16000, 1),   # dup pair on (c1,c2)
         ("a", 2, 16000, 2),                        # c1 repeats, c2 not
         ("b", 1, 16000, 3)],
        "c1 string, c2 int, sr int, part_id int") \
        .withColumn("clip_id", F.col("part_id").cast("string"))
    uc = UniqueCheck(rule_id="x-unique.(c1,c2)", column=("c1", "c2"))
    dups = dataset.duplicate_keys(df, uc).collect()
    assert [(r.c1, r.c2, r.n_dup) for r in dups] == [("a", 1, 2)]
    v = dataset.unique_violations(df, uc).collect()
    assert sorted(r.clip_id for r in v) == ["0", "1"]
    assert all(r.rule_id == "x-unique.(c1,c2)" for r in v)
    assert all("duplicate (c1,c2) (x2)" == r.message for r in v)


def test_x_unique_together_spec(spark):
    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.errors import SpecError
    import pytest as _pytest
    schema = spark.createDataFrame(
        [("a", 1, "x", 0)],
        "c1 string, c2 int, clip_id string, part_id int").schema
    suite = compile_spec(
        {"type": "object", "x-unique-together": ["c1", "c2"]}, schema)
    [uc] = suite.unique_checks
    assert uc.rule_id == "x-unique.(c1,c2)" and uc.columns == ("c1", "c2")
    # list-of-lists form
    suite = compile_spec(
        {"type": "object",
         "x-unique-together": [["c1", "c2"], ["c2", "clip_id"]]}, schema)
    assert len(suite.unique_checks) == 2
    # located SpecErrors
    for bad in (["c1"], [["c1"]], [["c1", "c1"]], [["c1", "nope"]],
                "c1", [[1, 2]]):
        with _pytest.raises(SpecError):
            compile_spec({"type": "object", "x-unique-together": bad},
                         schema)


# -------------------------------------------- composite referential (r5)
def test_composite_referential_violations(spark):
    from canned_yaml_spark.checks import RefCheck
    facts = spark.createDataFrame(
        [("mp3", 44100, "c0", 0), ("mp3", 8000, "c1", 1),
         ("flac", 48000, "c2", 2), (None, 44100, "c3", 3),
         ("mp3", None, "c4", 4)],
        "codec string, sr int, clip_id string, part_id int")
    dim = spark.createDataFrame(
        [("mp3", 44100), ("flac", 48000), ("flac", 44100)],
        "d_codec string, d_sr int")
    rc = RefCheck(rule_id="x-ref.(codec,sr)", column=("codec", "sr"),
                  table="caps", key=("d_codec", "d_sr"))
    v = dataset.referential_violations(facts, dim, rc).collect()
    # only the ('mp3', 8000) pair violates; NULL parts are presence
    # problems, excluded like the single-column path
    assert [r.clip_id for r in v] == ["c1"]
    assert v[0].rule_id == "x-ref.(codec,sr)"
    assert "(codec,sr) '(mp3,8000)' not present in caps.(d_codec,d_sr)" \
        == v[0].message
    # the plan is broadcast anti (no IN-inlining for composite keys)
    plan = dataset.referential_violations(facts, dim, rc) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_x_ref_together_spec(spark):
    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.errors import SpecError
    import pytest as _pytest
    schema = spark.createDataFrame(
        [("mp3", 44100, "x", 0)],
        "codec string, sr int, clip_id string, part_id int").schema
    suite = compile_spec(
        {"type": "object",
         "x-ref-together": {"columns": ["codec", "sr"], "table": "caps",
                            "keys": ["d_codec", "d_sr"],
                            "severity": "WARN"}}, schema)
    [rc] = suite.ref_checks
    assert rc.columns == ("codec", "sr") and rc.keys == ("d_codec", "d_sr")
    assert rc.table == "caps" and rc.rule_id == "x-ref.(codec,sr)"
    for bad in ({"columns": ["codec"], "table": "t", "keys": ["k"]},
                {"columns": ["codec", "sr"], "table": "t", "keys": ["k"]},
                {"columns": ["codec", "nope"], "table": "t",
                 "keys": ["a", "b"]},
                {"table": "t"}, "nope"):
        with _pytest.raises(SpecError):
            compile_spec({"type": "object", "x-ref-together": bad}, schema)


# ---------------------------------------------- x-absent blocklist (r5)
def test_absent_violations_both_plans(spark):
    from canned_yaml_spark.checks import RefCheck
    facts = spark.createDataFrame(
        [("h1", "a", 0), ("h2", "b", 1), (None, "c", 2), ("h9", "d", 3)],
        "h string, clip_id string, part_id int")
    block = spark.createDataFrame([("h2",), ("h7",), (None,)],
                                  "bad string")
    rc = RefCheck(rule_id="x-absent.h", column="h",
                  table="blocklist", key="bad")
    v = dataset.absent_violations(facts, block, rc).collect()
    # only h2 is blocked; NULL fact values are never on a blocklist
    assert [(r.clip_id, r.rule_id) for r in v] == [("b", "x-absent.h")]
    assert "h 'h2' is on the blocklist blocklist.bad" == v[0].message
    # semi-join plan (big-dim posture) agrees
    v2 = dataset.absent_violations(facts, block, rc,
                                   max_inline_keys=0).collect()
    assert [r.clip_id for r in v2] == ["b"]
    plan = dataset.absent_violations(facts, block, rc, max_inline_keys=0) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan


def test_x_absent_spec_and_job_wiring(spark):
    from canned_yaml_spark import job
    from canned_yaml_spark.compile import compile_spec
    from canned_yaml_spark.errors import SpecError
    import pytest as _pytest
    facts = spark.createDataFrame(
        [("h1", "a", 0), ("h2", "b", 1)],
        "h string, clip_id string, part_id int")
    block = spark.createDataFrame([("h2",)], "bad string")
    spec = {"type": "object",
            "properties": {"h": {"x-absent": {"table": "blocklist",
                                              "key": "bad",
                                              "severity": "WARN"}}}}
    suite = compile_spec(spec, facts.schema)
    [ac] = suite.absent_checks
    assert ac.rule_id == "x-absent.h" and int(ac.severity) == 1
    out = job.all_violations(facts, suite,
                             dims={"blocklist": block}).collect()
    assert [(r.clip_id, r.rule_id) for r in out] == [("b", "x-absent.h")]
    with _pytest.raises(KeyError):
        job.all_violations(facts, suite, dims={})
    with _pytest.raises(SpecError):
        compile_spec({"type": "object",
                      "properties": {"h": {"x-absent": {"table": "t"}}}},
                     facts.schema)
