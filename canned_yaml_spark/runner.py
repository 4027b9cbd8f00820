"""Suite execution: one scan → violations (long form) + verdicts.

The reference's generated validator walks one document, appends notes
to an Errata, and the verdict is max-severity < ERROR
(/root/reference/canner/src/canner.cc:1096-1103, validate.cpp:13-20).
Here all rows are validated at once in a single columnar scan: every
check's violation predicate becomes one slot of an array<struct>
column, the long-form violations table falls out of one explode plus
a plain NULL post-filter — zero shuffles for row-level checks.
Per-partition verdicts are one hash aggregation (partial map-side
combine + final) on the partition column: row_verdicts over the row
checks alone, violation_verdicts over a violations table of any
family mix — the one derivation every commit path uses, fed the
violations as written to disk by checkpoint.commit (the batch job,
the prep pipeline and the streaming lineage sink all commit through
it), so no check family runs again to produce verdicts.

Deliberate semantic difference from the reference (SURVEY.md §4):
the reference fail-fasts inside a subtree (each check `return false`,
canner.cc:363-366); we evaluate *all* checks per row and emit the
complete violation set — at 10^12 rows, vectorization beats
short-circuiting, and complete violation sets are what a data-quality
job needs. Check `order` preserves the reference's reporting order.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from canned_yaml_spark.checks import Check, CheckSuite, Severity

#: Schema of the long-form violations table.
VIOLATION_COLS = ("clip_id", "part_id", "rule_id", "severity", "message")


def partition_violations(report: DataFrame, breach: Column, rule_id: str,
                         severity: Severity, message: Column) -> DataFrame:
    """Long-form violation rows of a partition-scoped check (clip_id
    NULL): one per `report` row (part_id, statistics) where `breach`
    holds, `message` built from that row's statistics."""
    return report.filter(breach).select(
        F.lit(None).cast("string").alias("clip_id"),
        "part_id",
        F.lit(rule_id).alias("rule_id"),
        F.lit(int(severity)).alias("severity"),
        message.alias("message"))


def _live_checks(checks: list[Check]) -> list[Check]:
    return [c for c in sorted(checks, key=lambda c: c.order)
            if not c.static_ok]


def _slot(c: Check) -> Column:
    return F.when(
        c.violation,
        F.struct(
            F.lit(c.rule_id).alias("rule_id"),
            F.lit(int(c.severity)).alias("severity"),
            c.message.alias("message"),
        ),
    )


def violation_raw_array(checks: list[Check]) -> Column:
    """array<struct<rule_id,severity,message>> with one slot per live
    check — NULL slots for checks that did not fire. No higher-order
    `filter(...)` compacts it: HOFs are CodegenFallback expressions,
    and wrapping the slot array in one drags the whole CASE tree into
    interpreted eval (~2.7x measured on the row suite, guide §7.2).
    Callers explode THIS and drop NULLs with a plain post-filter."""
    slots = [_slot(c) for c in _live_checks(checks)]
    if not slots:
        return F.array().cast(
            "array<struct<rule_id:string,severity:int,message:string>>")
    return F.array(*slots)


def violation_count(checks: list[Check]) -> Column:
    """Number of fired checks per row == the non-NULL slots of
    violation_raw_array(...), as a conditional sum so it compiles."""
    live = _live_checks(checks)
    if not live:
        return F.lit(0)
    out = F.when(live[0].violation, 1).otherwise(0)
    for c in live[1:]:
        out = out + F.when(c.violation, 1).otherwise(0)
    return out


def max_violation_severity(checks: list[Check]) -> Column:
    """Max severity among fired checks, -1 when none fired, as
    greatest(CASE...) over the live checks so it compiles (no HOF)."""
    live = _live_checks(checks)
    if not live:
        return F.lit(-1)
    terms = [F.when(c.violation, int(c.severity)).otherwise(-1)
             for c in live]
    return terms[0] if len(terms) == 1 else F.greatest(*terms)


def row_violations(df: DataFrame, suite: CheckSuite,
                   id_col: str = "clip_id",
                   part_col: str = "part_id") -> DataFrame:
    """Long-form violations: (clip_id, part_id, rule_id, severity,
    message). Rows with no violations vanish in the explode — the
    output is proportional to defects, not to table size.

    The un-fired NULL slots are dropped by a plain post-explode filter
    rather than a higher-order array filter: HOFs are CodegenFallback
    and poison the whole check tree into interpreted eval (measured
    2.7x on this exact shape, OPTIMIZATION_r06.md)."""
    arr = violation_raw_array(suite.row_checks)
    return (
        df.select(F.col(id_col).alias("clip_id"),
                  F.col(part_col).alias("part_id"),
                  F.explode(arr).alias("v"))
          .filter(F.col("v").isNotNull())
          .select("clip_id", "part_id", "v.rule_id", "v.severity", "v.message")
    )


def row_verdicts(df: DataFrame, suite: CheckSuite,
                 part_col: str = "part_id") -> DataFrame:
    """Per-partition verdict over the row-level checks: one scan, one
    hash agg. pass == no ERROR-severity violation in the partition
    (the reference's verdict rule, canner.cc:1101, lifted from
    document to partition granularity per BASELINE.json)."""
    return (
        df.select(F.col(part_col).alias("part_id"),
                  violation_count(suite.row_checks).alias("n_viol"),
                  max_violation_severity(suite.row_checks).alias("max_sev"))
          .groupBy("part_id")
          .agg(F.count(F.lit(1)).alias("n_rows"),
               F.sum("n_viol").alias("n_violations"),
               F.max("max_sev").alias("max_severity"),
               (F.max("max_sev") < int(Severity.ERROR)).alias("pass"))
          .withColumn("max_severity",
                      F.when(F.col("max_severity") < 0, F.lit(None))
                       .otherwise(F.col("max_severity")))
    )


def violation_verdicts(scope: DataFrame, viol: DataFrame,
                       part_col: str = "part_id") -> DataFrame:
    """Per-partition verdicts from a long-form violations table of ANY
    family mix (row, uniqueness, referential, drift, payload, …):
    (part_id, n_rows, n_violations, max_severity, pass). Row counts
    come from `scope`, violation counts and max severity from `viol`
    (already ≪ corpus). Commit paths pass the violations read back
    from disk, so no family is recomputed here. pass == no
    ERROR-severity violation in the partition — the reference's rule
    (canner.cc:1101) — so an ERROR from a table-level family (x-unique,
    x-ref, drift, payload) flips it exactly as a row violation does."""
    base = (scope.groupBy(F.col(part_col).alias("part_id"))
                 .agg(F.count(F.lit(1)).alias("n_rows")))
    viol_agg = (viol.groupBy("part_id")
                    .agg(F.count(F.lit(1)).alias("n_violations"),
                         F.max("severity").alias("max_severity")))
    return (base.join(viol_agg, "part_id", "left")
                .select("part_id", "n_rows",
                        F.coalesce(F.col("n_violations"), F.lit(0))
                         .alias("n_violations"),
                        "max_severity",
                        (F.coalesce(F.col("max_severity"), F.lit(-1))
                         < int(Severity.ERROR)).alias("pass")))


def suite_rule_ids(suite: CheckSuite) -> list[tuple[str, bool]]:
    """The suite's declared rule inventory: (rule_id, static_ok) for
    every rule job.all_violations can emit, in reporting order — row
    checks first (including statically-elided ones: they are DECLARED
    even though they can never fire on this schema), then each table
    check's rule_ids(), read off the same family table
    (CheckSuite.table_checks) that builds the violations union.

    Note the inventory is what the spec DECLARES, not what a given run
    executed: callers of rule_coverage scope the violations frame to
    the families they actually ran (e.g. payload checks need a
    reference table; KS needs a reference sample)."""
    decl = [(c.rule_id, bool(c.static_ok))
            for c in sorted(suite.row_checks, key=lambda c: c.order)]
    return decl + [(rid, False) for _, c in suite.table_checks()
                   for rid in c.rule_ids()]


def rule_coverage(viol: DataFrame, suite: CheckSuite) -> DataFrame:
    """Dead-rule / alien-rule detection: per declared rule, how often
    it fired across the corpus.

    (rule_id, n_violations, n_parts, fired, static_ok, declared):
    - fired=false on a rule a spec author expects to catch real data
      means the rule is vacuous (or the corpus is cleaner than
      believed) — at 10^12 rows a never-firing ERROR rule is the
      first thing to audit after a suspiciously green run;
    - static_ok=true rows are declared-but-unfireable on this schema
      (e.g. `type` checks elided on a typed column) — expected dead;
    - declared=false rows are ALIEN: violation rows whose rule_id the
      suite never declared, which indicates an engine bug or a stale
      violations table from another spec version.

    Scale shape: one hash aggregation over the violations frame
    (already ≪ corpus; the partial agg reduces map output to
    ≤ |rules| rows per task) full-outer-joined to the spec-sized
    declared inventory — Spark broadcasts the inventory side; nothing
    here rescans the corpus."""
    spark = viol.sparkSession
    ddf = spark.createDataFrame(suite_rule_ids(suite),
                                "rule_id string, static_ok boolean")
    agg = (viol.groupBy("rule_id")
               .agg(F.count(F.lit(1)).alias("n_violations"),
                    F.countDistinct("part_id").alias("n_parts")))
    return (ddf.join(agg, "rule_id", "full")
               .select("rule_id",
                       F.coalesce("n_violations", F.lit(0))
                        .alias("n_violations"),
                       F.coalesce("n_parts", F.lit(0)).cast("long")
                        .alias("n_parts"),
                       (F.coalesce("n_violations", F.lit(0)) > 0)
                       .alias("fired"),
                       F.coalesce("static_ok", F.lit(False))
                        .alias("static_ok"),
                       F.col("static_ok").isNotNull().alias("declared")))


def violation_report(df: DataFrame, suite: CheckSuite,
                     examples_per_rule: int = 3,
                     id_col: str = "clip_id",
                     part_col: str = "part_id",
                     _sample_boost: int = 8) -> DataFrame:
    """Bounded violation report: exact per-rule counts + K deterministic
    example ids per rule — the surface an operator actually reads at
    10^12 rows, where the long-form violations table is itself
    petabyte-scale and `collect`ing or even eyeballing it is off the
    table.

    Output (one row per (rule, example); rules that never fired get a
    single row with NULL example columns):
      (rule_id, severity, n_violations, ex_rank, ex_clip_id)

    Scale shape, by construction:
    - **Counts** come from ONE exchange-free aggregate over the raw
      table — every active rule contributes a conditional-sum slot to
      a single partially-aggregated scan (map output: one row per
      task). No explode, no shuffle of violation rows.
    - **Examples** are the K violations with the smallest
      XXH64(clip_id) per rule — a deterministic UNIFORM sample.
      (Lexicographically-first ids would all come from the first
      partition of a sorted table; hash order is unbiased and stable
      across runs/cluster sizes.)
    - **Skew-proof selection**: a rule that fires on ~every row would
      make `row_number() OVER (PARTITION BY rule_id)` shuffle the
      whole corpus into one reducer. Instead, pass-A counts set a
      per-rule hash threshold at rate boost·K/n, so the window's
      input is O(rules · boost · K) rows no matter how hot a rule is.
      The top-K-by-hash is provably inside the filtered set whenever
      ≥K rows survive; the (astronomically rare, and detected) shortfall
      falls back to an exact unfiltered top-K scoped to the deficient
      rules — results are exact and deterministic either way.
    - Driver materialization is rules × K — bounded by the spec, not
      the data (the same contract as verdicts).
    """
    K = int(examples_per_rule)
    if K < 0:
        raise ValueError("examples_per_rule must be >= 0")
    spark = df.sparkSession
    checks = sorted(suite.row_checks, key=lambda c: c.order)

    # ---- pass A: exact counts, one scan, no explode
    live = [(i, c) for i, c in enumerate(checks) if not c.static_ok]
    sev = {c.rule_id: int(c.severity) for c in checks}
    counts = {c.rule_id: 0 for c in checks}   # static rules stay 0
    if live:
        row = df.agg(*[
            F.sum(F.when(c.violation, 1).otherwise(0)).alias(f"c{i}")
            for i, c in live]).collect()[0]
        for (i, c), n in zip(live, row):
            counts[c.rule_id] += int(n or 0)

    # ---- pass B: K smallest-XXH64(clip_id) examples per fired rule
    examples: dict[str, list[str]] = {r: [] for r in counts}
    if K > 0 and any(counts.values()):
        viol = (row_violations(df, suite, id_col, part_col)
                .select("rule_id", "clip_id")
                .withColumn("h", F.xxhash64("clip_id")))
        thr_pairs: list[Column] = []
        for rid, n in counts.items():
            if n > _sample_boost * K:
                rate = (_sample_boost * K) / n
                t = -(1 << 63) + int(rate * (1 << 64))
                thr_pairs += [F.lit(rid), F.lit(t)]
        if thr_pairs:
            tmap = F.create_map(*thr_pairs)
            viol = viol.filter(F.coalesce(
                F.col("h") < F.element_at(tmap, F.col("rule_id")),
                F.lit(True)))

        def _topk(v: DataFrame) -> list:
            from pyspark.sql.window import Window
            w = Window.partitionBy("rule_id").orderBy("h", "clip_id")
            return (v.withColumn("rn", F.row_number().over(w))
                     .filter(F.col("rn") <= K)
                     .select("rule_id", "clip_id", "rn").collect())

        for r in _topk(viol):
            examples[r.rule_id].append(r.clip_id)
        deficient = [rid for rid, n in counts.items()
                     if len(examples[rid]) < min(K, n)]
        if deficient:   # sampling shortfall: exact pass, deficient only
            viol2 = (row_violations(df, suite, id_col, part_col)
                     .select("rule_id", "clip_id")
                     .filter(F.col("rule_id").isin(deficient))
                     .withColumn("h", F.xxhash64("clip_id")))
            for rid in deficient:
                examples[rid] = []
            for r in _topk(viol2):
                examples[r.rule_id].append(r.clip_id)

    out = []
    for c in checks:
        rid = c.rule_id
        if rid in (row[0] for row in out):
            continue    # one report block per rule_id
        exs = examples.get(rid, [])
        if exs:
            out += [(rid, sev[rid], counts[rid], i + 1, e)
                    for i, e in enumerate(exs)]
        else:
            out.append((rid, sev[rid], counts[rid], None, None))
    return spark.createDataFrame(
        out, "rule_id string, severity int, n_violations long, "
             "ex_rank int, ex_clip_id string")
