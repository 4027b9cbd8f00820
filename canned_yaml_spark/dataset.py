"""Dataset-level checks: uniqueness, referential integrity, column stats.

The reference validates one document at a time and has no cross-row
operators (SURVEY.md §2.2); BASELINE.json lifts its corpus-level
behavior to table scale. Each check here is one deliberately chosen
distributed plan:

- uniqueness  → hash aggregation on the key (partial map-side combine
  + final agg; AQE coalesces post-shuffle partitions). We return the
  duplicate *keys* with counts, not every duplicate row — at 10^12
  rows the groupBy+filter plan is one shuffle of (key, partial count)
  pairs, dramatically smaller than a window over all rows.
- referential → broadcast LEFT ANTI join against the (small) dimension
  table: no shuffle of the fact side at all.
- stats       → one scan, one hash agg per partition key; all
  aggregates are Tungsten built-ins (no UDFs).
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from canned_yaml_spark.checks import RefCheck, UniqueCheck
from canned_yaml_spark.runner import partition_violations


def duplicate_keys(df: DataFrame, check: UniqueCheck) -> DataFrame:
    """(key, n_dup) for every key appearing more than once.

    Plan: partial count per input partition → one shuffle on the key →
    final count + filter. The reference has no uniqueItems keyword
    (canner.cc:106-120); this is the north_star's uniqueness check.
    Composite keys (check.columns, x-unique-together) group on the
    tuple — still ONE shuffle, keyed on all parts.
    """
    return (df.groupBy(*[F.col(c) for c in check.columns])
              .agg(F.count(F.lit(1)).alias("n_dup"))
              .filter(F.col("n_dup") > 1))


def hash_partition_columns(df: DataFrame) -> tuple[str, ...]:
    """Columns Spark's physical plan reports `df` hash-partitioned on.

    A table bucketed by a key reports hashpartitioning on it, through
    filters and projections too; plain parquet reports none. Reading
    the plan starts no Spark job.
    """
    part = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    if part.getClass().getSimpleName() != "HashPartitioning":
        return ()
    keys = [part.expressions().apply(i)
            for i in range(part.expressions().size())]
    if not all(e.getClass().getSimpleName() == "AttributeReference"
               for e in keys):
        return ()
    return tuple(e.name() for e in keys)


def unique_violations(df: DataFrame, check: UniqueCheck,
                      id_col: str = "clip_id",
                      part_col: str = "part_id") -> DataFrame:
    """Long-form violation rows for duplicated keys, with row context.

    Keeps (clip_id, part_id) per offending row by joining the duplicate
    keys back to `df`. When `df` reports hash partitioning on exactly
    the key (a table bucketed by it), duplicate_keys' aggregate
    inherits it and a shuffle-hash join back is co-partitioned: zero
    exchange, zero driver round-trip. Otherwise the (small,
    defect-sized) dup-key set is broadcast, so the fact table is NOT
    shuffled — a shuffle-hash join would repartition it on the key.
    """
    cols = list(check.columns)
    label = cols[0] if len(cols) == 1 else "(" + ",".join(cols) + ")"
    dups = duplicate_keys(df, check)
    if sorted(hash_partition_columns(df)) == sorted(cols):
        dups = dups.hint("SHUFFLE_HASH")
    else:
        dups = F.broadcast(dups)
    return df.join(dups, on=cols, how="inner").select(
        F.col(id_col).alias("clip_id"),
        F.col(part_col).alias("part_id"),
        F.lit(check.rule_id).alias("rule_id"),
        F.lit(int(check.severity)).alias("severity"),
        F.concat(F.lit(f"duplicate {label} (x"),
                 F.col("n_dup").cast("string"),
                 F.lit(")")).alias("message"))


def referential_violations(df: DataFrame, dim: DataFrame, check: RefCheck,
                           id_col: str = "clip_id",
                           part_col: str = "part_id",
                           max_inline_keys: int = 10_000) -> DataFrame:
    """Rows whose ``column`` value does not exist in dim.``key``.

    The $ref-at-scale analog (SURVEY.md §2.2 #17,
    /root/reference/schema/ip_allow.schema.json:16). Two plans:

    - dim with ≤ max_inline_keys distinct keys (the common enum-like
      dimension): collect the key set ONCE and compile it into the
      scan predicate as NOT IN — pure whole-stage codegen, no join, no
      broadcast-exchange build. A broadcast join pays a serial
      build-and-ship job per action (~2-3 s measured floor,
      BENCH/PROFILE.md); an IN predicate pays nothing per action and
      can push into parquet row-group pruning.
    - larger dims: broadcast LEFT ANTI join — dim ships to every
      executor, fact side stays in place.

    NULL fact keys are presence problems (`required`), not referential
    ones, so they are excluded in both plans.

    Trade-offs of the inline path (deliberate, opt-out with
    max_inline_keys=0): probing the dim size runs ONE bounded
    (limit N+1) Spark job at plan-construction time, and the key set
    is SNAPSHOT at build — a dim that changes between build and
    execution is not re-read (the anti-join path reads at execution).
    Both are the right default for the enum-like dimensions this
    engine validates against; pass max_inline_keys=0 for live dims.
    """
    cols, keys = list(check.columns), list(check.keys)
    if len(cols) != len(keys):
        from canned_yaml_spark.errors import SpecError
        raise SpecError(check.rule_id, f"x-ref column/key arity mismatch: "
                                       f"{cols} vs {keys}")
    not_null = reduce(and_, [F.col(c).isNotNull() for c in cols])
    dim_keys = (dim.select(*[F.col(k).alias(c)
                             for k, c in zip(keys, cols)])
                   .filter(reduce(and_, [F.col(c).isNotNull()
                                         for c in cols]))
                   .distinct())
    inline = None
    if max_inline_keys and len(cols) == 1:
        # IN-list inlining is single-column (a struct-literal IN list
        # bloats the plan); composite FKs take the anti-join plan.
        head = dim_keys.limit(max_inline_keys + 1).collect()
        if len(head) <= max_inline_keys:
            # deterministic plan text without sorted()'s TypeError on
            # mixed-type keys; isin itself is order-insensitive
            inline = sorted((r[0] for r in head),
                            key=lambda v: (type(v).__name__, repr(v)))
    if inline is not None:
        viol = df.filter(not_null & ~F.col(cols[0]).isin(inline))
    else:
        viol = (df.filter(not_null)
                  .join(F.broadcast(dim_keys), on=cols, how="left_anti"))
    if len(cols) == 1:
        msg = F.concat(F.lit(f"{cols[0]} '"), F.col(cols[0]),
                       F.lit(f"' not present in "
                             f"{check.table}.{keys[0]}"))
    else:
        parts: list = [F.lit("(" + ",".join(cols) + ") '(")]
        for i, c in enumerate(cols):
            if i:
                parts.append(F.lit(","))
            parts.append(F.col(c).cast("string"))
        parts.append(F.lit(f")' not present in {check.table}."
                           f"({','.join(keys)})"))
        msg = F.concat(*parts)
    return (viol
              .select(F.col(id_col).alias("clip_id"),
                      F.col(part_col).alias("part_id"),
                      F.lit(check.rule_id).alias("rule_id"),
                      F.lit(int(check.severity)).alias("severity"),
                      msg.alias("message")))


def absent_violations(df: DataFrame, dim: DataFrame, check: RefCheck,
                      id_col: str = "clip_id",
                      part_col: str = "part_id",
                      max_inline_keys: int = 10_000) -> DataFrame:
    """Deny-list referential: rows whose ``column`` value DOES exist in
    dim.``key`` — the blocklist check (known-bad content hashes,
    revoked ids, embargoed sources) every training-data pipeline runs
    right next to the allow-list x-ref. Same two plans, mirrored:

    - small dim: the key set compiles into the scan predicate as IN —
      codegen, no join, row-group-prunable;
    - large dim (the realistic posture — blocklists grow unboundedly):
      broadcast LEFT SEMI join; the fact side never shuffles.

    NULL fact values cannot be on a blocklist — excluded, like every
    value rule.
    """
    c = check.column
    dim_keys = (dim.select(F.col(check.key).alias(c))
                   .filter(F.col(c).isNotNull()).distinct())
    inline = None
    if max_inline_keys:
        head = dim_keys.limit(max_inline_keys + 1).collect()
        if len(head) <= max_inline_keys:
            inline = sorted((r[0] for r in head),
                            key=lambda v: (type(v).__name__, repr(v)))
    if inline is not None:
        viol = df.filter(F.col(c).isNotNull() & F.col(c).isin(inline))
    else:
        viol = (df.filter(F.col(c).isNotNull())
                  .join(F.broadcast(dim_keys), on=c, how="left_semi"))
    return (viol
              .select(F.col(id_col).alias("clip_id"),
                      F.col(part_col).alias("part_id"),
                      F.lit(check.rule_id).alias("rule_id"),
                      F.lit(int(check.severity)).alias("severity"),
                      F.concat(F.lit(f"{c} '"), F.col(c).cast("string"),
                               F.lit(f"' is on the blocklist "
                                     f"{check.table}.{check.key}")
                               ).alias("message")))


def column_stats(df: DataFrame, columns: list[str],
                 part_col: str = "part_id") -> DataFrame:
    """Per-partition profile of numeric columns (SURVEY.md §2.2 #20).

    One scan, one hash agg. Used for the metrics table written next to
    verdicts (reporting + drift context, validate.cpp:16 analog).
    """
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in columns:
        aggs += [
            F.count(c).alias(f"{c}_n"),
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.avg(c).alias(f"{c}_avg"),
            F.stddev_samp(c).alias(f"{c}_std"),
            F.approx_count_distinct(c).alias(f"{c}_approx_distinct"),
        ]
    return df.groupBy(F.col(part_col).alias("part_id")).agg(*aggs)


def column_stats_exact(df: DataFrame, columns: list[str],
                       part_col: str = "part_id") -> DataFrame:
    """Oracle-comparable per-partition profile: exact distinct counts
    and 4-decimal-rounded means (floating aggregation order differs
    between engines; rounding makes the hashes comparable)."""
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    first = True
    for c in columns:
        if first:
            aggs.append(F.count(c).alias(f"{c}_n"))
            first = False
        aggs += [
            F.min(c).alias(f"{c}_min"),
            F.max(c).alias(f"{c}_max"),
            F.round(F.avg(c), 4).alias(f"{c}_avg"),
            F.countDistinct(c).alias(f"{c}_distinct"),
        ]
    return df.groupBy(F.col(part_col).alias("part_id")).agg(*aggs)


def salted_group_count(df: DataFrame, key: str, salt_buckets: int = 16,
                       seed: int = 42,
                       salt_col: str | None = None) -> DataFrame:
    """Two-stage aggregation for skewed keys (SURVEY.md §2.2 #24).

    Counting by a skewed key (codec has a 0.70 hot value) in one
    groupBy funnels the hot key's partial counts into one reducer.
    With map-side partial aggregation Spark already combines per
    input partition, so a plain count is usually fine — this explicit
    two-stage (key, salt) → key variant is for aggregates without
    cheap partial forms and as the documented skew pattern.

    The salt must vary WITHIN a key (hashing the key itself would put
    every hot-key row in the same stage-1 group, i.e. no salting at
    all): hash a row-local column when one is available (salt_col —
    deterministic across retries), else the input partition id (stable
    under whole-task retry, which is Spark's retry granularity).
    """
    salt_src = (F.xxhash64(F.col(salt_col), F.lit(seed))
                if salt_col else F.spark_partition_id())
    salted = df.withColumn("_salt",
                           F.pmod(salt_src, F.lit(salt_buckets)))
    stage1 = (salted.groupBy(key, "_salt")
                    .agg(F.count(F.lit(1)).alias("_partial")))
    return (stage1.groupBy(key)
                  .agg(F.sum("_partial").alias("n"))
                  .orderBy(F.desc("n")))


def grouped_exact_median(df: DataFrame, key: str, value: str) -> DataFrame:
    """(key, median) — EXACT interpolated median per group, built to
    survive key skew (SURVEY.md §2.2 #24's real use case).

    A plain ``percentile(value, 0.5)`` is non-algebraic: every raw
    value of a group ships to ONE reducer, so a 0.70-hot key funnels
    70% of the table through a single task. This plan redistributes by
    (key, value) first — count-by-value IS algebraic (map-side partial
    agg), and dur_ms-like measure columns have bounded cardinality —
    then computes the interpolated median from the tiny weighted
    histogram with windows over ≤ |keys|·|values| rows.

    Matches SQL ``median()`` (DuckDB oracle): for even n the mean of
    the two middle values, else the middle value.
    """
    from pyspark.sql import Window
    hist = (df.filter(F.col(value).isNotNull())
              .groupBy(key, value)
              .agg(F.count(F.lit(1)).alias("cnt")))
    wk = Window.partitionBy(key)
    cum = (hist.withColumn("_n", F.sum("cnt").over(wk))
               .withColumn("_cum", F.sum("cnt").over(
                   wk.orderBy(value)
                     .rowsBetween(Window.unboundedPreceding, 0))))
    k1 = F.floor((F.col("_n") + 1) / 2)
    k2 = F.ceil((F.col("_n") + 1) / 2)
    lo = F.min(F.when(F.col("_cum") >= k1, F.col(value)))
    hi = F.min(F.when(F.col("_cum") >= k2, F.col(value)))
    return (cum.groupBy(key)
               .agg(((lo + hi) / 2.0).alias("median")))


def grouped_exact_quantiles(df: DataFrame, key: str, value: str,
                            qs: tuple[float, ...] = (0.5, 0.95, 0.99)
                            ) -> DataFrame:
    """(key, q50, q95, ...) — EXACT interpolated quantiles per group
    (percentile_cont semantics: 0-based rank q·(n−1), linear
    interpolation between the neighbors), built to survive key skew
    exactly like grouped_exact_median: redistribute by (key, value)
    first — count-by-value is algebraic, so a 0.70-hot key's rows
    combine map-side instead of funnelling through one reducer — then
    read every quantile off the same tiny weighted histogram in one
    pass of window cumsums. This is the SLA-check shape (p95/p99
    duration per codec) at 10^12 rows: the shuffle carries
    (key, distinct value) pairs, never rows.

    Matches DuckDB's quantile_cont (the driver gate's oracle).
    """
    from pyspark.sql import Window
    if not qs:
        raise ValueError("qs must be non-empty")
    hist = (df.filter(F.col(value).isNotNull())
              .groupBy(key, value)
              .agg(F.count(F.lit(1)).alias("cnt")))
    wk = Window.partitionBy(key)
    cum = (hist.withColumn("_n", F.sum("cnt").over(wk))
               .withColumn("_cum", F.sum("cnt").over(
                   wk.orderBy(value)
                     .rowsBetween(Window.unboundedPreceding, 0))))
    aggs = []
    for q in qs:
        # 0-based continuous rank q·(n−1); 1-based neighbor ranks.
        # Row-level forms gate the min-when scans; the interpolation
        # fraction is rebuilt from the aggregated n (constant per key).
        pos = F.lit(float(q)) * (F.col("_n") - 1)
        k_lo = F.floor(pos) + 1
        k_hi = F.ceil(pos) + 1
        lo = F.min(F.when(F.col("_cum") >= k_lo, F.col(value)))
        hi = F.min(F.when(F.col("_cum") >= k_hi, F.col(value)))
        pos_a = F.lit(float(q)) * (F.max("_n") - 1)
        frac_a = pos_a - F.floor(pos_a)
        name = f"q{int(round(q * 100)):02d}"
        aggs.append((lo + frac_a * (hi - lo)).alias(name))
    return cum.groupBy(key).agg(*aggs)


def partition_quantile(df: DataFrame, check,
                       part_col: str = "part_id") -> DataFrame:
    """(part_id, qval, breach) — the x-quantile check's per-partition
    report: interpolated q-quantile of check.column via the same
    skew-proof redistribute-by-value histogram as
    grouped_exact_quantiles, plus the bound verdict.

    EXACT when check.buckets is None (bounded-cardinality measure
    columns — the histogram is (part, distinct value)). With
    check.buckets set, values are first clamped to [lo, hi] and
    quantized to bucket MIDPOINTS, so the shuffle carries at most
    parts × buckets rows for ANY input — the unbounded/float-column
    posture; the result is the exact quantile of the quantized
    distribution (error ≤ width/2 inside the range)."""
    src = df
    vcol = check.column
    if check.buckets:
        width = (check.hi - check.lo) / check.buckets
        b = F.floor((F.col(check.column) - F.lit(check.lo))
                    / F.lit(width))
        b = F.least(F.greatest(b, F.lit(0)),
                    F.lit(check.buckets - 1))
        src = df.withColumn(
            "_qv", F.lit(check.lo) + (b + F.lit(0.5)) * F.lit(width))
        vcol = "_qv"
    q = grouped_exact_quantiles(src, part_col, vcol,
                                qs=(check.q,))
    qcol = F.col(q.columns[-1])
    breach = F.lit(False)
    if check.minimum is not None:
        breach = breach | (qcol < float(check.minimum))
    if check.maximum is not None:
        breach = breach | (qcol > float(check.maximum))
    return q.select(F.col(part_col).alias("part_id"),
                    qcol.alias("qval"), breach.alias("breach"))


def quantile_violations(df: DataFrame, check,
                        part_col: str = "part_id") -> DataFrame:
    """Long-form violation rows (clip_id NULL — partition-scoped, like
    drift) for partitions whose exact q-quantile of check.column
    breaches the spec bound (x-quantile)."""
    bounds = []
    if check.minimum is not None:
        bounds.append(f">= {check.minimum}")
    if check.maximum is not None:
        bounds.append(f"<= {check.maximum}")
    want = " and ".join(bounds)
    return partition_violations(
        partition_quantile(df, check, part_col), F.col("breach"),
        check.rule_id, check.severity,
        F.concat(F.lit(f"p{int(round(check.q * 100)):02d}({check.column}) "),
                 F.round(F.col("qval"), 4).cast("string"),
                 F.lit(f" not {want}")))


def partition_completeness(df: DataFrame, checks: list,
                           part_col: str = "part_id") -> DataFrame:
    """(part_id, column, null_frac, breach) — the x-completeness
    report for EVERY completeness check of a suite in ONE hash
    aggregate: per-column null fractions are algebraic (avg of a 0/1
    indicator), so they all partial-combine map-side and the shuffle
    carries exactly one row per partition however many columns are
    gated and however big the table is. The wide agg row is unpivoted
    to long form with `stack` — a per-row expression, no extra
    exchange. At 10^12 rows this is the cheapest whole-table check in
    the engine: one scan, parts rows shuffled.

    The reference's `required` keyword is the row-level special case
    (max_null_frac=0 at ERROR, canner.cc:378-398); x-completeness is
    its partition-budget generalization (a Deequ-style completeness
    gate for columns where SOME nulls are expected)."""
    if not checks:
        raise ValueError("partition_completeness needs >=1 check")
    # exact integer null-counts, divided once — never a float sum, so
    # the fraction is bit-identical for ANY aggregation order (an avg
    # of doubles can wobble in the last ulp with partial-agg order,
    # which would flake the oracle's value hash)
    aggs = [F.sum(F.col(c.column).isNull().cast("long"))
             .alias(f"_nn_{i}") for i, c in enumerate(checks)]
    aggs.append(F.count(F.lit(1)).alias("_n"))
    wide = df.groupBy(F.col(part_col).alias("part_id")).agg(*aggs)
    pairs = ", ".join(f"'{c.column}', _nn_{i} / _n"
                      for i, c in enumerate(checks))
    long = wide.select(
        "part_id",
        F.expr(f"stack({len(checks)}, {pairs}) AS (column, null_frac)"))
    bound = F.create_map(*[x for c in checks
                           for x in (F.lit(c.column),
                                     F.lit(float(c.max_null_frac)))])
    return long.select(
        "part_id", "column",
        F.round("null_frac", 6).alias("null_frac"),
        (F.col("null_frac") > bound[F.col("column")]).alias("breach"))


def completeness_violations(df: DataFrame, check,
                            part_col: str = "part_id") -> DataFrame:
    """Long-form violation rows (clip_id NULL — partition-scoped) for
    partitions whose null fraction of check.column exceeds the
    x-completeness budget."""
    return partition_violations(
        partition_completeness(df, [check], part_col), F.col("breach"),
        check.rule_id, check.severity,
        F.concat(F.lit(f"null fraction of {check.column} "),
                 F.col("null_frac").cast("string"),
                 F.lit(f" > {check.max_null_frac}")))


def partition_frequency(df: DataFrame, check,
                        part_col: str = "part_id") -> DataFrame:
    """(part_id, top_value, top_share, n_distinct, breach) — the
    x-frequency report: per-partition dominant-value share and
    distinct count of a categorical column. Two aggregates, both
    skew-proof: the first groups by (partition, value) — count is
    algebraic, a hot value partial-combines map-side — the second
    reduces the per-value rows (≤ parts × cardinality of the column,
    NOT table rows) to one row per partition. No windows, no row
    funnel: a 10^12-row table with 8 codecs shuffles ≤ parts × 8 rows
    into stage 2.

    NULLs are excluded from share and distinctness (the null rate is
    x-completeness's job); a partition whose column is entirely NULL
    therefore has no report row and cannot breach."""
    per_val = (df.filter(F.col(check.column).isNotNull())
                 .groupBy(F.col(part_col).alias("part_id"),
                          F.col(check.column).alias("_v"))
                 .agg(F.count(F.lit(1)).alias("_c")))
    # tie-break deterministically (max count, then max value): struct
    # ordering is lexicographic, so max_by over (count, value) cannot
    # flip between runs the way a bare max_by(value, count) can when
    # two values share the top count
    rep = per_val.groupBy("part_id").agg(
        F.max_by("_v", F.struct(F.col("_c"), F.col("_v")))
         .alias("top_value"),
        (F.max("_c") / F.sum("_c")).alias("top_share"),
        F.count(F.lit(1)).alias("n_distinct"))
    breach = F.lit(False)
    if check.max_share is not None:
        breach = breach | (F.col("top_share") > float(check.max_share))
    if check.min_distinct is not None:
        breach = breach | (F.col("n_distinct") < int(check.min_distinct))
    return rep.select("part_id", "top_value",
                      F.round("top_share", 6).alias("top_share"),
                      "n_distinct", breach.alias("breach"))


def frequency_violations(df: DataFrame, check,
                         part_col: str = "part_id") -> DataFrame:
    """Long-form violation rows (clip_id NULL — partition-scoped) for
    partitions breaching the x-frequency share cap / distinctness
    floor on check.column."""
    caps = []
    if check.max_share is not None:
        caps.append(f"share <= {check.max_share}")
    if check.min_distinct is not None:
        caps.append(f"distinct >= {check.min_distinct}")
    want = " and ".join(caps)
    return partition_violations(
        partition_frequency(df, check, part_col), F.col("breach"),
        check.rule_id, check.severity,
        F.concat(F.lit(f"{check.column} top value "),
                 F.col("top_value").cast("string"),
                 F.lit(" share "), F.col("top_share").cast("string"),
                 F.lit(", "), F.col("n_distinct").cast("string"),
                 F.lit(f" distinct; want {want}")))


def partition_anomaly(df: DataFrame, check,
                      part_col: str = "part_id") -> DataFrame:
    """(part_id, mean, z, breach) — the x-anomaly report: modified
    z-score (Iglewicz-Hoaglin, 0.6745·(x−median)/MAD) of each
    partition's mean of check.column against all partitions' means.

    Reference-free drift: PSI/KS (drift.py) compare against an
    EXPECTED distribution; this rule self-references the table, which
    is what a validation run has on day one. Table-scale work is ONE
    algebraic aggregate (sum+count per partition — exact integer sums
    for integral columns, so means are bit-deterministic ratios); the
    median and MAD stages see one row per partition and broadcast two
    scalar rows back — no second table scan, no row funnel.

    Degenerate spread (MAD = 0): z is NULL and any partition deviating
    from the median breaches."""
    c = F.col(check.column)
    pm = (df.filter(c.isNotNull())
            .groupBy(F.col(part_col).alias("part_id"))
            .agg((F.sum(c) / F.count(F.lit(1))).alias("m")))
    # median and MAD as global-frame WINDOW aggregates over the tiny
    # per-partition frame: naive scalar-subquery phrasing (agg →
    # crossJoin → agg → crossJoin) re-executes pm's whole lineage per
    # reference — FOUR table scans in the physical plan. The window
    # form keeps ONE scan; the single-partition window sees exactly
    # one row per table partition, never raw rows.
    k = (pm.select("part_id", "m",
                   F.expr("percentile(m, 0.5) OVER ()").alias("_med"))
           .select("part_id", "m", "_med",
                   F.expr("percentile(abs(m - _med), 0.5) OVER ()")
                    .alias("_mad")))
    z = F.lit(0.6745) * (F.col("m") - F.col("_med")) / F.col("_mad")
    breach = F.when(F.col("_mad") == 0, F.col("m") != F.col("_med")) \
              .otherwise(F.abs(z) > float(check.z_max))
    return k.select("part_id",
                    F.round("m", 6).alias("mean"),
                    F.when(F.col("_mad") == 0, F.lit(None).cast("double"))
                     .otherwise(F.round(z, 6)).alias("z"),
                    breach.alias("breach"))


def anomaly_violations(df: DataFrame, check,
                       part_col: str = "part_id") -> DataFrame:
    """Long-form violation rows (clip_id NULL — partition-scoped) for
    partitions whose mean of check.column is a robust outlier."""
    return partition_violations(
        partition_anomaly(df, check, part_col), F.col("breach"),
        check.rule_id, check.severity,
        F.concat(F.lit(f"mean({check.column}) "),
                 F.col("mean").cast("string"), F.lit(" modified-z "),
                 F.coalesce(F.col("z").cast("string"), F.lit("inf")),
                 F.lit(f" exceeds z_max {check.z_max}")))


def snapshot_diff(old: DataFrame, new: DataFrame, key_col: str = "clip_id",
                  compare_cols: list[str] | None = None,
                  digest: bool = False) -> DataFrame:
    """Reconciliation report between two snapshots of the same table:
    one row per key that was added, removed, or changed.

    Output: (key_col, change∈{added,removed,changed}, changed_cols) —
    changed_cols a comma-joined sorted list of differing column names
    ('' for added/removed). Unchanged keys emit nothing, so the report
    is O(churn), not O(table). Null-safe comparison throughout: a
    value→NULL transition IS a change, NULL→NULL is not.

    Precondition: ``key_col`` is unique within each snapshot (run the
    uniqueness check first — a duplicated key would fan the join out).

    digest=True replaces each compared column with xxhash64(column) on
    BOTH sides before the join, so payload-sized columns (audio bytes)
    never enter the shuffle — the classifier then sees 8-byte digests.
    Same digest-vs-byte-exact tradeoff as the payload fast path (false
    'unchanged' ≤ 2⁻⁶⁴ per cell on non-adversarial data); keep the
    default for metadata-width tables.

    Scale shape: ONE full-outer join on the key — zero-exchange when
    both snapshots are bucketed by the key (the production posture for
    ingest versions of the same table); otherwise each side shuffles
    once, carrying only key + compared columns (or their digests).
    """
    cols = (compare_cols if compare_cols is not None
            else sorted(c for c in old.columns
                        if c != key_col and c in new.columns))
    if digest:
        def dig(df):
            return df.select(
                key_col, *[F.xxhash64(c).alias(c) for c in cols])
        old, new = dig(old), dig(new)
    else:
        old = old.select(key_col, *cols)
        new = new.select(key_col, *cols)
    o, n = old.alias("o"), new.alias("n")
    j = o.join(n, F.col(f"o.{key_col}") == F.col(f"n.{key_col}"),
               "full_outer")
    changed = F.concat_ws(",", *[
        F.when(~F.col(f"o.{c}").eqNullSafe(F.col(f"n.{c}")), F.lit(c))
        for c in cols])
    change = (F.when(F.col(f"o.{key_col}").isNull(), F.lit("added"))
               .when(F.col(f"n.{key_col}").isNull(), F.lit("removed"))
               .when(changed != F.lit(""), F.lit("changed")))
    return (j.select(
                F.coalesce(F.col(f"o.{key_col}"), F.col(f"n.{key_col}"))
                 .alias(key_col),
                change.alias("change"),
                F.when(change == "changed", changed).otherwise(F.lit(""))
                 .alias("changed_cols"))
             .filter(F.col("change").isNotNull()))
