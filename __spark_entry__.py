"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)   — flagship validation over /root/testdata/sf0.001.
queries()      — one entry per implemented operator (SURVEY.md §2),
                 each run against the deterministic clips corpus derived
                 from the sf dir's orders table (derive.py — bit-identical
                 in Spark and DuckDB by construction).
oracle_sql()   — independent DuckDB re-statements of the same semantics
                 (canned_yaml_spark/oracle.py), so agreement genuinely
                 cross-checks the engine.

Non-SQL-expressible ops (Arrow payload decode, KS applyInPandas) have
queries() entries without oracle entries → rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from canned_yaml_spark import (
    compile_spec, dataset, dedup, derive, drift, fixtures, oracle, payload,
    sampling, similarity, textops,
)
from canned_yaml_spark import runner
from canned_yaml_spark.runner import row_verdicts, row_violations

SPEC = "specs/clips.spec.yaml"
_VCOLS = ["clip_id", "part_id", "rule_id", "severity"]


def _suite(spark: SparkSession, clips: DataFrame):
    return compile_spec(SPEC, clips.schema)


# ------------------------------------------------------------- flagship
def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full row-level constraint suite over the sf0.001 corpus,
    returning per-partition verdicts (the reference's verdict lifted to
    partitions, canner.cc:1101)."""
    clips = derive.clips_df(spark, "/root/testdata/sf0.001")
    suite = _suite(spark, clips)
    return row_verdicts(clips, suite)


# -------------------------------------------------------------- queries
def _q_row_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    return row_violations(clips, _suite(spark, clips)).select(*_VCOLS)


def _q_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    return row_verdicts(clips, _suite(spark, clips))


def _q_duplicate_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    return dataset.duplicate_keys(clips, _suite(spark, clips).unique_checks[0])


def _q_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    uc = _suite(spark, clips).unique_checks[0]
    return dataset.unique_violations(clips, uc).select(*_VCOLS)


def _q_composite_unique(spark: SparkSession, sf_dir: str) -> DataFrame:
    # composite-key uniqueness via the root x-unique-together spec
    # keyword: (clip_id, codec) duplicates exist where the rule-5
    # clip_id-copy injection happens to land on a matching codec (the
    # 0.70 pcm hot key makes that common). Same one-shuffle group +
    # tiny-side join-back plan as single-column x-unique.
    clips = derive.clips_df(spark, sf_dir)
    suite = compile_spec(
        {"type": "object", "x-unique-together": ["clip_id", "codec"]},
        clips.schema)
    [uc] = suite.unique_checks
    return dataset.unique_violations(clips, uc).select(*_VCOLS)


def _q_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-absent deny-list: clip_ids derived from every 101st-with-
    # residue-5 order key form the blocklist (simulating a known-bad
    # content id list); rows still carrying one of those ids violate.
    # Forced onto the broadcast LEFT SEMI plan (max_inline_keys=0) —
    # the realistic posture for unboundedly-growing blocklists; the
    # fact side never shuffles.
    clips = derive.clips_df(spark, sf_dir)
    block = spark.sql(
        "SELECT format_string('clip_%010d', o_orderkey) AS bad_id "
        "FROM orders WHERE o_orderkey % 101 = 5")
    spec = {"type": "object",
            "properties": {"clip_id": {"x-absent": {"table": "blocklist",
                                                    "key": "bad_id"}}}}
    suite = compile_spec(spec, clips.schema)
    [ac] = suite.absent_checks
    return (dataset.absent_violations(clips, block, ac,
                                      max_inline_keys=0)
            .select(*_VCOLS))


def _q_composite_ref(spark: SparkSession, sf_dir: str) -> DataFrame:
    # composite FK via the root x-ref-together keyword: (codec, sr_hz)
    # must exist in a capability dim of valid codec×rate pairs (all
    # combos except mp3@8000 and opus@22050). Violations come from
    # those two excluded pairs in the base distribution, the rule-0
    # sr=3000 injection, and the rule-2/3 alien-codec injections.
    # Broadcast-anti plan, fact side never shuffles.
    clips = derive.clips_df(spark, sf_dir)
    pairs = [(c, s) for c in ("pcm_s16le", "flac", "opus", "mp3")
             for s in derive.SAMPLE_RATES
             if not (c == "mp3" and s == 8000)
             and not (c == "opus" and s == 22050)]
    dim = spark.createDataFrame(pairs, "d_codec string, d_sr int")
    suite = compile_spec(
        {"type": "object",
         "x-ref-together": {"columns": ["codec", "sr_hz"],
                            "table": "caps",
                            "keys": ["d_codec", "d_sr"]}},
        clips.schema)
    [rc] = suite.ref_checks
    return dataset.referential_violations(clips, dim, rc).select(*_VCOLS)


def _q_referential(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    rc = _suite(spark, clips).ref_checks[0]
    dim = derive.codec_dim_df(spark)
    return dataset.referential_violations(clips, dim, rc).select(*_VCOLS)


def _q_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    return dataset.column_stats_exact(clips, ["sr_hz", "dur_ms"])


def _q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    dc = _suite(spark, clips).drift_checks[0]
    exp = fixtures.reference_hist_df(spark)
    return (drift.psi_per_partition(clips, dc, exp)
            .select("part_id", F.round("psi", 4).alias("psi")))


def _q_w1_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Wasserstein-1 drift: the transport-distance complement of PSI/KS —
    # linear in how FAR the histogram mass moved, so the drifted rule_k=1
    # partitions (dur_ms compressed into the low buckets, derive.py)
    # separate from clean partitions by the distance of the shift itself
    # (~thousands of ms vs ~tens for sampling noise). Full per-partition
    # report; threshold wiring (w1_max) is pinned in tests/test_drift.py.
    clips = derive.clips_df(spark, sf_dir)
    dc = _suite(spark, clips).drift_checks[0]
    exp = fixtures.reference_hist_df(spark)
    return (drift.w1_per_partition(clips, dc, exp)
            .select("part_id", F.round("w1", 4).alias("w1")))


def _q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Reconciliation between two ingest versions of one keyed table:
    # O(churn) report of added / removed / changed keys with the exact
    # changed-column list (null-safe). The pinned churn pattern
    # (derive.snapshot_select moduli) exercises every class including
    # multi-column changes. digest=False here (metadata-width table);
    # digest==value equivalence is pinned in tests/test_dataset.py.
    old = derive.snapshot_df(spark, sf_dir, "old")
    new = derive.snapshot_df(spark, sf_dir, "new")
    return dataset.snapshot_diff(old, new, "clip_id")


def _q_conditional_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # draft-07 applicators the reference's generator lacks (it stops at
    # anyOf/oneOf — canner.cc:469-559): root if/then is a CROSS-COLUMN
    # conditional ("lossy codec ⇒ sr_hz ≤ 22050" — fires on ~2/5 of the
    # opus/mp3 share), allOf[0] catches the injected sr_hz=3000 rows,
    # `not` bans the injected 'vorbis' codec. All compile into the same
    # single codegen span as the rest of the row suite.
    spec = {"type": "object",
            "properties": {
                "sr_hz": {"allOf": [{"minimum": 8000}, {"maximum": 48000}]},
                "codec": {"not": {"enum": ["vorbis"]}}},
            "if": {"properties": {"codec": {"enum": ["opus", "mp3"]}},
                   "required": ["codec"]},
            "then": {"properties": {"sr_hz": {"maximum": 22050}}}}
    clips = derive.clips_df(spark, sf_dir)
    suite = compile_spec(spec, clips.schema)
    return row_violations(clips, suite).select(*_VCOLS)


def _q_draft07_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the draft-07 completion batch over the nested corpus: uniqueItems
    # (rule-0 duplicate injection), not∘contains∘const (rule-2 BAD42),
    # contains+type-duck (rule-4 no-integer pair), min/maxProperties +
    # propertyNames on the attrs map (k%11 empty / k%7 four keys /
    # k%5 'Bad Key!'), and a root if(const)→then(multipleOf) condition
    # on the string-staged val_num. Same single codegen span as every
    # other row check — the object keywords are size/forall algebra,
    # never an explode.
    spec = {"type": "object",
            "properties": {
                "tags": {"uniqueItems": True,
                         "not": {"contains": {"const": "BAD42"}}},
                "pair": {"contains": {"type": "integer"}},
                "attrs": {"minProperties": 1, "maxProperties": 3,
                          "propertyNames": {"pattern": "^[a-z_]+$"}}},
            "if": {"properties": {"val_bool": {"const": "yes"}},
                   "required": ["val_bool"]},
            "then": {"properties": {"val_num": {"multipleOf": 7}}}}
    t = derive.clips_nested_df(spark, sf_dir)
    suite = compile_spec(spec, t.schema)
    return row_violations(t, suite).select(*_VCOLS)


def _q_draft2020_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the 2020-12 array-applicator batch over the nested corpus:
    # prefixItems (positional number duck on pair[0], rule-4 'x123'
    # fires) with `items` demoted to the REST of the array (boolean
    # duck over a slice — rule-5 'maybe' fires; still forall algebra,
    # no explode), and min/maxContains bounding the contains MATCH
    # COUNT on tags (rule-1 empty + every 1-tag row under minContains
    # 2; rule-0's five-word dup burst over maxContains 4; rule-3's
    # [word, NULL] row exercises the optimistic-vs-definite 3VL count
    # split that the oracle restates verbatim). Same single codegen
    # span as every other row suite.
    spec = {"type": "object",
            "properties": {
                "pair": {"prefixItems": [{"type": "number"}],
                         "items": {"type": "boolean"}},
                "tags": {"contains": {"pattern": "^[a-z]+$"},
                         "minContains": 2, "maxContains": 4}}}
    t = derive.clips_nested_df(spark, sf_dir)
    suite = compile_spec(spec, t.schema)
    return row_violations(t, suite).select(*_VCOLS)


def _q_draft2020_unevaluated(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unevaluatedProperties / unevaluatedItems with 2020-12 DYNAMIC
    # annotation flow: which elements/keys count as evaluated depends
    # per row on which applicator branches validated. pair: the claim
    # set is anyOf-branch-dependent (rule-4 'x123' rows are claimed by
    # branch 2 and must NOT fire the unevaluated schema; rule-5 rows
    # match no branch, so element 0's digits fail it). attrs: the
    # if(required b)→then(patternProperties) claim evaluates b/c only
    # on rows that HAVE b (k%7 'd' and k%5 'Bad Key!' fire). All still
    # HOF algebra in the one row-suite codegen span — the index-aware
    # filter((x, i) -> ...) replaces any explode.
    spec = {"type": "object",
            "properties": {
                "pair": {
                    "anyOf": [
                        {"prefixItems": [{"type": "number"},
                                         {"type": "boolean"}]},
                        {"prefixItems": [{"pattern": "^x"}]}],
                    "unevaluatedItems": {"pattern": "^[a-z ]+$"}},
                "attrs": {
                    "properties": {"a": {}},
                    "if": {"required": ["b"]},
                    "then": {"patternProperties": {"^[bc]$": {}}},
                    "unevaluatedProperties": False}}}
    t = derive.clips_nested_df(spark, sf_dir)
    suite = compile_spec(spec, t.schema)
    return row_violations(t, suite).select(*_VCOLS)


def _q_violation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded violation report: exact per-rule counts (one exchange-free
    # conditional-sum scan, no explode) + 3 deterministic examples per
    # rule (smallest XXH64(clip_id) — unbiased, stable across cluster
    # sizes; skew-proof hash-threshold prefilter keeps the per-rule
    # window input O(boost·K) however hot the rule). At sf0.01 each
    # fired rule has ~190 violations > boost·K = 24, so the gate
    # exercises the SAMPLED path; the oracle ranks by the same XXH64
    # restated in SQL (the simhash machinery), so example VALUES are
    # checked, not just counts. part_id.minimum never fires → the n=0
    # NULL-example row shape is covered too.
    spec = {"type": "object",
            "required": ["transcript"],
            "properties": {
                "sr_hz": {"minimum": 8000},
                "dur_ms": {"minimum": 1},
                "clip_id": {"pattern": "^clip_[0-9]{10}$"},
                "part_id": {"minimum": 0}}}
    clips = derive.clips_df(spark, sf_dir)
    suite = compile_spec(spec, clips.schema)
    return runner.violation_report(clips, suite, examples_per_rule=3)


def _q_format_assert(spark: SparkSession, sf_dir: str) -> DataFrame:
    # draft-07 `format` assertion profile (opt-in via x-assert-formats:
    # true — annotation-only otherwise, per §7). ALL 11 registry
    # formats over the deterministic formats corpus, every 7th row
    # carrying one defect cycling through the columns. All predicates
    # are pure Column regex + arithmetic in ONE codegen span (no UDF);
    # the date defect is Feb 30 — regex-valid, caught only by the
    # calendar-validity conjunct (proleptic-Gregorian leap years),
    # which the oracle restates identically.
    spec = {"type": "object", "x-assert-formats": True,
            "properties": {
                "ip4": {"format": "ipv4"},
                "ip6": {"format": "ipv6"},
                "uuid_s": {"format": "uuid"},
                "date_s": {"format": "date"},
                "time_s": {"format": "time"},
                "dt_s": {"format": "date-time"},
                "host_s": {"format": "hostname"},
                "email_s": {"format": "email"},
                "uri_s": {"format": "uri"},
                "ptr_s": {"format": "json-pointer"},
                "dur_s": {"format": "duration"}}}
    t = derive.clips_formats_df(spark, sf_dir)
    suite = compile_spec(spec, t.schema)
    return row_violations(t, suite).select(*_VCOLS)


def _q_pattern_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    # patternProperties + additionalProperties, both binding modes:
    # map-level = RUNTIME key matching (one forall over map_entries —
    # no explode); root-level = COMPILE-TIME column-name matching (the
    # plan carries only per-column value checks, no runtime regex over
    # names). Fires: attrs 'd'→digits slot (k%7), attrs 'Bad Key!'
    # ban (k%5), n_tags=0 injection (rule 1).
    spec = {"type": "object",
            "properties": {
                "attrs": {
                    "properties": {"a": {}, "b": {}, "c": {}},
                    "patternProperties": {
                        "^[ad]$": {"pattern": "^[a-z]+$"}},
                    "additionalProperties": False}},
            "patternProperties": {"^n_": {"minimum": 1}}}
    t = derive.clips_nested_df(spark, sf_dir)
    suite = compile_spec(spec, t.schema)
    return row_violations(t, suite).select(*_VCOLS)


def _q_dependent_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # dependentRequired (array form) + schema-form dependencies: codec
    # present ⇒ transcript required (rule-6 NULL injection fires);
    # transcript present ⇒ dur_ms ≥ 1 (rule-1 zero-duration fires).
    spec = {"type": "object",
            "dependentRequired": {"codec": ["transcript"]},
            "dependencies": {"transcript": {
                "properties": {"dur_ms": {"minimum": 1}}}}}
    clips = derive.clips_df(spark, sf_dir)
    suite = compile_spec(spec, clips.schema)
    return row_violations(clips, suite).select(*_VCOLS)


def _q_oneof(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    spec = {"type": "object", "properties": {"dur_ms": {"oneOf": [
        {"minimum": 200, "maximum": 5000},
        {"minimum": 4000, "maximum": 10000},
        {"minimum": 15000},
    ]}}}
    suite = compile_spec(spec, clips.schema)
    return row_violations(clips, suite).select(*_VCOLS)


def _q_anyof(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    spec = {"type": "object", "properties": {"transcript": {"anyOf": [
        {"pattern": "^alpha"}, {"minLength": 10},
    ]}}}
    suite = compile_spec(spec, clips.schema)
    return row_violations(clips, suite).select(*_VCOLS)


def _q_type_duck(spark: SparkSession, sf_dir: str) -> DataFrame:
    # duck-typed 'integer' on a string staging column
    # (canner.cc:1068-1079 full-parse semantics)
    clips = derive.clips_df(spark, sf_dir)
    staged = (clips
              .filter(F.col("clip_id").rlike(oracle.CLIP_PATTERN))
              .select("clip_id", "part_id",
                      F.when(F.substring("clip_id", 6, 10).cast("long") % 4 == 0,
                             F.lit("42"))
                       .when(F.substring("clip_id", 6, 10).cast("long") % 4 == 1,
                             F.lit(" +7 "))
                       .when(F.substring("clip_id", 6, 10).cast("long") % 4 == 2,
                             F.lit("3.14"))
                       .otherwise(F.lit("abc")).alias("val")))
    spec = {"type": "object", "properties": {"val": {"type": "integer"}}}
    suite = compile_spec(spec, staged.schema)
    return row_violations(staged, suite).select(*_VCOLS)


# ---------------- nested corpus: items / tuple / duck-type gates -----
def _nested_viol(spark: SparkSession, sf_dir: str, spec: dict) -> DataFrame:
    t = derive.clips_nested_df(spark, sf_dir)
    return row_violations(t, compile_spec(spec, t.schema)).select(*_VCOLS)


def _q_minmax_items(spark, sf_dir):
    # SURVEY §2 #10 (canner.cc:360-376)
    return _nested_viol(spark, sf_dir, {"type": "object", "properties": {
        "tags": {"minItems": 1, "maxItems": 3}}})


def _q_items_uniform(spark, sf_dir):
    # SURVEY §2 #11 — uniform items via F.forall, no explode
    # (reference corpus: schema/ip_allow.schema.json:14-18)
    return _nested_viol(spark, sf_dir, {"type": "object", "properties": {
        "tags": {"items": {"type": "string", "pattern": "^[a-z]+$"}}}})


def _q_items_tuple(spark, sf_dir):
    # SURVEY §2 #12 — positional items (schema/replay.schema.json:136-147)
    return _nested_viol(spark, sf_dir, {"type": "object", "properties": {
        "pair": {"maxItems": 2,
                 "items": [{"type": "integer"}, {"type": "boolean"}]}}})


def _q_ref_chain(spark, sf_dir):
    # SURVEY §2 #15 — $ref chain through definitions, call-site located
    # (schema/ip_allow.schema.json:84-93)
    return _nested_viol(spark, sf_dir, {
        "type": "object",
        "properties": {"val_num": {"$ref": "#/definitions/posint"}},
        "definitions": {
            "posint": {"$ref": "#/definitions/intbase"},
            "intbase": {"type": "integer", "minimum": 10}}})


def _q_duck_boolean(spark, sf_dir):
    # SURVEY §2 #2 (canner.cc:1052-1058)
    return _nested_viol(spark, sf_dir, {"type": "object", "properties": {
        "val_bool": {"type": "boolean"}}})


def _q_duck_number(spark, sf_dir):
    # SURVEY §2 #6 — the predicate the reference declares but never
    # defines (canner.cc:100), implemented properly
    return _nested_viol(spark, sf_dir, {"type": "object", "properties": {
        "val_num": {"type": "number"}}})


def _q_type_kinds(spark, sf_dir):
    # SURVEY §2 #5 — null/object/array kind tests: array+object fold
    # statically TRUE on typed columns; null is the runtime OR-arm
    return _nested_viol(spark, sf_dir, {"type": "object", "properties": {
        "tags": {"type": "array"},
        "meta": {"type": "object"},
        "val_bool": {"type": ["null", "boolean"]}}})


def _q_type_scalar(spark, sf_dir):
    # SURVEY §2 #4 — 'string' accepts any scalar (canner.cc:1081-1083);
    # pattern applies through a cast on the int column
    return _nested_viol(spark, sf_dir, {"type": "object", "properties": {
        "n_tags": {"type": "string", "pattern": "^[1-3]$"}}})


def _q_salted_codec_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    return (dataset.salted_group_count(clips, "codec", salt_col="clip_id")
                   .select("codec", "n"))


def _q_closed_world(spark: SparkSession, sf_dir: str) -> DataFrame:
    # closed-world variant (text.cpp:178-181): undeclared columns are
    # WARN violations on rows where they are present (non-null)
    clips = derive.clips_df(spark, sf_dir)
    spec = {"type": "object", "x-closed-world": True,
            "properties": {"clip_id": {}, "sr_hz": {}, "dur_ms": {},
                           "codec": {}, "part_id": {}}}
    return row_violations(clips, compile_spec(spec, clips.schema)) \
        .select(*_VCOLS)


def _q_codec_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    # skew-surviving exact median: redistribute-by-(key, value) instead
    # of funneling every hot-key row through one percentile reducer
    clips = derive.clips_df(spark, sf_dir)
    return dataset.grouped_exact_median(clips, "codec", "dur_ms")


# --------------------- training-data ops (documents / embeddings) ----
def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _q_token_stats(spark, sf_dir):
    return textops.token_stats(_docs(spark, sf_dir))


def _q_quality_score(spark, sf_dir):
    return textops.quality_score(_docs(spark, sf_dir))


def _q_repetition_rule(spark, sf_dir):
    # x-repetition as a VALUE keyword: duplicate-bigram fraction
    # ceiling 0.05 over documents.text (corpus spans 0-0.10, median
    # 0.028 — the threshold splits it ~half/half). The predicate rides
    # the row suite's single codegen span; NULL text is
    # absent-not-validated like every value rule. Oracle restates the
    # identical tokenization + list algebra + threshold.
    spec = {"type": "object",
            "properties": {
                "text": {"x-repetition": {"n": 2, "max_frac": 0.05}}}}
    docs = _docs(spark, sf_dir)
    suite = compile_spec(spec, docs.schema)
    return (row_violations(docs, suite, id_col="doc_id",
                           part_col="source").select(*_VCOLS))


def _q_pack_plan(spark, sf_dir):
    # concat-and-chunk packing plan as a two-pass distributed prefix
    # sum (per-group subtotals -> tiny cumsum -> broadcast bases +
    # per-group window), packed by n_chars with a 4096 budget. The
    # oracle is the STRAIGHT single-window global cumsum — proving the
    # distributed decomposition exactly equals the one-reducer
    # definition in int64 arithmetic.
    from canned_yaml_spark import pack
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.col("n_chars").alias("n_tokens"))
    return pack.pack_offsets(docs, budget=4096, group_span=64)


def _q_repetition_stats(spark, sf_dir):
    # Gopher-style duplicate n-gram fractions (n=1,2,3): split →
    # sequence/transform/slice → array_distinct, one codegen
    # projection per doc — no explode, no shuffle, no UDF. Oracle
    # restates the identical tokenization + list algebra in DuckDB.
    return textops.repetition_stats(_docs(spark, sf_dir))


def _q_lang_id(spark, sf_dir):
    return textops.lang_id(_docs(spark, sf_dir))


def _q_fingerprint(spark, sf_dir):
    return textops.fingerprint(_docs(spark, sf_dir))


def _q_exact_dups(spark, sf_dir):
    d2 = dedup.with_dup_injection(_docs(spark, sf_dir))
    return (dedup.exact_dup_groups(d2)
            .select("fp", "n_docs",
                    F.array_join(F.col("doc_ids"), ",").alias("doc_ids")))


def _q_near_dup_pairs(spark, sf_dir):
    d2 = dedup.with_dup_injection(_docs(spark, sf_dir))
    return dedup.near_dup_pairs(d2)


def _q_contamination(spark, sf_dir):
    # benchmark-contamination hygiene pass: probes = every 50th raw
    # doc standing in for an eval set; corpus = the dup-injected
    # docs2, so flagged docs are exactly the probes, their injected
    # near/exact copies, and any organic near-dup of a probe
    docs = _docs(spark, sf_dir)
    d2 = dedup.with_dup_injection(docs)
    probes = docs.filter(F.col("doc_id") % 50 == 0)
    return dedup.contamination_report(d2, probes)


def _q_split_leak_free(spark, sf_dir):
    # component-keyed train/test split: a near-dup of a test doc can
    # never land in train; oracle recomputes components independently
    d2 = dedup.with_dup_injection(_docs(spark, sf_dir))
    return (dedup.split_leak_free(d2, dedup.near_dup_pairs(d2),
                                  frac_test=0.2)
            .select("doc_id", "component_id", "split"))


def _q_stratified_sample(spark, sf_dir):
    # exact 40-per-stratum deterministic sample; the two-phase
    # skew-proof plan must equal the oracle's one-window form
    d = _docs(spark, sf_dir).withColumn(
        "stratum", (F.col("doc_id") % 7).cast("int"))
    return (sampling.stratified_sample(d, "stratum", 40, "doc_id")
            .select("doc_id", "stratum"))


def _q_sample_fraction(spark, sf_dir):
    return (sampling.sample_fraction(_docs(spark, sf_dir), 0.25, "doc_id")
            .select("doc_id"))


def _q_budget_sample(spark, sf_dir):
    # greedy hash-order prefix per stratum under a 20k-char budget;
    # the boundary-bucket plan must equal the oracle's window form
    d = (_docs(spark, sf_dir)
         .withColumn("stratum", (F.col("doc_id") % 5).cast("int"))
         .withColumn("w", F.length("text").cast("long")))
    return (sampling.budget_sample(d, "stratum", 20_000, "w", "doc_id")
            .select("doc_id", "stratum", "w"))


def _q_dup_components(spark, sf_dir):
    # pairs → connected components (alternating large/small-star);
    # oracle recomputes them by an independent algorithm (recursive-CTE
    # reachability over the exact-Jaccard pair set)
    d2 = dedup.with_dup_injection(_docs(spark, sf_dir))
    return dedup.dup_components(dedup.near_dup_pairs(d2))


def _q_dedup_kept(spark, sf_dir):
    # the deduplicated corpus: keep the min-id representative per
    # component, drop every other member
    d2 = dedup.with_dup_injection(_docs(spark, sf_dir))
    return dedup.dedup_keep(d2, dedup.near_dup_pairs(d2)).select("doc_id")


def _q_near_dup_delta(spark, sf_dir):
    # incremental dedup: the injected duplicates are the corpus delta;
    # the base documents' signatures come from the (here in-memory)
    # signature store — no base re-shingle, and only pairs touching the
    # delta are in scope. Oracle: exact Jaccard restricted to those.
    docs = _docs(spark, sf_dir)
    d2 = dedup.with_dup_injection(docs)
    delta = d2.join(docs.select("doc_id"), "doc_id", "left_anti")
    sig_store = dedup.minhash_signatures(docs)
    return dedup.near_dup_pairs_incremental(delta, docs, sig_store)


def _q_cosine_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = (emb.filter(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec")))
    return (similarity.cosine_topk(emb, q, 10)
            .select("q_id", "vec_id", "cosine", "rank"))


def _q_embedding_near_dups(spark, sf_dir):
    # scale path: LSH-bucketed candidates + exact cosine verify over the
    # near-dup-injected corpus; the oracle brute-forces the same corpus
    # (valid because LSH only prunes and its miss probability here is
    # < 1e-4 — dedup.embedding_near_dup_candidates docstring)
    e2 = dedup.with_embedding_dup_injection(_emb(spark, sf_dir))
    return dedup.embedding_near_dups_lsh(e2, 0.95)


def _q_audio_near_dups(spark, sf_dir):
    # acoustic near-dup over the PAYLOAD (Haitsma-Kalker fingerprint
    # LSH + JVM bit-error-rate verify, audiofp.py): keys drawn from
    # orders, every 5th key re-encoded under the next lossy codec as
    # '<id>_dup'. The oracle states the injected ground truth — valid
    # because the operator's margins are structural (measured dup BER
    # ≤ 0.01 vs threshold 0.15; worst clip keeps 20/29 exact probe
    # frames; cross-key BER ≥ 0.3). ber itself is FFT-derived (not
    # SQL-expressible) and is pinned in tests/test_audiofp.py instead.
    from canned_yaml_spark import audiofp
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 37 == 0)
                  .select(F.col("o_orderkey").alias("k")))
    corpus = audiofp.chirp_corpus_df(spark, keys=keys, dup_every=5)
    return audiofp.near_dup_audio(corpus).select("clip_a", "clip_b")


def _q_audio_near_dup_delta(spark, sf_dir):
    # incremental audio dedup: a delta of lossy re-encodes checked
    # against the corpus FINGERPRINT STORE only (no corpus bytes
    # re-read, no corpus FFT). Ground-truth oracle: every delta clip
    # '<id>_d' is a re-encode of corpus key k ≡ 0 (mod 185), so the
    # output is exactly those pairs (same structural margins as
    # audio_near_dups; equivalence to a from-scratch run is pinned in
    # tests/test_audiofp.py).
    from canned_yaml_spark import audiofp
    from canned_yaml_spark.audio import encode
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 37 == 0)
                  .select(F.col("o_orderkey").alias("k")))
    corpus = audiofp.chirp_corpus_df(spark, keys=keys,
                                     dup_every=None)  # no injected dups
    fp_store = audiofp.fingerprint(corpus)

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            ids, parts, codecs, blobs = [], [], [], []
            for k in pdf["k"]:
                k = int(k)
                if k % 185:
                    continue
                ids.append(f"clip_{k:010d}_d")
                parts.append(0)
                codecs.append("opus")
                blobs.append(encode(audiofp.chirp_pcm(k, 4000), "opus"))
            yield pd.DataFrame({"clip_id": ids,
                                "part_id": pd.array(parts, dtype="int32"),
                                "codec": codecs, "bytes": blobs})

    delta = keys.mapInPandas(
        gen, "clip_id string, part_id int, codec string, bytes binary")
    return (audiofp.near_dup_audio_incremental(delta, fp_store)
            .select("clip_a", "clip_b"))


def _q_audio_segments(spark, sf_dir):
    # VAD-style silence-split segmentation over a gap-laid-out corpus
    # whose every boundary is closed-form in the clip key — the oracle
    # restates the arithmetic (oracle.sql_audio_segments), so the
    # operator's mask/run detection is value-checked, not rows-only.
    from canned_yaml_spark import segment
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 37 == 0)
                  .select(F.col("o_orderkey").alias("k")))
    return segment.segments(segment.seg_corpus_df(spark, keys))


def _q_resample(spark, sf_dir):
    # 16 kHz → 12 kHz linear-interp resample of a closed-form corpus,
    # value-checked through per-clip metrics of the RESAMPLED samples
    # (peak / dc / rms over exact-integer sums): the oracle restates
    # the interpolation arithmetic itself (oracle.sql_resample).
    from canned_yaml_spark import resample as rs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 37 == 0)
                  .select(F.col("o_orderkey").alias("k")))
    out = rs.resample(rs.mod_corpus_df(spark, keys), 12000)
    stats = payload.audio_stats(
        out.withColumn("codec", F.lit("pcm_s16le"))
           .withColumn("part_id", F.lit(0)),
        byte_col="bytes")
    return stats.select(
        "clip_id", "n_samples", "peak",
        F.round("dc_offset", 4).alias("dc_offset"),
        F.round("rms_db", 4).alias("rms_db"))


def _q_speed_perturb(spark, sf_dir):
    # speed perturbation ×10/9 (the classic ASR augmentation, slight
    # speed-up) over the closed-form modular corpus, value-checked
    # through per-clip metrics of the PERTURBED samples. The oracle
    # restates the rational-position interpolation itself with
    # denominator 9 — odd, so the round-half tie between engines can
    # never fire (oracle.sql_speed_perturb).
    from canned_yaml_spark import augment, resample as rs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 53 == 0)
                  .select(F.col("o_orderkey").alias("k")))
    out = augment.speed_perturb(rs.mod_corpus_df(spark, keys), 10, 9)
    stats = payload.audio_stats(
        out.withColumn("codec", F.lit("pcm_s16le"))
           .withColumn("part_id", F.lit(0)),
        byte_col="bytes")
    return stats.select(
        "clip_id", "n_samples", "peak",
        F.round("dc_offset", 4).alias("dc_offset"),
        F.round("rms_db", 4).alias("rms_db"))


def _q_gain_perturb(spark, sf_dir):
    # exact rational gain ×7/9 over the modular corpus; the oracle
    # restates the round-half-up rational out = floor((2·s·7 + 9)/18)
    # (floor, not SQL's truncate-toward-zero — the sql_downmix /
    # sql_normalize_peak negative-division trap) plus the shared
    # stats tail (oracle.sql_gain_perturb).
    from canned_yaml_spark import augment, resample as rs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 59 == 0)
                  .select(F.col("o_orderkey").alias("k")))
    out = augment.gain_perturb(rs.mod_corpus_df(spark, keys), 7, 9)
    stats = payload.audio_stats(
        out.withColumn("codec", F.lit("pcm_s16le"))
           .withColumn("part_id", F.lit(0)),
        byte_col="bytes")
    # dc as the EXACT integer sum, not a rounded mean: sum/4000
    # terminates at 5 decimals, so a 4-decimal round can land on a
    # half-tie that Spark (shortest-decimal HALF_UP) and DuckDB (raw
    # binary) resolve differently — measured on this very gate.
    return stats.select(
        "clip_id", "n_samples", "peak",
        F.round(F.col("dc_offset") * F.col("n_samples"))
         .cast("long").alias("dc_sum"),
        F.round("rms_db", 4).alias("rms_db"))


def _q_mix_noise(spark, sf_dir):
    # additive-noise augmentation: each modular clip mixed 3:1 against
    # its assigned bank clip (closed-form assignment noise_id = k % 4
    # so the oracle stays pure arithmetic; production assignment is
    # assign_noise's xxhash64 bucketing). The 300-sample triangle
    # noise TILES across the 4000-sample clip; out[i] =
    # floor((3·s(i) + t(i mod 300, nid)) / 4), restated exactly by
    # oracle.sql_mix_noise through the shared stats tail.
    from canned_yaml_spark import augment, resample as rs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 61 == 0)
                  .select(F.col("o_orderkey").alias("k")))
    clips = (rs.mod_corpus_df(spark, keys)
             .withColumn("noise_id",
                         (F.regexp_extract("clip_id", r"(\d+)", 1)
                          .cast("long") % 4).cast("int")))
    bank = spark.createDataFrame(
        [(nid, bytearray(rs.tri_pcm(nid, 300).tobytes()))
         for nid in range(4)],
        "noise_id int, bytes binary")
    out = augment.mix_noise(clips, bank, 3, 1, 4)
    stats = payload.audio_stats(
        out.withColumn("codec", F.lit("pcm_s16le"))
           .withColumn("part_id", F.lit(0)),
        byte_col="bytes")
    # exact integer dc_sum, not a rounded mean — same /4000
    # half-tie hazard as the gain gate (see _q_gain_perturb)
    return stats.select(
        "clip_id", "n_samples", "peak",
        F.round(F.col("dc_offset") * F.col("n_samples"))
         .cast("long").alias("dc_sum"),
        F.round("rms_db", 4).alias("rms_db"))


def _q_downmix(spark, sf_dir):
    # stereo→mono downmix of REAL two-channel RIFF/WAVE files (the
    # chunk walker supplies the channel count), value-checked through
    # peak/dc/rms of the DOWNMIXED samples: mono[f] =
    # floor((s(2f)+s(2f+1))/2) with s the analytic wav_sample formula,
    # restated exactly by the oracle (oracle.sql_downmix).
    from canned_yaml_spark import multimodal, resample as rs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 37 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            ks = [int(x) for x in pdf["k"]]
            yield pd.DataFrame({
                "clip_id": [f"clip_{x:010d}" for x in ks],
                "bytes": [multimodal.encode_wav(x, 200, 16000, 2)
                          for x in ks]})

    wavs = keys.mapInPandas(gen, "clip_id string, bytes binary")
    dm = rs.downmix_mono(wavs)
    stats = payload.audio_stats(
        dm.withColumn("codec", F.lit("pcm_s16le"))
          .withColumn("part_id", F.lit(0)),
        byte_col="bytes")
    return stats.select(
        "clip_id", "n_samples", "peak",
        F.round("dc_offset", 4).alias("dc_offset"),
        F.round("rms_db", 4).alias("rms_db"))


def _q_normalize_peak(spark, sf_dir):
    # peak (loudness) normalization — the prep step between decode and
    # featurization. Gate corpus: closed-form modular clips TRUNCATED
    # per key to n(k) = 700 + k % 997 samples (< one 2048 cycle, so
    # the per-clip peak VARIES and the gain is clip-specific). The
    # oracle restates the exact round-half-up rational arithmetic
    # out[i] = (2·s·T + P) // (2·P) and the same stats math the
    # resample/downmix gates proved cross-engine.
    from canned_yaml_spark import resample as rs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 37 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            ks = [int(x) for x in pdf["k"]]
            yield pd.DataFrame({
                "clip_id": [f"clip_{x:010d}" for x in ks],
                "codec": ["pcm_s16le"] * len(ks),
                "bytes": [rs.mod_pcm(x, 700 + x % 997).tobytes()
                          for x in ks]})

    corpus = keys.mapInPandas(gen, "clip_id string, codec string, "
                                   "bytes binary")
    out = rs.normalize_peak(corpus, target_peak=30000)
    stats = payload.audio_stats(
        out.withColumn("codec", F.lit("pcm_s16le"))
           .withColumn("part_id", F.lit(0)),
        byte_col="bytes")
    return (out.select("clip_id", "peak_in")
               .join(stats, "clip_id")
               .select("clip_id", "n_samples", "peak_in", "peak",
                       F.round("dc_offset", 4).alias("dc_offset"),
                       F.round("rms_db", 4).alias("rms_db")))


def _q_quantile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-quantile (SLA bound) as a spec rule: per-partition EXACT p99 of
    # dur_ms with `maximum: 12000` — the drift partition's +5000 ms
    # shift puts its p99 at ~14.9 s while every clean partition sits
    # ≤ ~9.9 s (measured margins ≈ 2.1/2.9 s around the bound). The
    # gate emits the full per-part report (qval + breach verdict), a
    # strictly stronger check than the filtered violation rows; the
    # spec→violation wiring is pinned in tests/test_dataset.py.
    from canned_yaml_spark.compile import compile_spec as _cs
    clips = derive.clips_df(spark, sf_dir)
    suite = _cs({"type": "object",
                 "x-quantile": {"column": "dur_ms", "q": 0.99,
                                "maximum": 12000}}, clips.schema)
    [qc] = suite.quantile_checks
    rep = dataset.partition_quantile(clips, qc)
    return rep.select("part_id", F.round("qval", 4).alias("qval"),
                      "breach")


def _q_quantile_report_bucketed(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    # the unbounded-column posture of x-quantile: values quantized to
    # 500 bucket midpoints over [0, 16000] before the histogram, so
    # the shuffle carries ≤ parts × buckets rows at ANY scale. The
    # oracle restates the same quantization, then DuckDB's
    # quantile_cont over the midpoints. Error vs exact ≤ width/2 = 16
    # ms (pinned in tests/test_dataset.py); margins around the 12 s
    # bound are ~2 s, so the breach verdicts match the exact mode's.
    from canned_yaml_spark.compile import compile_spec as _cs
    clips = derive.clips_df(spark, sf_dir)
    suite = _cs({"type": "object",
                 "x-quantile": {"column": "dur_ms", "q": 0.99,
                                "maximum": 12000, "buckets": 500,
                                "lo": 0, "hi": 16000}}, clips.schema)
    [qc] = suite.quantile_checks
    rep = dataset.partition_quantile(clips, qc)
    return rep.select("part_id", F.round("qval", 4).alias("qval"),
                      "breach")


def _q_assert_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-assert: arbitrary cross-field SQL boolean rules as row checks —
    # the vocabulary escape hatch. Two rules over the clips corpus:
    # speech-rate sanity (a transcript can't exceed 1 char/ms of
    # audio — trips the injected dur_ms=0 and 5000-'x' transcripts)
    # and an archival policy (flac must be >= 16 kHz). NULL transcript
    # rows (injected rule 6) evaluate NULL → pass, pinning the
    # engine-wide "absent values only violate required" convention.
    # Oracle: the SAME predicates restated in DuckDB over the same
    # derived corpus. Plan: both asserts join the single-scan
    # violation array — zero exchanges added.
    from canned_yaml_spark.compile import compile_spec as _cs
    clips = derive.clips_df(spark, sf_dir)
    suite = _cs({"type": "object", "x-assert": [
        {"id": "speech_rate", "expr": "length(transcript) <= dur_ms",
         "message": "transcript longer than 1 char per ms of audio"},
        {"id": "flac_sr", "severity": "WARN",
         "expr": "NOT (codec = 'flac' AND sr_hz < 16000)",
         "message": "flac clips must be archived at >= 16 kHz"},
    ]}, clips.schema)
    return row_violations(clips, suite).select(*_VCOLS)


def _q_completeness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-completeness: per-partition null-budget gate (the reference's
    # `required` generalized to a fractional budget). Both gated
    # columns fold into ONE hash agg — the shuffle carries exactly one
    # row per partition at any table size. transcript has injected
    # NULLs (rule 6: 1 in 80 rows) so a 1% budget breaches on the
    # partitions where those cluster; codec has none → never breaches.
    from canned_yaml_spark.compile import compile_spec as _cs
    clips = derive.clips_df(spark, sf_dir)
    suite = _cs({"type": "object", "x-completeness": [
        {"column": "transcript", "max_null_frac": 0.01},
        {"column": "codec", "max_null_frac": 0.0},
    ]}, clips.schema)
    rep = dataset.partition_completeness(clips, suite.completeness_checks)
    return rep.select("part_id", F.col("column").alias("col"),
                      "null_frac", "breach")


def _q_frequency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-frequency: per-partition dominant-value share cap + distinct
    # floor on the codec column (weights 0.70/0.15/0.10/0.05 —
    # FIXTURES.md). The 0.68 cap splits the partitions around the hot
    # codec's expected 0.70 share, so breach carries real signal both
    # ways. Two algebraic aggs; stage-2 input ≤ parts × 4 codec rows
    # regardless of table size. Oracle: DuckDB window-free restatement
    # with the same (count, value) tie-break.
    from canned_yaml_spark.compile import compile_spec as _cs
    clips = derive.clips_df(spark, sf_dir)
    suite = _cs({"type": "object", "x-frequency": [
        {"column": "codec", "max_share": 0.68, "min_distinct": 4},
    ]}, clips.schema)
    rep = dataset.partition_frequency(clips, suite.frequency_checks[0])
    return rep.select("part_id", "top_value", "top_share",
                      "n_distinct", "breach")


def _q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    # gap-based sessionization over the events table (12 h gap): one
    # shuffle on user_id, per-user ordered window (deterministic
    # (time, event_id) tie-break), durations as epoch-second
    # differences so timezone conventions cancel between engines.
    # Oracle: identical window logic in DuckDB SQL.
    from canned_yaml_spark import events as ev
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.session_stats(events, gap_s=43200.0)


def _q_monotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-monotonic ordering invariant over the events table: value
    # must be non-decreasing per user in event_id order (the synthetic
    # values are random, so roughly half the in-group steps violate —
    # a dense, deterministic violation set). ONE shuffle on user_id +
    # per-user window; oracle restates the identical lag window with
    # the same deterministic (order_by, column, id) ordering.
    from canned_yaml_spark import events as ev
    spec = {"type": "object",
            "x-monotonic": {"column": "value", "partition_by": "user_id",
                            "order_by": "event_id"}}
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    suite = compile_spec(spec, events.schema)
    [mc] = suite.monotonic_checks
    return ev.monotonic_violations(events, mc).select(*_VCOLS)


def _q_embedding_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-embedding vector-sanity rule over the derived embedding corpus
    # (real unit-norm FLOAT[64] vectors + pinned per-class defects,
    # derive.emb_corpus_select): dim / finite (NULL·NaN·Inf element) /
    # L2-norm window [0.5, 2.0] / zero vector. All four checks are
    # pure array HOFs in ONE scan — no shuffle, no Python; the NULL
    # column class passes (absence is `required`'s violation). Oracle:
    # identical list-HOF restatement in DuckDB; decisions carry margins
    # ~7 orders above float-summation-order noise, and no float value
    # is emitted.
    emb = derive.emb_corpus_df(spark, sf_dir)
    spec = {"type": "object",
            "x-embedding": {"column": "embedding", "dim": 64,
                            "min_norm": 0.5, "max_norm": 2.0,
                            "forbid_zero": True}}
    suite = compile_spec(spec, emb.schema)
    return runner.row_violations(emb, suite, id_col="vec_id") \
                 .select(*_VCOLS)


def _q_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-freshness: per-event-type ingestion lag behind the table's
    # newest event (epoch-second difference). One algebraic agg +
    # global-frame window over one row per group. 1500 s budget
    # splits the sf corpus: view/click fresh, signup/purchase/error
    # stale.
    from canned_yaml_spark import events as ev
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return ev.freshness_report(events, max_lag_s=1500.0)


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of (point-in-time) join: each error event matched to the same
    # user's most recent click at-or-before it. Union+window plan (one
    # shuffle + one sort of |L|+|R| — the operator's optimal bound;
    # Spark has no built-in). Oracle: DuckDB's native ASOF LEFT JOIN —
    # a genuinely independent implementation of the semantics.
    from canned_yaml_spark import events as ev
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = ev.asof_join(events.filter("event_type = 'error'"),
                       events.filter("event_type = 'click'"),
                       right_cols=("event_id",))
    return out.select("event_id",
                      F.col("asof_event_id").alias("matched_id"),
                      "asof_gap_s")


def _q_anomaly_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-anomaly: reference-free drift — modified z-score (Iglewicz-
    # Hoaglin 0.6745·(x−median)/MAD) of each partition's mean dur_ms
    # against all partitions. The injected +5000 ms drift partition is
    # the anomaly this flags WITHOUT an expected histogram (PSI/KS
    # need one). Table-scale work = one algebraic agg; median/MAD run
    # over one row per partition. Oracle: DuckDB quantile_cont
    # restatement of the same exact-integer-ratio means.
    from canned_yaml_spark.compile import compile_spec as _cs
    clips = derive.clips_df(spark, sf_dir)
    suite = _cs({"type": "object",
                 "x-anomaly": {"column": "dur_ms", "z_max": 3.5}},
                clips.schema)
    return dataset.partition_anomaly(clips, suite.anomaly_checks[0])


def _q_inferred_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spec inference (the reverse of the reference's spec→validator
    # generation): profile the corpus in two aggregate passes (pass 1
    # all-algebraic one-row scan; pass 2 exact confirmation only for
    # nominated candidates) and emit every suggested rule as a
    # (col, keyword, value) row. All values are exact post-
    # confirmation stats, so the DuckDB oracle restates each decision
    # as a HAVING-gated aggregate — a wrongly-emitted OR wrongly-
    # dropped rule hash-mismatches. The round-trip guarantee (inferred
    # spec ⇒ zero ERROR violations on the profiled table itself) is
    # pinned in tests/test_infer.py. Driver materialization: one stats
    # row + enum sets (≤ 8 values each) + ≤ ~40 rule rows — bounded.
    from canned_yaml_spark import infer
    clips = derive.clips_df(spark, sf_dir)
    rows = infer.suggested_rules(clips)
    return spark.createDataFrame(
        rows, "col string, keyword string, value string")


def _q_codec_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # skew-surviving EXACT p50/p95/p99 per codec (SLA-check shape):
    # redistribute-by-value histogram, percentile_cont interpolation —
    # independent oracle = DuckDB's built-in quantile_cont
    clips = derive.clips_df(spark, sf_dir)
    q = dataset.grouped_exact_quantiles(clips, "codec", "dur_ms")
    return q.select("codec",
                    F.round("q50", 4).alias("q50"),
                    F.round("q95", 4).alias("q95"),
                    F.round("q99", 4).alias("q99"))


def _q_spectral_stats(spark, sf_dir):
    # FFT-derived spectral quality features (band-limit/transcode
    # detection) over the chirp corpus — rows-only (DuckDB has no FFT);
    # the physics is pinned in tests/test_audiofp.py (pure tone,
    # hash-noise, 4x-upsampled band-limited clip).
    from canned_yaml_spark import audiofp
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 37 == 0)
                  .select(F.col("o_orderkey").alias("k")))
    corpus = (audiofp.chirp_corpus_df(spark, keys=keys)
              .withColumn("sr_hz", F.lit(8000)))
    s = audiofp.spectral_stats(corpus)
    return s.select(
        "clip_id", "n_frames",
        F.round("centroid_hz", 2).alias("centroid_hz"),
        F.round("bandwidth_hz", 2).alias("bandwidth_hz"),
        F.round("rolloff95_hz", 2).alias("rolloff95_hz"),
        F.round("flatness", 4).alias("flatness"),
        F.round("hf_ratio", 4).alias("hf_ratio"))


def _q_spectral_verdicts(spark, sf_dir):
    # the band-limit DETECTOR's verdict, value-checked: every 3rd gate
    # key's clip is FFT-brickwalled at 1 kHz (telephony passed off as
    # 8 kHz), the rest carry a strong broadband floor. The x-spectral
    # rolloff-95 floor at 2000 Hz must flag EXACTLY the band-limited
    # clips — measured margins clean ≥ 3156 Hz vs limited ≤ 1000 Hz
    # (audiofp.bandlimit_probe_pcm; pinned in tests/test_audiofp.py).
    # Complements `spectral_stats`, which emits the raw FFT features
    # (rows-only — DuckDB has no FFT); here the DECISION has a
    # closed-form oracle from the injection arithmetic.
    from canned_yaml_spark import audiofp
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 37 == 0)
                  .select(F.col("o_orderkey").alias("k")))
    corpus = audiofp.bandlimit_corpus_df(spark, keys=keys, every=3)
    suite = compile_spec(
        {"type": "object",
         "properties": {"bytes": {"x-spectral":
                                  {"min_rolloff95_hz": 2000.0}}}},
        corpus.schema)
    [sc] = suite.spectral_checks
    return (audiofp.spectral_violations(corpus, sc)
            .select("clip_id", "rule_id", "severity"))


def _q_mel_band(spark, sf_dir):
    # log-mel/MFCC pipeline verdict, value-checked end to end: gate
    # key k carries a pure tone AT the peak of mel filter k % 26 —
    # where that triangle's weight is exactly 1 and both neighbors'
    # are exactly 0 (audiofp.mel_peak_hz) — so the FFT → mel-matmul →
    # argmax pipeline must land dominant_band on the injected index
    # for EVERY clip (margin is the triangle geometry, not a
    # statistical separation; all 26 bands exercised, pinned in
    # tests/test_audiofp.py). The raw log_mel/mfcc vectors stay
    # pytest-pinned (DuckDB has no FFT); the DECISION has the
    # injected-truth oracle.
    from canned_yaml_spark import audiofp
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 23 == 1)
                  .select(F.col("o_orderkey").alias("k")))
    corpus = audiofp.tone_band_corpus_df(spark, keys)
    return (audiofp.mfcc_stats(corpus)
            .select("clip_id", "n_frames", "dominant_band"))


def _q_simhash_groups(spark, sf_dir):
    # full value oracle despite the engine hash: oracle.sql_simhash_groups
    # restates XXH64(seed 42) itself in DuckDB SQL (32-bit-limb HUGEINT
    # arithmetic), then the tokenize→vote→sign pipeline — the comparison
    # covers the 64-bit simhash values, not just the grouping
    d2 = dedup.with_dup_injection(_docs(spark, sf_dir))
    return (dedup.simhash_dup_groups(d2)
            .select("simhash", "n_docs",
                    F.array_join(F.col("doc_ids"), ",").alias("doc_ids")))


def _q_ann_recall(spark, sf_dir):
    # approximate-path quality metric the driver can see: recall@10 of
    # multi-table multi-probe LSH vs the exact baseline at THE
    # documented operating point (bits=12, tables=2, probes=12 —
    # measured 0.994 at 100k vectors; BENCH/ANN.md cites the same
    # point). The corpus size DERIVES FROM sf_dir (ADVICE r3): the
    # real embeddings parquet is unioned in as corpus distractors
    # (vec_ids offset to avoid collision) and the clustered generator
    # pads to 10× its rows (min 20k). Queries come from the CLUSTERED
    # part: the raw table is uniform-random on the 64-d sphere
    # (measured top-1 cosine ≈ 0.33, labels carry no geometry), where
    # top-k is degenerate and NO sublinear ANN holds recall — a
    # structureless probe would measure the corpus, not the operator.
    real = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                 .select((F.col("vec_id") + F.lit(10_000_000))
                         .alias("vec_id"), "embedding"))
    n_real = real.count()
    n_synth = max(20_000, 10 * n_real)
    synth = similarity.synth_clustered_embeddings(
        spark, n_synth, n_clusters=600, partitions=16)
    emb = synth.unionByName(real)
    stride = max(1, n_synth // 100)      # ~100 queries, deterministic
    q = (synth.filter(F.col("vec_id") % stride == 0)
              .select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("q_vec")))
    exact = similarity.cosine_topk(emb, q, 10)
    approx = similarity.ann_topk_lsh(emb, q, 10, bits=12, tables=2,
                                     probes=12)
    return similarity.recall_at_k(exact, approx)


def _q_ivf_recall(spark, sf_dir):
    # IVF quantizer quality the driver can see (VERDICT r4 item 3):
    # recall@10 of ivf_topk vs the exact baseline. Gate operating
    # point: n_cells=256, nprobe=2 — measured mean recall 1.0 at this
    # corpus (~20k vectors ⇒ ~80/cell; nprobe=1 measures 0.87 here
    # because cell-boundary neighbors dominate at that density, while
    # the 100k-vector sweep's nprobe=1 row reaches 0.998 —
    # BENCH/ANN.md documents BOTH points with this exact reasoning).
    # Same sf-derived corpus construction as _q_ann_recall (and the
    # same reason the queries come from the clustered synthetic part:
    # the raw table is geometry-free). Quantizer trained on a 25%
    # deterministic hash sample, Lloyd iters fully DataFrame-side
    # (similarity.ivf_train).
    real = (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
                 .select((F.col("vec_id") + F.lit(10_000_000))
                         .alias("vec_id"), "embedding"))
    n_real = real.count()
    n_synth = max(20_000, 10 * n_real)
    synth = similarity.synth_clustered_embeddings(
        spark, n_synth, n_clusters=600, partitions=16)
    emb = synth.unionByName(real)
    stride = max(1, n_synth // 100)      # ~100 queries, deterministic
    q = (synth.filter(F.col("vec_id") % stride == 0)
              .select(F.col("vec_id").alias("q_id"),
                      F.col("embedding").alias("q_vec")))
    cents = similarity.ivf_train(emb, n_cells=256, iters=3,
                                 sample_frac=0.25)
    cells = similarity.ivf_assign(emb, cents)
    exact = similarity.cosine_topk(emb, q, 10)
    approx = similarity.ivf_topk(cells, q, cents, 10, nprobe=2)
    return similarity.recall_at_k(exact, approx)


# ---------------- multimodal media columns (binary + typed meta) -----
def _q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # real byte-level decode through Arrow vs an oracle that recomputes
    # the expected metadata analytically from the key
    from canned_yaml_spark import multimodal
    media = multimodal.media_corpus_df(spark, sf_dir)
    return (multimodal.extract_media_meta(media)
            .select("media_id", "part_id", "kind", "ok", "width",
                    "height", "channels", "n_frames",
                    F.round("mean_luma", 4).alias("mean_luma")))


def _q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from canned_yaml_spark import multimodal
    media = multimodal.media_corpus_df(spark, sf_dir)
    return (multimodal.frame_sample(media, every=2)
            .select("media_id", "frame_idx",
                    F.length("frame").alias("frame_len")))


def _q_transcript_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # edit distance vs the pre-injection ground-truth transcript table
    # (derive.transcript_ref_select) — keeps only drifted rows. The
    # injected wrong-id rule (clip_id of k-1) mis-joins to k-1's
    # reference exactly as a real mislabeled clip would, and surfaces
    # here with dist > 0; NULL transcripts yield NULL dist (dropped),
    # they are `required` violations, not distance ones.
    from canned_yaml_spark import derive, payload
    clips = derive.clips_df(spark, sf_dir)       # registers `orders` view
    tref = spark.sql(derive.transcript_ref_select("spark"))
    d = payload.transcript_distance(clips, tref)
    return d.filter(F.col("dist") > 0)


def _q_video_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Perceptual VIDEO near-dup (multimodal.video_near_dups): per-frame
    # dHash of Y4M luminance planes, frame-0-anchored pigeonhole band
    # probe, pure-JVM forall/zip_with/bit_count verify over the carried
    # fingerprint arrays. Corpus on orders keys k % 73 == 0: 4-frame
    # 16×16 C420 streams with avalanche-mixed content; k%10==0 injects
    # a CHROMA-ONLY perturbation (bytes differ, Y planes identical —
    # the dup a byte-level dedup must miss and a perceptual one must
    # catch), k%10==5 one Y pixel per frame (every frame ≤ 2 bits).
    # Oracle: the injected pairs — exactly the k % 5 == 0 keys.
    from canned_yaml_spark import multimodal
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 73 == 0)
                  .select(F.col("o_orderkey").alias("k")))
    w = h = 16
    plane = w * h * 3 // 2
    nf = 4

    def gen(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            ids, blobs = [], []
            for k in (int(x) for x in pdf["k"]):
                px = multimodal.mix_pixel(
                    k, np.arange(nf * plane, dtype=np.int64)) \
                    .astype(np.uint8)
                ids.append(f"vid_{k:010d}")
                blobs.append(multimodal.encode_y4m(k, nf, w, h,
                                                   payload=px))
                r = k % 10
                if r in (0, 5):
                    p2 = px.copy()
                    for f in range(nf):
                        base = f * plane
                        if r == 0:       # chroma-only: Y untouched
                            pos = base + w * h \
                                + (k + f) % (plane - w * h)
                            p2[pos] = (int(p2[pos]) + 7) % 256
                        else:            # one Y pixel per frame
                            pos = base + (k * 37 + f * 11) % (w * h)
                            p2[pos] = (int(p2[pos]) + 3) % 256
                    ids.append(f"vid_{k:010d}_dup")
                    blobs.append(multimodal.encode_y4m(k, nf, w, h,
                                                       payload=p2))
            yield pd.DataFrame({"media_id": ids, "media": blobs})

    corpus = keys.mapInPandas(gen, "media_id string, media binary")
    return (multimodal.video_near_dups(corpus, max_hamming=4)
            .orderBy("media_id_a"))


def _q_media_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-media as a spec rule over the derived media corpus: image-kind
    # payloads must decode AND be at least 7 px wide. Violations are
    # closed-form in k (oracle.sql_media_rule): corrupt image
    # containers (every 10th key truncated — magic survives, so kind
    # scoping still sees an image) plus the healthy 6-wide BMPs and
    # 5-wide PNGs; the 8×8 stub images pass the floor. WAV/Y4M rows
    # are out of scope for kinds=[image] even when corrupt.
    from canned_yaml_spark import multimodal
    from canned_yaml_spark.compile import compile_spec as _cs
    media = multimodal.media_corpus_df(spark, sf_dir)
    suite = _cs({"type": "object", "properties": {"media": {
        "x-media": {"kinds": ["image"], "min_width": 7,
                    "require_decodable": True}}}}, media.schema)
    [mc] = suite.media_checks
    return (multimodal.media_violations(media, mc)
            .select(*_VCOLS))


def _q_image_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Perceptual image near-dup (multimodal.dhash64 + pigeonhole band
    # LSH + JVM bit_count verify — EXACT w.r.t. hamming ≤ 4, no false
    # negatives by construction). Corpus on orders keys k % 67 == 0:
    # one 16×16 BMP per key (avalanche-mixed pixels — cross-key dHash
    # distance min 17 bits, pinned in tests/test_multimodal.py);
    # k%10==0 injects the SAME pixels re-encoded as PNG (container
    # change, hamming 0), k%10==5 a one-pixel-perturbed BMP copy
    # (hamming ≤ 2 by block locality). k%5==2 keys add a LOSSY
    # re-encode pair: a real baseline JPEG (quality 75) of an
    # independent avalanche raster, paired with a BMP that stores the
    # JPEG's DECODED pixels — the "BMP master vs lossy thumbnail copy"
    # dedup scenario. Their rasters are bit-identical by decode
    # determinism, so hamming is exactly 0 for EVERY key (the ground
    # truth needs no distortion bound); the raster seed is offset by
    # 10^9 so the pair is avalanche-independent of the key's base
    # image. The oracle states the injected pairs — k%5==0 (_dup) and
    # k%5==2 (_jb/_jd).
    from canned_yaml_spark import jpeg, multimodal
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 67 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            ids, blobs = [], []
            for k in (int(x) for x in pdf["k"]):
                px = multimodal.mix_pixel(
                    k, np.arange(16 * 16 * 3, dtype=np.int64)) \
                    .astype(np.uint8)
                ids.append(f"img_{k:010d}")
                blobs.append(multimodal.encode_bmp(k, 16, 16, pixels=px))
                if k % 10 == 0:
                    ids.append(f"img_{k:010d}_dup")
                    blobs.append(
                        multimodal.encode_png(k, 16, 16, pixels=px))
                elif k % 10 == 5:
                    noised = px.copy()
                    pos = (k * 37) % px.size
                    noised[pos] = (int(noised[pos]) + 3) % 256
                    ids.append(f"img_{k:010d}_dup")
                    blobs.append(
                        multimodal.encode_bmp(k, 16, 16, pixels=noised))
                elif k % 5 == 2:
                    gray = multimodal.mix_pixel(
                        k + 1_000_000_000,
                        np.arange(16 * 16, dtype=np.int64)) \
                        .astype(np.uint8).reshape(16, 16)
                    jbuf = jpeg.jpeg_encode(gray, quality=75)
                    dec = jpeg.jpeg_decode_strict(jbuf)
                    ids.append(f"img_{k:010d}_jb")
                    blobs.append(multimodal.encode_bmp(
                        k, 16, 16,
                        pixels=np.repeat(dec[:, :, None], 3, axis=2)))
                    ids.append(f"img_{k:010d}_jd")
                    blobs.append(jbuf)
            yield pd.DataFrame({"media_id": ids, "media": blobs})

    corpus = keys.mapInPandas(gen, "media_id string, media binary")
    return (multimodal.image_near_dups(corpus, max_hamming=4)
            .orderBy("media_id_a"))


def _q_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-clip quality metrics (peak/RMS dBFS/clipping/silence/DC) over
    # the media corpus's REAL RIFF/WAVE rows, decoded by the generic
    # chunk walker; the oracle recomputes every metric analytically
    # from wav_sample(k, i) = (i*31 + k*7) % 2048 - 1024
    from canned_yaml_spark import multimodal, payload
    # only the k%4==1 keys encode RIFF/WAVE rows — push that key
    # predicate BELOW the opaque generation stage (4x fewer encodes;
    # the RIFF filter stays as the semantic guard, same output rows)
    media = multimodal.media_corpus_df(
        spark, sf_dir, keys_where=multimodal.WAV_KEYS_WHERE)
    wavs = (media.filter(F.col("media").substr(1, 4) == F.lit(b"RIFF"))
                 .withColumn("codec", F.lit("wav")))

    def riff_decoder(buf, codec):
        try:
            pcm, _ = multimodal.wav_pcm(bytes(buf))
            return pcm
        except ValueError:
            return None

    s = payload.audio_stats(wavs, byte_col="media", id_col="media_id",
                            clip_thresh=1000, silence_thresh=16,
                            decoder=riff_decoder)
    return s.select(
        F.col("clip_id").alias("media_id"), "part_id", "n_samples",
        "peak", F.round("dc_offset", 4).alias("dc_offset"),
        F.round("rms_db", 4).alias("rms_db"),
        F.round("clip_frac", 4).alias("clip_frac"),
        F.round("silence_frac", 4).alias("silence_frac"))


def _q_payload_snr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-vectorized payload decode + SNR vs reference (input_hint)
    # over the 2000-row deterministic fixture corpus. The oracle states
    # the injected ground truth (oracle.sql_payload_snr): which rows
    # fail, and with what multiplicity, is closed-form in the row index
    # — margins pinned in tests/test_payload.py.
    clips = fixtures.clips_df(spark, 2000)
    ref = fixtures.clips_ref_df(spark, 2000)
    suite = compile_spec(SPEC, clips.schema)
    return (payload.payload_violations(clips, ref, suite.payload_checks[0])
            .select(*_VCOLS))


def _q_payload_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Certified-ingest payload plan (payload.py select_payload_plan
    # "certified"): the ref table carries codec_ref + enc_hash/enc_len
    # of the payload bytes that passed validation at ingest plus
    # compressed pcm_z, so unchanged payloads of ANY codec fast-pass by
    # digest and only the damaged residual is decoded. Must emit the
    # IDENTICAL violation set as the eager plan (_q_payload_snr) over
    # the same 2000-row fixture corpus — the oracle states that set
    # closed-form (oracle.sql_payload_snr), so the certified plan's
    # digest fast-path + residual decode is value-checked end to end.
    clips = fixtures.clips_df(spark, 2000)
    ref = fixtures.clips_ref_df(spark, 2000, certified=True)
    suite = compile_spec(SPEC, clips.schema)
    return (payload.payload_violations(clips, ref, suite.payload_checks[0])
            .select(*_VCOLS))


def _q_g711_snr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL-codec payload validation: the clips are G.711 µ-law/A-law
    # telephony streams (audio.ulaw_/alaw_encode — ITU-T companding as
    # vectorized numpy, validated byte-exactly against stdlib audioop
    # over the full domain in tests/test_audio.py), NOT the zlib stub
    # containers. Corpus: closed-form modular clips on orders keys
    # (k % 41 == 0), n(k) = 600 + k % 997 samples, µ-law on even keys /
    # A-law on odd. Companding keeps intact clips 35-38 dB above their
    # reference (margins pinned in tests/test_payload.py) — above the
    # 30 dB gate; three injections, closed-form in k, each fail one
    # branch: k%12==0 truncated stream (1 byte/sample → half the
    # samples → length mismatch, SNR -inf), k%12==4 zeroed payload
    # (noise power ≈ signal power, SNR ≈ 0 dB), k%12==8
    # transcript tamper. The oracle states that injected ground truth.
    from canned_yaml_spark import resample as rs
    from canned_yaml_spark.checks import PayloadCheck
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 41 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen_clips(batches):
        import numpy as np
        import pandas as pd

        from canned_yaml_spark import audio as au
        for pdf in batches:
            out = {"clip_id": [], "bytes": [], "codec": [],
                   "transcript": [], "part_id": []}
            for k in (int(x) for x in pdf["k"]):
                n = 600 + k % 997
                codec = "ulaw" if k % 2 == 0 else "alaw"
                data = au.encode(rs.mod_pcm(k, n), codec)
                t = f"transcript {k}"
                r = k % 12
                if r == 0:
                    data = data[: n // 2]
                elif r == 4:
                    data = au.encode(np.zeros(n, dtype=np.int16), codec)
                elif r == 8:
                    t = "tampered"
                out["clip_id"].append(f"clip_{k:010d}")
                out["bytes"].append(data)
                out["codec"].append(codec)
                out["transcript"].append(t)
                out["part_id"].append(k % 64)
            yield pd.DataFrame(out)

    def gen_ref(batches):
        import pandas as pd
        for pdf in batches:
            ks = [int(x) for x in pdf["k"]]
            yield pd.DataFrame({
                "clip_id": [f"clip_{k:010d}" for k in ks],
                "pcm_ref": [rs.mod_pcm(k, 600 + k % 997).tobytes()
                            for k in ks],
                "transcript_ref": [f"transcript {k}" for k in ks]})

    clips = keys.mapInPandas(
        gen_clips, "clip_id string, bytes binary, codec string, "
                   "transcript string, part_id int")
    ref = keys.mapInPandas(
        gen_ref, "clip_id string, pcm_ref binary, transcript_ref string")
    check = PayloadCheck(rule_id="x-payload.bytes", column="bytes")
    return (payload.payload_violations(clips, ref, check)
            .select(*_VCOLS))


def _wer_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared closed-form word-edit corpus for the WER-family gates
    (orders keys k % 31 == 0; ref = n(k) words, probe = one edit by
    k % 8 — see _q_wer_report). Both gates and both oracles restate
    exactly this construction."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 31 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            ids, ts, rs_ = [], [], []
            for k in (int(x) for x in pdf["k"]):
                n = 5 + k % 23
                words = [f"w{(k * 7 + i * 13) % 50}" for i in range(n)]
                probe = list(words)
                r = k % 8
                if r == 1:
                    probe[k % n] = "z"
                elif r == 3:
                    probe = probe[:-1]
                elif r == 5:
                    probe = [probe[0]] + probe
                elif r == 7:
                    probe = ["z"] * n
                ids.append(f"clip_{k:010d}")
                ts.append(" ".join(probe))
                rs_.append(" ".join(words))
            yield pd.DataFrame({"clip_id": ids, "transcript": ts,
                                "transcript_ref": rs_,
                                "part_id": [0] * len(ids)})

    return keys.mapInPandas(
        gen, "clip_id string, transcript string, transcript_ref string, "
             "part_id int")


def _q_wer_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Word error rate (payload.wer): word-level edit distance / ref
    # word count — the ASR-standard acceptance metric. Corpus on
    # orders keys k % 31 == 0: reference transcript of clip k is
    # n(k) = 5 + k % 23 words, word i = 'w' || (k*7 + i*13) % 50; the
    # probe side applies one closed-form edit by k % 8 (1: substitute
    # word k%n with the out-of-vocab token 'z', 3: drop the last word,
    # 5: prepend a duplicate of the first word, 7: replace every word
    # with 'z', else identical). The oracle is INDEPENDENT: it encodes
    # each word list to a Unicode string (word id → chr(256+id) —
    # full-Unicode chr in DuckDB; Spark's wraps at 256, which is why
    # the engine side is an Arrow DP instead) and runs DuckDB's own
    # levenshtein, so the word-level DP itself is recomputed by a
    # second implementation, not just the injected truth restated.
    from canned_yaml_spark import payload as pl
    corpus = _wer_corpus(spark, sf_dir)
    return pl.wer(corpus.select("clip_id", "transcript", "part_id"),
                  corpus.select("clip_id", "transcript_ref")) \
             .select("clip_id", "n_ref_words", "dist", "wer")


def _q_transcript_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-transcript as a spec rule: WER ≤ 0.2 vs the reference table —
    # ASR tolerance in the validator vocabulary (the generalization of
    # x-payload's exact-equality branch). Same corpus family as
    # wer_report (orders keys k % 31 == 0, closed-form word edits by
    # k % 8). With max_wer = 0.2 the single-word edits (k%8 ∈ {1,3,5})
    # give WER 1/n ≤ 1/5 = 0.2 — AT the bound for n = 5, so they pin
    # the strict-inequality semantics by PASSING — and only the
    # everything-replaced rows (k%8 == 7, WER exactly 1.0) violate.
    from canned_yaml_spark import payload as pl
    from canned_yaml_spark.compile import compile_spec as _cs
    corpus = _wer_corpus(spark, sf_dir)
    suite = _cs({"type": "object", "properties": {
        "transcript": {"x-transcript": {"max_wer": 0.2}}}}, corpus.schema)
    [tc] = suite.transcript_checks
    return pl.transcript_violations(
        corpus.select("clip_id", "transcript", "part_id"),
        corpus.select("clip_id", "transcript_ref"), tc).select(*_VCOLS)


def _q_transcript_norm_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-transcript with ASR-style normalization (normalize: true):
    # lowercase + punctuation→space + collapse runs BOTH sides before
    # measuring, so case/punct-only differences are NOT violations.
    # Corpus on orders keys k % 89 == 0: ref = n(k) = 4 + k % 7 words
    # 'w' || (k + 3i) % 20; probe by k % 6 — 0: COSMETIC (uppercased,
    # comma-joined, trailing '!'; normalizes back to the ref exactly),
    # 2: substitute word k%n with 'zz' (real edit), 4: drop the last
    # word (real edit), else byte-equal. With max_dist=0 the
    # violations are exactly the k%6 ∈ {2,4} rows, and the message
    # carries the NORMALIZED distance — which the oracle recomputes
    # with DuckDB's OWN lower/regexp_replace/trim/levenshtein, a
    # fully independent implementation of both the normalization and
    # the alignment.
    from canned_yaml_spark import payload as pl
    from canned_yaml_spark.compile import compile_spec as _cs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 89 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            ids, ts, rs_, ps = [], [], [], []
            for k in (int(x) for x in pdf["k"]):
                n = 4 + k % 7
                words = [f"w{(k + 3 * i) % 20}" for i in range(n)]
                r = k % 6
                if r == 0:
                    probe = ", ".join(w.upper() for w in words) + "!"
                elif r == 2:
                    ws = list(words)
                    ws[k % n] = "zz"
                    probe = " ".join(ws)
                elif r == 4:
                    probe = " ".join(words[:-1])
                else:
                    probe = " ".join(words)
                ids.append(f"clip_{k:010d}")
                ts.append(probe)
                rs_.append(" ".join(words))
                ps.append(k % 64)
            yield pd.DataFrame({"clip_id": ids, "transcript": ts,
                                "transcript_ref": rs_, "part_id": ps})

    corpus = keys.mapInPandas(
        gen, "clip_id string, transcript string, transcript_ref string, "
             "part_id int")
    suite = _cs({"type": "object", "properties": {
        "transcript": {"x-transcript": {"max_dist": 0,
                                        "normalize": True}}}},
                corpus.schema)
    [tc] = suite.transcript_checks
    return pl.transcript_violations(
        corpus.select("clip_id", "transcript", "part_id"),
        corpus.select("clip_id", "transcript_ref"), tc) \
        .select("clip_id", "part_id", "rule_id", "severity", "message")


def _q_adpcm_snr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # IMA/DVI ADPCM payload validation (audio.py — REAL 4-bit adaptive
    # predictive codec, audioop-cross-checked). Corpus: closed-form
    # TRIANGLE clips (resample.tri_pcm — smooth, so the one-tap
    # predictor tracks at 60-66 dB; the pseudo-random mod family would
    # sit at ~4 dB, the codec's honest character) on orders keys
    # k % 47 == 0, n(k) = 600 + k % 997. Injections closed-form in k:
    # k%12==0 truncated container (header sample count no longer
    # matches the body → decode None → undecodable violation),
    # k%12==4 zeroed payload (encodes/decodes to exact zeros → SNR
    # exactly 0 dB), k%12==8 transcript tamper. Margins pinned in
    # tests/test_audio.py + tests/test_payload.py.
    from canned_yaml_spark import resample as rs
    from canned_yaml_spark.checks import PayloadCheck
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 47 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen_clips(batches):
        import numpy as np
        import pandas as pd

        from canned_yaml_spark import audio as au
        for pdf in batches:
            out = {"clip_id": [], "bytes": [], "codec": [],
                   "transcript": [], "part_id": []}
            for k in (int(x) for x in pdf["k"]):
                n = 600 + k % 997
                data = au.encode(rs.tri_pcm(k, n), "adpcm_ima")
                t = f"transcript {k}"
                r = k % 12
                if r == 0:
                    data = data[: len(data) // 2]
                elif r == 4:
                    data = au.encode(np.zeros(n, dtype=np.int16),
                                     "adpcm_ima")
                elif r == 8:
                    t = "tampered"
                out["clip_id"].append(f"clip_{k:010d}")
                out["bytes"].append(data)
                out["codec"].append("adpcm_ima")
                out["transcript"].append(t)
                out["part_id"].append(k % 64)
            yield pd.DataFrame(out)

    def gen_ref(batches):
        import pandas as pd
        for pdf in batches:
            ks = [int(x) for x in pdf["k"]]
            yield pd.DataFrame({
                "clip_id": [f"clip_{k:010d}" for k in ks],
                "pcm_ref": [rs.tri_pcm(k, 600 + k % 997).tobytes()
                            for k in ks],
                "transcript_ref": [f"transcript {k}" for k in ks]})

    clips = keys.mapInPandas(
        gen_clips, "clip_id string, bytes binary, codec string, "
                   "transcript string, part_id int")
    ref = keys.mapInPandas(
        gen_ref, "clip_id string, pcm_ref binary, transcript_ref string")
    check = PayloadCheck(rule_id="x-payload.bytes", column="bytes")
    return (payload.payload_violations(clips, ref, check)
            .select(*_VCOLS))


def _q_flac_snr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL-FLAC payload validation (flac.py — spec-conformant RFC 9639
    # streams: rice coding, fixed predictors, CRC-8/16 + STREAMINFO
    # MD5; hand-vector + roundtrip validated in tests/test_flac.py).
    # Corpus on orders keys k % 29 == 0, n(k) = 500 + k % 883 samples:
    # even k → resample.mod_pcm (decorrelated — encodes as verbatim
    # frames), odd k → resample.tri_pcm (smooth — fixed-predictor
    # frames), so BOTH subframe families run distributed through the
    # Arrow decode path. FLAC is lossless: intact clips decode
    # bit-exactly (SNR +inf — no margin to argue about). Injections
    # closed-form in k, one failure branch each: k%12==0 truncated
    # stream (parse runs out of bits → undecodable), k%12==4 one
    # flipped byte at the 3/4 mark (always inside the frame region —
    # the 42-byte fLaC+STREAMINFO prefix is far shorter — so the frame
    # CRC-16 / MD5 catches it → undecodable; THE distinctive
    # capability the zlib stub never had), k%12==8 transcript tamper.
    # The oracle states that injected ground truth.
    from canned_yaml_spark import resample as rs
    from canned_yaml_spark.checks import PayloadCheck
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 29 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen_clips(batches):
        import pandas as pd

        from canned_yaml_spark import audio as au
        for pdf in batches:
            out = {"clip_id": [], "bytes": [], "codec": [],
                   "transcript": [], "part_id": []}
            for k in (int(x) for x in pdf["k"]):
                n = 500 + k % 883
                pcm = rs.mod_pcm(k, n) if k % 2 == 0 else rs.tri_pcm(k, n)
                data = au.encode(pcm, "flac")
                t = f"transcript {k}"
                r = k % 12
                if r == 0:
                    data = data[: len(data) // 2]
                elif r == 4:
                    arr = bytearray(data)
                    arr[3 * len(arr) // 4] ^= 0x10
                    data = bytes(arr)
                elif r == 8:
                    t = "tampered"
                out["clip_id"].append(f"clip_{k:010d}")
                out["bytes"].append(data)
                out["codec"].append("flac")
                out["transcript"].append(t)
                out["part_id"].append(k % 64)
            yield pd.DataFrame(out)

    def gen_ref(batches):
        import pandas as pd
        for pdf in batches:
            ks = [int(x) for x in pdf["k"]]
            yield pd.DataFrame({
                "clip_id": [f"clip_{k:010d}" for k in ks],
                "pcm_ref": [(rs.mod_pcm(k, 500 + k % 883) if k % 2 == 0
                             else rs.tri_pcm(k, 500 + k % 883)).tobytes()
                            for k in ks],
                "transcript_ref": [f"transcript {k}" for k in ks]})

    clips = keys.mapInPandas(
        gen_clips, "clip_id string, bytes binary, codec string, "
                   "transcript string, part_id int")
    ref = keys.mapInPandas(
        gen_ref, "clip_id string, pcm_ref binary, transcript_ref string")
    check = PayloadCheck(rule_id="x-payload.bytes", column="bytes")
    return (payload.payload_violations(clips, ref, check)
            .select(*_VCOLS))


def _q_loudness_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-loudness as a spec rule: ITU-R BS.1770-4 gated integrated
    # loudness bounds on the decoded payload (loudness.py — exact
    # vectorized K-weighting via closed-form pole expansion + batched
    # rFFT, the standard's 400 ms / -70 LKFS / -10 LU gating). Corpus
    # on orders keys k % 71 == 0: clip k is a quantized 997 Hz sine of
    # 1.2 s at 16 kHz (even k, pcm_s16le) or 8 kHz (odd k, µ-law) —
    # 997 Hz is where the K-filter gain and the standard's -0.691
    # offset cancel, so LUFS ≈ 20·log10(amp) - 3.01. Amplitude by
    # k % 10: 0 → 0.9 (≈ -4.6 LUFS, breaches max_lufs -10 by 5 dB),
    # 5 → 0.002 (≈ -57, breaches min_lufs -40 by 17 dB; µ-law granular
    # noise adds ≤ 0.3 LU — margins dwarf it), 3 → all-zero signal
    # (every block under the -70 absolute gate → loudness UNDEFINED →
    # breaches the floor as dead air), 7 → 3-byte pcm stream
    # (undecodable), else 0.08 (≈ -25.6, passes with ≥ 14 dB margins).
    # The oracle states that injected ground truth.
    from canned_yaml_spark import loudness
    from canned_yaml_spark.compile import compile_spec as _cs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 71 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen(batches):
        import numpy as np
        import pandas as pd

        from canned_yaml_spark import audio as au
        for pdf in batches:
            out = {"clip_id": [], "bytes": [], "sr_hz": [], "codec": [],
                   "part_id": []}
            for k in (int(x) for x in pdf["k"]):
                fs = 16000 if k % 2 == 0 else 8000
                n = int(1.2 * fs)
                r = k % 10
                amp = {0: 0.9, 5: 0.002}.get(r, 0.08)
                t = np.arange(n, dtype=np.float64) / fs
                x = amp * np.sin(2 * np.pi * 997.0 * t)
                if r == 3:
                    x = np.zeros(n)
                pcm = np.clip(x * 32767.0, -32768, 32767).astype("<i2")
                codec = "pcm_s16le" if k % 2 == 0 else "ulaw"
                data = au.encode(pcm, codec)
                if r == 7:
                    codec, data = "pcm_s16le", b"\x00\x01\x02"  # odd length
                out["clip_id"].append(f"clip_{k:010d}")
                out["bytes"].append(data)
                out["sr_hz"].append(fs)
                out["codec"].append(codec)
                out["part_id"].append(k % 64)
            yield pd.DataFrame(out)

    clips = keys.mapInPandas(
        gen, "clip_id string, bytes binary, sr_hz int, codec string, "
             "part_id int")
    suite = _cs({"type": "object", "properties": {"bytes": {
        "x-loudness": {"min_lufs": -40, "max_lufs": -10,
                       "severity": "ERROR"}}}}, clips.schema)
    [lc] = suite.loudness_checks
    return loudness.loudness_violations(clips, lc).select(*_VCOLS)


def _q_true_peak_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-loudness' true-peak ceiling (BS.1770-4 Annex 2): the check a
    # sample-peak bound CANNOT express. Corpus on orders keys
    # k % 79 == 0, 0.5 s sines at 48 kHz (even k) / 16 kHz (odd k),
    # pcm_s16le. By k % 6: 0 → amplitude 0.98 at fs/4 with phase π/4 —
    # every STORED sample sits at 0.98/√2 (≈ -3.2 dBFS, far under the
    # ceiling) but the reconstructed waveform peaks at -0.18 dBTP,
    # breaching the -1.0 dBTP rule (interpolator error ≤ 0.06 dB,
    # pinned in tests); 3 → the same waveform at amplitude 0.85
    # (-1.41 dBTP — PASSES, pinning the decision margin both sides of
    # the bound); else → 1 kHz at 0.5 (-6.0 dBTP, passes). The oracle
    # states that injected ground truth.
    from canned_yaml_spark import loudness
    from canned_yaml_spark.compile import compile_spec as _cs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 79 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            out = {"clip_id": [], "bytes": [], "sr_hz": [], "codec": [],
                   "part_id": []}
            for k in (int(x) for x in pdf["k"]):
                fs = 48000 if k % 2 == 0 else 16000
                n = fs // 2
                t = np.arange(n, dtype=np.float64) / fs
                r = k % 6
                if r in (0, 3):
                    amp = 0.98 if r == 0 else 0.85
                    x = amp * np.sin(2 * np.pi * (fs / 4) * t + np.pi / 4)
                else:
                    x = 0.5 * np.sin(2 * np.pi * 1000.0 * t)
                pcm = np.clip(x * 32767.0, -32768, 32767).astype("<i2")
                out["clip_id"].append(f"clip_{k:010d}")
                out["bytes"].append(pcm.tobytes())
                out["sr_hz"].append(fs)
                out["codec"].append("pcm_s16le")
                out["part_id"].append(k % 64)
            yield pd.DataFrame(out)

    clips = keys.mapInPandas(
        gen, "clip_id string, bytes binary, sr_hz int, codec string, "
             "part_id int")
    suite = _cs({"type": "object", "properties": {"bytes": {
        "x-loudness": {"max_true_peak_dbtp": -1.0,
                       "severity": "ERROR"}}}}, clips.schema)
    [lc] = suite.loudness_checks
    from canned_yaml_spark.loudness import loudness_violations
    return loudness_violations(clips, lc).select(*_VCOLS)


def _q_lra_rule(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-loudness' loudness-range ceiling (EBU Tech 3342): bounds level
    # SWINGS within a clip, which no mean-level bound can see. Corpus
    # on orders keys k % 83 == 0: 9 s 997 Hz tones at 8 kHz pcm_s16le,
    # split 4.5 s/4.5 s between two amplitudes. By k % 4: 0 → levels
    # 15 LU apart (LRA = 15.0 exactly — blocks 0-1 sit fully loud,
    # 5-6 fully quiet, so p95/p10 land on pure-level values and the
    # K-gain cancels in the difference; measured error ≤ 0.05 LU) —
    # BREACHES max_lra_lu 8; 1 → constant level (LRA ≈ 0, passes);
    # 2 → 6 LU apart (LRA = 6.0, passes — pins the bound from below,
    # margin 2 LU ≥ 40× the measurement error); 3 → a 2 s clip (LRA
    # undefined: shorter than one 3 s short-term block — a ceiling
    # must not fire). The oracle states that injected ground truth.
    from canned_yaml_spark import loudness
    from canned_yaml_spark.compile import compile_spec as _cs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 83 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen(batches):
        import numpy as np
        import pandas as pd
        for pdf in batches:
            out = {"clip_id": [], "bytes": [], "sr_hz": [], "codec": [],
                   "part_id": []}
            for k in (int(x) for x in pdf["k"]):
                fs = 8000
                r = k % 4
                secs = 2.0 if r == 3 else 9.0
                t = np.arange(int(secs * fs), dtype=np.float64) / fs
                a1 = 0.5
                if r == 0:
                    amp = np.where(t < secs / 2, a1, a1 / 10 ** 0.75)
                elif r == 2:
                    amp = np.where(t < secs / 2, a1, a1 / 10 ** 0.3)
                else:
                    amp = 0.3
                x = amp * np.sin(2 * np.pi * 997.0 * t)
                pcm = np.clip(x * 32767.0, -32768, 32767).astype("<i2")
                out["clip_id"].append(f"clip_{k:010d}")
                out["bytes"].append(pcm.tobytes())
                out["sr_hz"].append(fs)
                out["codec"].append("pcm_s16le")
                out["part_id"].append(k % 64)
            yield pd.DataFrame(out)

    clips = keys.mapInPandas(
        gen, "clip_id string, bytes binary, sr_hz int, codec string, "
             "part_id int")
    suite = _cs({"type": "object", "properties": {"bytes": {
        "x-loudness": {"max_lra_lu": 8.0,
                       "severity": "ERROR"}}}}, clips.schema)
    [lc] = suite.loudness_checks
    return loudness.loudness_violations(clips, lc).select(*_VCOLS)


def _q_train_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Fixed-size training-window chunking (segment.window_slices): the
    # prep step that turns validated clips into trainer-shaped
    # examples. For raw stateless codecs the whole operator is pure
    # JVM column ops (sequence → posexplode → substring on binary —
    # zero Python, one codegen span; plan pinned in tests/
    # test_segment.py), so the oracle restates it EXACTLY: window
    # boundaries by integer arithmetic and each window's content via
    # peak/DC of the sliced samples (closed-form modular signal).
    # Corpus: pcm_s16le clips on orders keys (k % 43 == 0),
    # n(k) = 600 + k % 997 samples; win=256, hop=192 (25% overlap).
    from canned_yaml_spark import segment
    from canned_yaml_spark import resample as rs
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    keys = (orders.filter(F.col("o_orderkey") % 43 == 0)
                  .select(F.col("o_orderkey").alias("k")))

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            ks = [int(x) for x in pdf["k"]]
            yield pd.DataFrame({
                "clip_id": [f"clip_{k:010d}" for k in ks],
                "codec": ["pcm_s16le"] * len(ks),
                "bytes": [rs.mod_pcm(k, 600 + k % 997).tobytes()
                          for k in ks]})

    corpus = keys.mapInPandas(gen, "clip_id string, codec string, "
                                   "bytes binary")
    w = segment.window_slices(corpus, win=256, hop=192)
    stats = payload.audio_stats(
        w.select(F.concat_ws("#", "clip_id", "win_idx").alias("wid"),
                 F.lit(0).alias("part_id"), "codec", "win_bytes"),
        byte_col="win_bytes", id_col="wid")
    return (w.select("clip_id", "win_idx", "win_start", "win_end",
                     F.concat_ws("#", "clip_id", "win_idx").alias("wid"))
             .join(stats.select(F.col("clip_id").alias("wid"), "peak",
                                "dc_offset"), "wid")
             .select("clip_id", "win_idx", "win_start", "win_end",
                     "peak", F.round("dc_offset", 4).alias("dc_offset")))


def _q_resume_verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SURVEY §2 #25 — checkpoint/resume end to end, simulating a real
    # mid-run crash: run the FULL corpus once, then truncate the
    # manifest to the even partitions (the job died after committing
    # half; the other partitions' verdict rows remain on disk
    # uncommitted, outside the committed view — checkpoint.committed
    # reads each partition's latest manifest commit), then resume. Exact
    # resume must reproduce the from-scratch verdicts — including
    # cross-partition uniqueness rows for pending partitions (job.run
    # rescans the full table for x-unique and filters to pending) —
    # and the oracle states that from-scratch result independently,
    # restating every check family (oracle.sql_resume_verdicts).
    import shutil
    import tempfile

    from canned_yaml_spark import checkpoint as ckpt
    from canned_yaml_spark import job as jobmod
    clips = fixtures.clips_df(spark, 2000)
    ref = fixtures.clips_ref_df(spark, 2000)
    kw = dict(dims={"codec_dim": fixtures.codec_dim_df(spark)},
              clips_ref=ref,
              expected_hist=fixtures.reference_hist_df(spark),
              ks_reference=fixtures.reference_dur_sample())
    out = tempfile.mkdtemp(prefix="resume_gate_")
    try:
        jobmod.run(spark, SPEC, clips, out_dir=out, **kw)
        # the crash: only even partitions' manifest commits survive
        kept = (spark.read.parquet(f"{out}/manifest")
                     .filter(F.col("part_id") % 2 == 0).collect())
        shutil.rmtree(f"{out}/manifest")
        (spark.createDataFrame(kept, ckpt.MANIFEST_SCHEMA)
              .write.parquet(f"{out}/manifest"))
        jobmod.run(spark, SPEC, clips, out_dir=out, **kw)
        verd = (ckpt.committed(spark, out, "verdicts")
                    .select("part_id", "n_rows", "n_violations", "pass"))
        # materialize before the tempdir disappears (64 rows, bounded)
        return spark.createDataFrame(verd.collect(), verd.schema)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def _q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    clips = derive.clips_df(spark, sf_dir)
    dc = _suite(spark, clips).drift_checks[0]
    return (drift.ks_per_partition(clips, dc, fixtures.reference_dur_sample())
            .select("part_id", F.round("ks_stat", 4).alias("ks_stat"), "n"))


def _q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # x-chi2 (categorical drift — completes the drift triad PSI/KS/χ²):
    # Pearson goodness-of-fit of each partition's codec mix vs the
    # spec's expected distribution. Partitions holding an injected
    # unexpected codec ('wav'/'vorbis', derive.py rule_k 2-3) explode
    # through the floor-fraction term (χ² ~1e6 vs ~0.1-3 clean, vs the
    # 11.34 = χ²_{0.01,3} threshold) — the decision margin is ~5 orders
    # of magnitude on both sides. Gate emits the full per-partition
    # report (strictly stronger than the filtered violation rows; the
    # spec→violation wiring is pinned in tests/test_drift.py). Rounded
    # to 2 decimals: the exploded terms are ~1e6, so 1e-2 absolute
    # absorbs both engines' sum-order float noise at 1e-8 relative.
    from canned_yaml_spark.compile import compile_spec as _cs
    clips = derive.clips_df(spark, sf_dir)
    suite = _cs({"type": "object",
                 "x-chi2": {"column": "codec",
                            "expected": {"pcm_s16le": 0.70, "flac": 0.15,
                                         "opus": 0.10, "mp3": 0.05},
                            "chi2_max": 11.34}}, clips.schema)
    cc = suite.cat_drift_checks[0]
    return (drift.chi2_per_partition(clips, cc)
            .select("part_id", F.round("chi2", 2).alias("chi2"),
                    F.col("n_cats").cast("int").alias("n_cats")))


def _q_rule_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Dead-rule / alien-rule detection (runner.rule_coverage): the
    # full-suite violations of the derived corpus aggregated per
    # DECLARED rule. The oracle restates the complete declared
    # inventory (18 row rules incl. the 5 statically-elided type
    # rules, x-unique, x-ref, x-drift.psi/.ks) AND every family's
    # violation counts — row union, uniqueness, referential, the full
    # PSI formula, the full KS stat+p formula — so a rule wrongly
    # dropped from the inventory, a miscounted family, or an alien
    # rule_id all hash-mismatch.
    from canned_yaml_spark import job as jobmod
    from canned_yaml_spark.runner import rule_coverage
    clips = derive.clips_df(spark, sf_dir)
    suite = _suite(spark, clips)
    viol = jobmod.all_violations(
        clips, suite, dims={"codec_dim": derive.codec_dim_df(spark)},
        expected_hist=fixtures.reference_hist_df(spark),
        ks_reference=fixtures.reference_dur_sample())
    return rule_coverage(viol, suite)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "row_violations": _q_row_violations,
        "verdicts": _q_verdicts,
        "duplicate_keys": _q_duplicate_keys,
        "unique_violations": _q_unique_violations,
        "composite_unique": _q_composite_unique,
        "composite_ref": _q_composite_ref,
        "blocklist": _q_blocklist,
        "referential": _q_referential,
        "column_stats": _q_column_stats,
        "drift_psi": _q_drift_psi,
        "w1_drift": _q_w1_drift,
        "snapshot_diff": _q_snapshot_diff,
        "oneof": _q_oneof,
        "anyof": _q_anyof,
        "type_duck": _q_type_duck,
        "minmax_items": _q_minmax_items,
        "items_uniform": _q_items_uniform,
        "items_tuple": _q_items_tuple,
        "ref_chain": _q_ref_chain,
        "duck_boolean": _q_duck_boolean,
        "duck_number": _q_duck_number,
        "type_kinds": _q_type_kinds,
        "type_scalar": _q_type_scalar,
        "salted_codec_counts": _q_salted_codec_counts,
        "codec_median": _q_codec_median,
        "closed_world": _q_closed_world,
        "conditional_rules": _q_conditional_rules,
        "draft07_completion": _q_draft07_completion,
        "draft2020_arrays": _q_draft2020_arrays,
        "draft2020_unevaluated": _q_draft2020_unevaluated,
        "dependent_rules": _q_dependent_rules,
        "pattern_props": _q_pattern_props,
        "format_assert": _q_format_assert,
        "violation_report": _q_violation_report,
        "token_stats": _q_token_stats,
        "repetition_stats": _q_repetition_stats,
        "repetition_rule": _q_repetition_rule,
        "pack_plan": _q_pack_plan,
        "quality_score": _q_quality_score,
        "lang_id": _q_lang_id,
        "fingerprint": _q_fingerprint,
        "exact_dups": _q_exact_dups,
        "near_dup_pairs": _q_near_dup_pairs,
        "near_dup_delta": _q_near_dup_delta,
        "dup_components": _q_dup_components,
        "dedup_kept": _q_dedup_kept,
        "contamination": _q_contamination,
        "split_leak_free": _q_split_leak_free,
        "stratified_sample": _q_stratified_sample,
        "sample_fraction": _q_sample_fraction,
        "budget_sample": _q_budget_sample,
        "cosine_topk": _q_cosine_topk,
        "embedding_near_dups": _q_embedding_near_dups,
        "audio_near_dups": _q_audio_near_dups,
        "audio_near_dup_delta": _q_audio_near_dup_delta,
        "audio_segments": _q_audio_segments,
        "train_windows": _q_train_windows,
        "resample": _q_resample,
        "speed_perturb": _q_speed_perturb,
        "gain_perturb": _q_gain_perturb,
        "mix_noise": _q_mix_noise,
        "normalize_peak": _q_normalize_peak,
        "codec_quantiles": _q_codec_quantiles,
        "quantile_report": _q_quantile_report,
        "quantile_report_bucketed": _q_quantile_report_bucketed,
        "assert_rule": _q_assert_rule,
        "completeness_report": _q_completeness_report,
        "frequency_report": _q_frequency_report,
        "inferred_rules": _q_inferred_rules,
        "anomaly_report": _q_anomaly_report,
        "sessions": _q_sessions,
        "monotonic": _q_monotonic,
        "embedding_rule": _q_embedding_rule,
        "freshness_report": _q_freshness_report,
        "asof_join": _q_asof_join,
        "spectral_stats": _q_spectral_stats,   # rows-only (FFT features)
        "spectral_verdicts": _q_spectral_verdicts,  # oracle: injected truth
        "mel_band": _q_mel_band,                    # oracle: injected truth
        "downmix": _q_downmix,
        "media_meta": _q_media_meta,
        "image_near_dups": _q_image_near_dups,
        "media_rule": _q_media_rule,
        "video_near_dups": _q_video_near_dups,
        "frame_sample": _q_frame_sample,
        "audio_stats": _q_audio_stats,
        "transcript_distance": _q_transcript_distance,
        "wer_report": _q_wer_report,
        "transcript_rule": _q_transcript_rule,
        "transcript_norm_rule": _q_transcript_norm_rule,
        "payload_snr": _q_payload_snr,       # oracle: injected ground truth
        "payload_certified": _q_payload_certified,  # oracle: same set
        "g711_snr": _q_g711_snr,             # oracle: injected ground truth
        "adpcm_snr": _q_adpcm_snr,           # oracle: injected ground truth
        "flac_snr": _q_flac_snr,             # oracle: injected ground truth
        "loudness_rule": _q_loudness_rule,   # oracle: injected ground truth
        "true_peak_rule": _q_true_peak_rule,  # oracle: injected ground truth
        "lra_rule": _q_lra_rule,             # oracle: injected ground truth
        "resume_verdicts": _q_resume_verdicts,  # oracle: full-suite verdicts
        "ks_drift": _q_ks_drift,
        "chi2_drift": _q_chi2_drift,
        "rule_coverage": _q_rule_coverage,
        "simhash_groups": _q_simhash_groups,  # oracle: XXH64 restated in SQL
        "ann_recall": _q_ann_recall,          # rows-only (approx path)
        "ivf_recall": _q_ivf_recall,          # rows-only (approx path)
    }


def oracle_sql() -> dict[str, str]:
    return {
        "row_violations": oracle.sql_row_violations(),
        "verdicts": oracle.sql_verdicts(),
        "duplicate_keys": oracle.sql_duplicate_keys(),
        "unique_violations": oracle.sql_unique_violations(),
        "composite_unique": oracle.sql_composite_unique(),
        "composite_ref": oracle.sql_composite_ref(),
        "blocklist": oracle.sql_blocklist(),
        "referential": oracle.sql_referential_violations(),
        "column_stats": oracle.sql_column_stats(),
        "drift_psi": oracle.sql_drift_psi(),
        "w1_drift": oracle.sql_w1_drift(),
        "snapshot_diff": oracle.sql_snapshot_diff(),
        "chi2_drift": oracle.sql_chi2_drift(),
        "rule_coverage": oracle.sql_rule_coverage(),
        "oneof": oracle.sql_oneof_violations(),
        "anyof": oracle.sql_anyof_violations(),
        "type_duck": oracle.sql_type_duck(),
        "minmax_items": oracle.sql_minmax_items(),
        "items_uniform": oracle.sql_items_uniform(),
        "items_tuple": oracle.sql_items_tuple(),
        "ref_chain": oracle.sql_ref_chain(),
        "duck_boolean": oracle.sql_duck_boolean(),
        "duck_number": oracle.sql_duck_number(),
        "type_kinds": oracle.sql_type_kinds(),
        "type_scalar": oracle.sql_type_scalar(),
        "salted_codec_counts": oracle.sql_salted_codec_counts(),
        "codec_median": oracle.sql_codec_median(),
        "closed_world": oracle.sql_closed_world(),
        "conditional_rules": oracle.sql_conditional_rules(),
        "draft07_completion": oracle.sql_draft07_completion(),
        "draft2020_arrays": oracle.sql_draft2020_arrays(),
        "draft2020_unevaluated": oracle.sql_draft2020_unevaluated(),
        "dependent_rules": oracle.sql_dependent_rules(),
        "pattern_props": oracle.sql_pattern_props(),
        "format_assert": oracle.sql_format_assert(),
        "violation_report": oracle.sql_violation_report(),
        "token_stats": oracle.sql_token_stats(),
        "repetition_stats": oracle.sql_repetition_stats(),
        "repetition_rule": oracle.sql_repetition_rule(),
        "pack_plan": oracle.sql_pack_plan(),
        "quality_score": oracle.sql_quality_score(),
        "lang_id": oracle.sql_lang_id(),
        "fingerprint": oracle.sql_fingerprint(),
        "exact_dups": oracle.sql_exact_dup_groups(),
        "near_dup_pairs": oracle.sql_near_dup_pairs(),
        "near_dup_delta": oracle.sql_near_dup_delta(),
        "dup_components": oracle.sql_dup_components(),
        "dedup_kept": oracle.sql_dedup_kept(),
        "contamination": oracle.sql_contamination(),
        "split_leak_free": oracle.sql_split_leak_free(),
        "stratified_sample": oracle.sql_stratified_sample(),
        "sample_fraction": oracle.sql_sample_fraction(),
        "budget_sample": oracle.sql_budget_sample(),
        "cosine_topk": oracle.sql_cosine_topk(),
        "embedding_near_dups": oracle.sql_embedding_near_dups(),
        "audio_near_dups": oracle.sql_audio_near_dups(),
        "audio_near_dup_delta": oracle.sql_audio_near_dup_delta(),
        "audio_segments": oracle.sql_audio_segments(),
        "train_windows": oracle.sql_train_windows(),
        "resample": oracle.sql_resample(),
        "speed_perturb": oracle.sql_speed_perturb(),
        "gain_perturb": oracle.sql_gain_perturb(),
        "mix_noise": oracle.sql_mix_noise(),
        "normalize_peak": oracle.sql_normalize_peak(),
        "codec_quantiles": oracle.sql_codec_quantiles(),
        "quantile_report": oracle.sql_quantile_report(),
        "quantile_report_bucketed": oracle.sql_quantile_report_bucketed(),
        "assert_rule": oracle.sql_assert_rule(),
        "completeness_report": oracle.sql_completeness_report(),
        "frequency_report": oracle.sql_frequency_report(),
        "inferred_rules": oracle.sql_inferred_rules(),
        "anomaly_report": oracle.sql_anomaly_report(),
        "sessions": oracle.sql_sessions(),
        "monotonic": oracle.sql_monotonic(),
        "embedding_rule": oracle.sql_embedding_rule(),
        "freshness_report": oracle.sql_freshness_report(),
        "asof_join": oracle.sql_asof_join(),
        "downmix": oracle.sql_downmix(),
        "media_meta": oracle.sql_media_meta(),
        "image_near_dups": oracle.sql_image_near_dups(),
        "media_rule": oracle.sql_media_rule(),
        "video_near_dups": oracle.sql_video_near_dups(),
        "frame_sample": oracle.sql_frame_sample(),
        "audio_stats": oracle.sql_audio_stats(),
        "transcript_distance": oracle.sql_transcript_distance(),
        "wer_report": oracle.sql_wer_report(),
        "transcript_rule": oracle.sql_transcript_rule(),
        # DuckDB's own lower/regexp_replace/levenshtein recompute the
        # normalized distances — independent of the engine end to end
        "transcript_norm_rule": oracle.sql_transcript_norm_rule(),
        "ks_drift": oracle.sql_ks_drift(),
        # ground truth by construction over the deterministic fixture
        # corpus (oracle.sql_payload_snr); both payload plans must emit
        # the identical violation set
        "payload_snr": oracle.sql_payload_snr(),
        "payload_certified": oracle.sql_payload_snr(),
        "g711_snr": oracle.sql_g711_snr(),
        "adpcm_snr": oracle.sql_adpcm_snr(),
        "flac_snr": oracle.sql_flac_snr(),
        "loudness_rule": oracle.sql_loudness_rule(),
        "true_peak_rule": oracle.sql_true_peak_rule(),
        "lra_rule": oracle.sql_lra_rule(),
        # crash+resume must reproduce the from-scratch verdicts, which
        # this SQL restates family by family over the fixture corpus
        "resume_verdicts": oracle.sql_resume_verdicts(),
        # XXH64(seed 42) restated in DuckDB SQL → the simhash values
        # themselves are value-checked, not just the group structure
        "simhash_groups": oracle.sql_simhash_groups(),
        # band-limit detector verdict vs injected ground truth
        "spectral_verdicts": oracle.sql_spectral_verdicts(),
        "mel_band": oracle.sql_mel_band(),
    }
