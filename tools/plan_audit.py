"""Physical-plan audit: assert the properties PLANS.md claims, on the
CURRENT code, and regenerate the PLANS.md table.

Usage: python tools/plan_audit.py   (writes PLANS.md, prints one line
per operator; non-zero exit if any assertion fails)
"""
from __future__ import annotations

import os
import re
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from canned_yaml_spark import (  # noqa: E402
    checkpoint, compile_spec, dataset, dedup, derive, drift, fixtures,
    payload, similarity,
)
from canned_yaml_spark import job as jobmod  # noqa: E402
from canned_yaml_spark.runner import row_verdicts, row_violations  # noqa: E402
from canned_yaml_spark.session import get_spark  # noqa: E402


_REPART_PART_ID = re.compile(
    r"Exchange hashpartitioning\(part_id#\d+, \d+\), REPARTITION_BY_COL")


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def main() -> int:
    spark = get_spark("plan_audit", cores=8)
    sf = "/root/testdata/sf0.01"
    clips = derive.clips_df(spark, sf)
    suite = compile_spec("specs/clips.spec.yaml", clips.schema)
    dim = derive.codec_dim_df(spark)
    hist = fixtures.reference_hist_df(spark)
    ks_ref = fixtures.reference_dur_sample()
    bench = fixtures.clips_df(spark, 2000, max_samples=64)
    bench_ref = fixtures.clips_ref_df(spark, 2000, max_samples=64)
    docs = dedup.with_dup_injection(
        spark.read.parquet(f"{sf}/documents.parquet"))
    emb = dedup.with_embedding_dup_injection(
        spark.read.parquet(f"{sf}/embeddings.parquet"))

    rows = []

    def audit(name, df, checks, note):
        p = df if isinstance(df, str) else plan_of(df)
        nex = p.count("Exchange") - p.count("ReusedExchange")
        for label, pred in checks:
            assert pred(p), f"{name}: FAILED {label}\n{p[:4000]}"
        rows.append((name, nex, note))
        print(f"{name:34s} exchanges={nex} OK")

    audit("row_violations (full suite)",
          row_violations(clips, suite),
          [("no exchange", lambda p: "Exchange" not in p),
           ("bytes pruned", lambda p: "bytes" not in p.split("ReadSchema")[-1]
            if "ReadSchema" in p else True)],
          "single FileScan; all checks one codegen span")
    from canned_yaml_spark import derive as _derive
    _fmt_t = _derive.clips_formats_df(spark, sf)
    _fmt_suite = compile_spec(
        {"type": "object", "x-assert-formats": True,
         "properties": {c: {"format": f} for c, f in
                        (("ip4", "ipv4"), ("ip6", "ipv6"),
                         ("uuid_s", "uuid"), ("date_s", "date"),
                         ("time_s", "time"), ("dt_s", "date-time"),
                         ("host_s", "hostname"), ("email_s", "email"),
                         ("uri_s", "uri"), ("ptr_s", "json-pointer"),
                         ("dur_s", "duration"))}}, _fmt_t.schema)
    audit("format assertions (11 formats)",
          row_violations(_fmt_t, _fmt_suite),
          [("no exchange", lambda p: "Exchange" not in p),
           ("no python/arrow", lambda p: "Python" not in p),
           ("scan pruned to o_orderkey",
            lambda p: "struct<o_orderkey:bigint>" in p)],
          "all 11 format predicates (regex + calendar/pct/length "
          "algebra) ride the exchange-free row-suite scan; no UDF")
    _nested_t = _derive.clips_nested_df(spark, sf)
    _u_suite = compile_spec(
        {"type": "object", "properties": {
            "pair": {"anyOf": [{"prefixItems": [{"type": "number"},
                                                {"type": "boolean"}]},
                               {"prefixItems": [{"pattern": "^x"}]}],
                     "unevaluatedItems": {"pattern": "^[a-z ]+$"}},
            "tags": {"contains": {"pattern": "^[a-z]+$"},
                     "minContains": 2, "maxContains": 4},
            "attrs": {"properties": {"a": {}},
                      "if": {"required": ["b"]},
                      "then": {"patternProperties": {"^[bc]$": {}}},
                      "unevaluatedProperties": False}}}, _nested_t.schema)
    audit("2020-12 applicators (unevaluated*)",
          row_violations(_nested_t, _u_suite),
          [("no exchange", lambda p: "Exchange" not in p),
           ("no python/arrow", lambda p: "Python" not in p),
           ("no explode", lambda p: "Generate" not in p
            or "posexplode" not in p)],
          "prefixItems / min-maxContains counts / dynamic-claim "
          "unevaluated* are all HOF expressions (forall, index-aware "
          "filter) riding the same exchange-free nested-corpus scan")
    audit("row_verdicts",
          row_verdicts(clips, suite),
          [("partial+final agg", lambda p: p.count("HashAggregate") >= 2)],
          "partial+final HashAggregate on part_id")
    # the commit's two plans, captured from a real checkpoint.commit
    # over the 2k payload corpus read back from parquet
    tmp = tempfile.mkdtemp(prefix="plan_audit_commit_")
    try:
        bench.write.parquet(f"{tmp}/clips")
        scope = spark.read.parquet(f"{tmp}/clips")
        viol = jobmod.all_violations(
            scope, compile_spec("specs/clips.spec.yaml", scope.schema),
            dims={"codec_dim": fixtures.codec_dim_df(spark)},
            clips_ref=bench_ref, expected_hist=hist, ks_reference=ks_ref)
        written = {}
        real_write = checkpoint.write_partitioned

        def capture(df, path):
            written[os.path.basename(path)] = plan_of(df)
            real_write(df, path)

        checkpoint.write_partitioned = capture
        try:
            checkpoint.commit(spark, scope, viol, tmp, "plan_audit")
        finally:
            checkpoint.write_partitioned = real_write
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    audit("commit: violations write", written["violations"],
          [("one repartition exchange, on part_id",
            lambda p: p.count("REPARTITION_BY_COL") == 1
            and _REPART_PART_ID.search(p) is not None),
           ("above the union", lambda p: _REPART_PART_ID.search(p).start()
            < p.index("Union"))],
          "the families' union executes once, hash-repartitioned by "
          "part_id: each partition's rows in one file of the run")
    audit("commit: verdict derivation", written["verdicts"],
          [("scans this run's written violations",
            lambda p: "/violations/run_id=plan_audit]" in p),
           ("no family operator", lambda p: "Union" not in p
            and "Generate" not in p and "Python" not in p
            and "MapInPandas" not in p)],
          "verdicts aggregate the violations read back from disk plus a "
          "part_id count of the scope — no check family re-executes")
    audit("referential (x-ref, inline-IN)",
          dataset.referential_violations(clips, dim, suite.ref_checks[0]),
          [("no join node at all", lambda p: "Join" not in p),
           ("IN predicate in scan stage", lambda p: " IN (" in p)],
          "small dim compiled into the scan predicate — no join, no "
          "broadcast build; pushable to row-group pruning")
    audit("referential (x-ref, big-dim anti-join)",
          dataset.referential_violations(clips, dim, suite.ref_checks[0],
                                         max_inline_keys=0),
          [("broadcast anti", lambda p: "BroadcastHashJoin" in p
            and "LeftAnti" in p)],
          "fact side never shuffles; dim broadcast")
    audit("unique_violations (x-unique)",
          dataset.unique_violations(clips, suite.unique_checks[0]),
          [("agg then broadcast-back", lambda p: "BroadcastHashJoin" in p)],
          "hash agg on key; defect-sized dup set broadcast back")
    from canned_yaml_spark.checks import RefCheck, UniqueCheck
    audit("composite uniqueness (x-unique-together)",
          dataset.unique_violations(
              clips, UniqueCheck(rule_id="x-unique.(clip_id,codec)",
                                 column=("clip_id", "codec"))),
          [("agg then broadcast-back", lambda p: "BroadcastHashJoin" in p)],
          "tuple groupBy — still ONE shuffle; dup set broadcast back")
    audit("composite referential (x-ref-together)",
          dataset.referential_violations(
              clips, dim.withColumnRenamed("codec", "d_codec")
                        .withColumn("d_sr", F.lit(48000)),
              RefCheck(rule_id="x-ref.(codec,sr_hz)",
                       column=("codec", "sr_hz"), table="caps",
                       key=("d_codec", "d_sr"))),
          [("broadcast anti", lambda p: "BroadcastHashJoin" in p
            and "LeftAnti" in p)],
          "fact side never shuffles; composite key tuple broadcast")
    audit("x-absent blocklist (semi-join posture)",
          dataset.absent_violations(
              clips, dim.select(F.col("codec").alias("bad")),
              RefCheck(rule_id="x-absent.codec", column="codec",
                       table="blocklist", key="bad"),
              max_inline_keys=0),
          [("broadcast semi", lambda p: "BroadcastHashJoin" in p
            and "LeftSemi" in p)],
          "blocklist broadcast; fact side never shuffles")
    from canned_yaml_spark.checks import MonotonicCheck
    from canned_yaml_spark import events as _events
    audit("x-monotonic (ordering invariant)",
          _events.monotonic_violations(
              clips.withColumn("seq", F.monotonically_increasing_id()),
              MonotonicCheck(rule_id="x-monotonic.dur_ms",
                             column="dur_ms", partition_by="part_id",
                             order_by="seq"), id_col="clip_id"),
          [("one exchange", lambda p: p.count("Exchange")
            - p.count("ReusedExchange") == 1),
           ("window", lambda p: "Window" in p)],
          "ONE shuffle on the group key + per-group lag window")
    from canned_yaml_spark import pack as _pack
    audit("token-packing plan (distributed prefix sum)",
          _pack.pack_offsets(
              clips.select(F.col("clip_id"), F.col("dur_ms"))
                   .withColumn("doc_id", F.monotonically_increasing_id())
                   .select("doc_id", F.col("dur_ms").alias("n_tokens")),
              budget=4096, group_span=64),
          [("no table-sized single-partition window",
            # the only SinglePartition exchange feeds the groups-frame
            # cumsum (G rows); the table-sized side shuffles by _g
            lambda p: p.count("SinglePartition") <= 1),
           ("two windows (tiny cumsum + per-group)",
            lambda p: p.count("Window") >= 2)],
          "global prefix sum without the one-reducer window: group "
          "subtotals -> G-row cumsum -> broadcast bases")
    audit("grouped_exact_median",
          dataset.grouped_exact_median(clips, "codec", "dur_ms"),
          [("value-redistributed agg first",
            lambda p: p.count("HashAggregate") >= 2),
           ("window on tiny hist", lambda p: "Window" in p)],
          "redistribute-by-(key,value); hot key never funnels")
    audit("drift PSI",
          drift.psi_per_partition(clips, suite.drift_checks[0], hist),
          [("no cartesian grid", lambda p: "CartesianProduct" not in p),
           ("single big-data agg", lambda p:
            p.count("HashAggregate") >= 2)],
          "one big-data agg; HOF fold over bucket maps; the only "
          "no-condition join broadcasts the ONE-ROW expected map")
    from canned_yaml_spark.checks import CatDriftCheck
    audit("drift chi2 (x-chi2 categorical)",
          drift.chi2_per_partition(clips, CatDriftCheck(
              rule_id="x-chi2.codec", column="codec",
              expected=(("pcm_s16le", .7), ("flac", .15), ("opus", .1),
                        ("mp3", .05)))),
          [("no cartesian grid", lambda p: "CartesianProduct" not in p),
           ("no join at all", lambda p: "Join" not in p),
           ("single big-data agg chain", lambda p:
            p.count("HashAggregate") >= 2)],
          "one hash agg on (part, category); expected dist is a "
          "literal map in the fold — no second input at all")
    audit("drift KS (weighted)",
          drift.ks_per_partition(clips, suite.drift_checks[0], ks_ref),
          [("pre-agg before python", lambda p:
            p.index("HashAggregate") > p.index("FlatMapGroupsInPandas")
            if "FlatMapGroupsInPandas" in p else False)],
          "counts by (part, value) shuffle; python sees the histogram")
    # payload checks need the bytes column — compile against the
    # bench fixture's schema (the derived corpus is metadata-only)
    bsuite = compile_spec("specs/clips.spec.yaml", bench.schema)
    audit("payload SNR (decode branch)",
          payload.payload_violations(bench, bench_ref,
                                     bsuite.payload_checks[0]),
          [("no sort-merge", lambda p: "SortMergeJoin" not in p),
           ("JVM prefilter before Arrow", lambda p: "Filter" in p)],
          "SHUFFLE_HASH; fast-path rows filtered before Arrow; "
          "transcript branch pure JVM over pruned scan")
    # the certified entry reads a PARQUET copy so the assertion below
    # checks real scan-level column pruning (an in-memory MapInPandas
    # fixture always lists every output column, prunable or not)
    cert_dir = tempfile.mkdtemp(prefix="plan_audit_cert_")
    fixtures.clips_ref_df(spark, 2000, max_samples=64, certified=True) \
        .write.mode("overwrite").parquet(f"{cert_dir}/ref.parquet")
    bench_ref_c = spark.read.parquet(f"{cert_dir}/ref.parquet")
    audit("payload SNR (certified ingest)",
          payload.payload_violations(bench, bench_ref_c,
                                     bsuite.payload_checks[0]),
          [("no sort-merge", lambda p: "SortMergeJoin" not in p),
           ("ingest certificate in first join",
            lambda p: "enc_hash" in p and "enc_len" in p),
           ("residual fetch moves compressed pcm_z; raw pcm_ref "
            "pruned from every scan",
            lambda p: "pcm_z" in p and not any(
                "pcm_ref" in seg.split(">")[0]
                for seg in p.split("ReadSchema: struct<")[1:]))],
          "join 1 carries the (codec_ref, enc_hash, enc_len) ingest "
          "certificate — every unchanged payload of ANY codec "
          "fast-passes; join 2 fetches zlib pcm_z for the damaged "
          "residual only; raw pcm_ref never scanned")
    # clip_id-bucketed copies, two files per bucket (a chunk-appended
    # layout): the joins must not shuffle or sort over them
    bench_b = fixtures.bucketed_table(spark, bench, "bench_b",
                                      f"{cert_dir}/bench_b", 2)
    audit("payload SNR (bucketed by clip_id)",
          payload.payload_violations(
              bench_b,
              fixtures.bucketed_table(spark, bench_ref_c, "bench_ref_b",
                                      f"{cert_dir}/bench_ref_b", 2),
              bsuite.payload_checks[0]),
          [("zero exchanges", lambda p: "Exchange" not in p),
           ("hash join, no sort", lambda p: "ShuffledHashJoin" in p
            and "SortMergeJoin" not in p and "Sort [" not in p)],
          "shuffle-hash joins need only the bucket distribution — "
          "exchange-free, no per-task sort of payload rows")
    audit("unique_violations (bucketed on the key)",
          dataset.unique_violations(bench_b, bsuite.unique_checks[0]),
          [("zero exchanges", lambda p: "Exchange" not in p)],
          "the dup aggregate inherits the key's bucketing and joins back "
          "co-partitioned — no shuffle, no broadcast round-trip")
    audit("audio quality stats (x-audio-stats)",
          payload.audio_stats_violations(bench, bsuite.audio_checks[0]),
          [("zero exchanges", lambda p: "Exchange" not in p),
           # the fixture corpus is itself MapInPandas-generated; the
           # operator must add exactly ONE Arrow node of its own
           ("one Arrow pass", lambda p: p.count("MapInPandas run(") == 1),
           ("no join", lambda p: "Join" not in p)],
          "scan → JVM codec prefilter → ONE mapInPandas → threshold "
          "filter; no reference table, embarrassingly parallel")
    audit("transcript distance",
          payload.transcript_distance(
              bench,
              bench.select("clip_id", F.concat(
                  "transcript", F.lit(" x")).alias("transcript_ref"))),
          # the fixture corpus is MapInPandas-generated; the OPERATOR
          # must add no Python node of its own
          [("operator adds no Python node",
            lambda p: p.count("MapInPandas")
            == p.count("MapInPandas gen(") and "EvalPython" not in p),
           ("levenshtein is a plan expression",
            lambda p: "levenshtein" in p),
           ("single equi-join", lambda p: p.count("Join") == 1)],
          "levenshtein is a codegen expression over the pruned "
          "3-column transcript join — same shape as the equality branch")
    from canned_yaml_spark import segment
    audit("audio segmentation (silence-split)",
          segment.segments(segment.seg_corpus_df(
              spark, spark.range(200).select(F.col("id").alias("k")))),
          [("zero exchanges", lambda p: "Exchange" not in p),
           ("one Arrow pass of its own",
            lambda p: p.count("MapInPandas run(") == 1),
           ("no join", lambda p: "Join" not in p)],
          "scan -> ONE mapInPandas (O(n) mask/diff run detection) -> "
          "segment rows; no reference table, embarrassingly parallel")
    from canned_yaml_spark import resample as _rsmod
    audit("resample (sr conversion)",
          _rsmod.resample(_rsmod.mod_corpus_df(
              spark, spark.range(200).select(F.col("id").alias("k"))),
              12000),
          [("zero exchanges", lambda p: "Exchange" not in p),
           ("one Arrow pass of its own",
            lambda p: p.count("MapInPandas run(") == 1),
           ("no join", lambda p: "Join" not in p)],
          "scan -> ONE mapInPandas ((n, sr)-grouped matrix gathers, "
          "exact-int interpolation numerators) -> resampled bytes; "
          "embarrassingly parallel")
    from canned_yaml_spark import multimodal as _mm
    _wavs = spark.createDataFrame(
        [(f"c{k}", bytearray(_mm.encode_wav(k, 64, 16000, 2)))
         for k in range(64)], "clip_id string, bytes binary")
    audit("channel downmix",
          _rsmod.downmix_mono(_wavs),
          [("zero exchanges", lambda p: "Exchange" not in p),
           ("one Arrow pass of its own",
            lambda p: p.count("MapInPandas run(") == 1),
           ("no join", lambda p: "Join" not in p)],
          "scan -> ONE mapInPandas ((n, ch)-grouped exact floor-mean) "
          "-> mono bytes; embarrassingly parallel")
    from canned_yaml_spark import audiofp
    audit("spectral stats",
          audiofp.spectral_stats(
              audiofp.chirp_corpus_df(spark, 200)
              .withColumn("sr_hz", F.lit(8000))),
          [("zero exchanges", lambda p: "Exchange" not in p),
           ("one Arrow pass of its own",
            lambda p: p.count("MapInPandas run(") == 1),
           ("no join", lambda p: "Join" not in p)],
          "scan -> ONE mapInPandas (batched FFT per length group, "
          "frame-pooled power) -> feature row; embarrassingly parallel")
    # at-scale shape (auto-broadcast off: on the tiny audit corpus
    # Catalyst rightly broadcasts the b-side, which hides the reuse
    # property that matters when both sides are big)
    _saved_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        _nd = audiofp.near_dup_audio(audiofp.chirp_corpus_df(spark, 400))
        _nd.collect()        # finalize THIS plan's AQE — reuse shows
        #                      post-execution (count() would execute a
        #                      different QueryExecution)
        # executed AQE plans print Final + Initial sections — assert on
        # the final one only
        _fin = (lambda p: p.split("== Initial Plan ==")[0])
        audit("audio near-dup (fingerprint LSH)",
              _nd,
              [("single self-join (fp carried, no verify joins)",
                lambda p: _fin(p).count("SortMergeJoin")
                + _fin(p).count("ShuffledHashJoin")
                + _fin(p).count("BroadcastHashJoin") == 1),
               ("ONE fingerprint Arrow pass (b-side reuses the "
                "exploded exchange, it doesn't recompute)",
                lambda p: _fin(p).count("MapInPandas run(") == 1),
               ("verify is JVM-only", lambda p: "EvalPython" not in _fin(p))],
              "one Arrow fingerprint pass -> (frame_idx, subfp) shuffle "
              "with bucket cap -> BER verify as zip_with/bit_count "
              "codegen over the carried fp arrays; payload bytes never "
              "shuffle")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _saved_bc)
    audit("minhash signatures",
          dedup.minhash_signatures(docs),
          [("partial agg below the exchange", lambda p:
            "partial_min" in p
            and p.rindex("HashAggregate") > p.index("Exchange"))],
          "map-side partial min per slot; shuffle = docs x K longs")
    audit("near_dup_pairs",
          dedup.near_dup_pairs(docs),
          [("no cartesian", lambda p: "CartesianProduct" not in p)],
          "band self-join + sig-estimate prefilter + exact verify")
    audit("embedding_near_dups_lsh",
          dedup.embedding_near_dups_lsh(emb, 0.95),
          [("no cartesian", lambda p: "CartesianProduct" not in p)],
          "L sign-bit tables; one (tbl,bucket) shuffle; exact verify")
    q = (emb.filter(F.col("vec_id") < 5)
            .select(F.col("vec_id").alias("q_id"),
                    F.col("embedding").alias("q_vec")))
    audit("cosine top-k",
          similarity.cosine_topk(emb, q, 10),
          [("query set broadcast", lambda p: "Broadcast" in p)],
          "small query side broadcast; window top-k cut")

    # round-5 rule-vocabulary extensions
    xsuite = compile_spec(
        {"type": "object",
         "x-assert": {"id": "rate", "expr": "length(transcript) <= dur_ms"},
         "x-completeness": [{"column": "transcript", "max_null_frac": 0.01},
                            {"column": "codec"}],
         "x-frequency": {"column": "codec", "max_share": 0.68},
         "x-anomaly": {"column": "dur_ms"}}, clips.schema)
    audit("x-assert (cross-field row rule)",
          row_violations(clips, xsuite),
          [("no exchange", lambda p: "Exchange" not in p),
           ("no join", lambda p: "Join" not in p)],
          "joins the single-scan violation array — zero plan cost "
          "beyond its own arithmetic")
    audit("x-completeness (both budgets)",
          dataset.partition_completeness(clips, xsuite.completeness_checks),
          [("ONE aggregate for all budgets",
            lambda p: p.count("Exchange") == 1),
           ("single scan", lambda p: p.count("Scan parquet") == 1)],
          "every null budget folds into one hash agg; shuffle = one "
          "row per partition")
    audit("x-frequency (share + distinct)",
          dataset.partition_frequency(clips, xsuite.frequency_checks[0]),
          [("two algebraic aggs", lambda p: p.count("Exchange") == 2),
           ("single scan", lambda p: p.count("Scan parquet") == 1),
           ("no window", lambda p: "Window" not in p)],
          "stage-2 input ≤ parts × cardinality after map-side combine")
    audit("x-anomaly (robust partition outliers)",
          dataset.partition_anomaly(clips, xsuite.anomaly_checks[0]),
          [("SINGLE table scan (window form, not scalar subqueries)",
            lambda p: p.count("Scan parquet") == 1),
           ("median/MAD windows over the tiny means frame",
            lambda p: "Window" in p)],
          "one algebraic agg at table scale; median/MAD see one row "
          "per partition")
    from canned_yaml_spark import infer as _infer
    _prof_aggs = [F.count(F.lit(1)).alias("_n")]
    audit("spec-inference pass 1",
          clips.agg(*(_prof_aggs
                      + [F.sum(F.col(c).isNull().cast("long"))
                          .alias(f"nn_{c}") for c in clips.columns]
                      + [F.approx_count_distinct(c).alias(f"ad_{c}")
                         for c in clips.columns])),
          [("single scan", lambda p: p.count("Scan parquet") == 1),
           ("all-algebraic (partial+final, no expand)",
            lambda p: "Expand" not in p)],
          "one-row profile; HLL + sums partial-combine map-side")

    from canned_yaml_spark import sampling as _sampling
    sdocs = (docs.withColumn("stratum", (F.col("doc_id") % 7).cast("int"))
                 .withColumn("w", F.length("text").cast("long")))
    import re as _re
    audit("stratified_sample (two-phase)",
          _sampling.stratified_sample(sdocs, "stratum", 40, "doc_id"),
          [("two windows (salted local + survivors)",
            lambda p: p.count("windowspecdefinition") == 2),
           ("phase 1 partitioned by salt too",
            lambda p: "_salt" in p),
           ("Spark 4 adds partial map-side top-k on both",
            lambda p: p.count("WindowGroupLimit") >= 2)],
          "stage-2 input ≤ strata×salts×k rows; PLUS Spark 4's "
          "WindowGroupLimit bounds each shuffle to k per map partition")
    audit("sample_fraction",
          _sampling.sample_fraction(sdocs, 0.25, "doc_id"),
          [("zero exchanges", lambda p: "Exchange" not in p)],
          "pure scan-side hash-prefix filter; partitioning-invariant")
    audit("budget_sample (boundary bucket)",
          _sampling.budget_sample(sdocs, "stratum", 20_000, "w", "doc_id"),
          [("bucket frame broadcast back",
            lambda p: "BroadcastHashJoin" in p),
           ("row window partitioned by (stratum,_b) — never a whole "
            "stratum",
            lambda p: _re.search(
                r"windowspecdefinition\(stratum#\d+, _b#\d+", p))],
          "per-bucket agg → tiny cum frame; row sort only in the one "
          "edge bucket per stratum")
    probes = docs.filter(F.col("doc_id") % 50 == 0)
    audit("contamination_report",
          dedup.contamination_report(docs, probes),
          [("probe set broadcast", lambda p: "BroadcastHashJoin" in p),
           ("no sort-merge", lambda p: "SortMergeJoin" not in p)],
          "corpus side never shuffles; re-agg carries hit rows only")
    _pairs_cc = dedup.near_dup_pairs(docs).localCheckpoint(eager=False)
    audit("split_leak_free (final join)",
          dedup.split_leak_free(docs, _pairs_cc),
          [("component map broadcast",
            lambda p: "BroadcastHashJoin" in p)],
          "components ride the O(#dup) pair frame (star rounds are "
          "id-pair shuffles); corpus sees ONE broadcast left join")

    audit("train windows (raw codecs, JVM)",
          segment.window_slices(
              bench.filter(F.col("codec") == "pcm_s16le"), 256, 192),
          [("zero exchanges", lambda p: "Exchange" not in p),
           ("operator adds NO Python node",
            lambda p: p.count("MapInPandas")
            == p.count("MapInPandas gen(") and "EvalPython" not in p)],
          "sequence → posexplode → substring(binary): window EXTRACTION "
          "(not just bounds) in one codegen span for stateless codecs")
    from canned_yaml_spark.checks import TranscriptCheck
    audit("x-transcript (max_dist branch)",
          payload.transcript_violations(
              bench,
              bench.select("clip_id", F.concat(
                  "transcript", F.lit(" x")).alias("transcript_ref")),
              TranscriptCheck(rule_id="x-transcript.transcript",
                              column="transcript", max_dist=3)),
          [("operator adds no Python node",
            lambda p: p.count("MapInPandas")
            == p.count("MapInPandas gen(") and "EvalPython" not in p),
           ("single equi-join", lambda p: p.count("Join") == 1)],
          "char-distance bound is pure codegen over the pruned "
          "3-column join; the WER branch adds ONE Arrow node and only "
          "sees rows not byte-equal to their reference")
    audit("WER (word error rate)",
          payload.wer(bench, bench.select(
              "clip_id", F.col("transcript").alias("transcript_ref"))),
          [("one Arrow pass of its own",
            lambda p: p.count("MapInPandas run(") == 1),
           ("single equi-join", lambda p: p.count("Join") == 1)],
          "word-level DP crosses into Python by necessity (no JVM "
          "word alignment); join shape identical to transcript branch")
    from canned_yaml_spark import augment
    audit("speed/gain perturb (augment)",
          augment.speed_perturb(bench, 10, 9),
          [("zero exchanges", lambda p: "Exchange" not in p),
           ("one Arrow pass of its own",
            lambda p: p.count("MapInPandas run(") == 1),
           ("no join", lambda p: "Join" not in p)],
          "resample shape: scan → ONE mapInPandas, embarrassingly "
          "parallel (gain_perturb has the identical plan)")
    audit("mix_noise (bank broadcast)",
          augment.mix_noise(
              augment.assign_noise(bench, 4),
              spark.createDataFrame(
                  [(i, bytearray(b"\x01\x00")) for i in range(4)],
                  "noise_id int, bytes binary"), 3, 1, 4),
          [("bank broadcasts", lambda p: "BroadcastHashJoin" in p),
           ("corpus never shuffles",
            lambda p: "ShuffleExchange" not in p
            and "Exchange hashpartitioning" not in p),
           ("one Arrow pass of its own",
            lambda p: p.count("MapInPandas run(") == 1)],
          "noise bank is small by construction → broadcast join; the "
          "corpus-side plan stays scan → join → ONE mapInPandas")

    from canned_yaml_spark import multimodal
    _img_rows = [("i%03d" % i, bytearray(multimodal.encode_bmp(
        i, 16, 16, pixels=multimodal.mix_pixel(
            i, __import__("numpy").arange(768)).astype("uint8"))))
        for i in range(32)]
    audit("image near-dup (dHash band LSH)",
          multimodal.image_near_dups(spark.createDataFrame(
              _img_rows, "media_id string, media binary")),
          [("hash pass is the only Python",
            lambda p: p.count("MapInPandas run(") == p.count("MapInPandas")
            and "EvalPython" not in p),
           ("JVM hamming verify", lambda p: "bit_count" in p)],
          "pigeonhole band cover (no false negatives); the join moves "
          "8-byte hashes, payload bytes never shuffle")
    _np = __import__("numpy")
    _vid_rows = [("v%03d" % i, bytearray(multimodal.encode_y4m(
        i, 4, 16, 16, payload=multimodal.mix_pixel(
            i, _np.arange(4 * 384)).astype("uint8"))))
        for i in range(16)]
    audit("video near-dup (frame dHash)",
          multimodal.video_near_dups(spark.createDataFrame(
              _vid_rows, "media_id string, media binary")),
          [("hash pass is the only Python",
            lambda p: p.count("MapInPandas run(") == p.count("MapInPandas")
            and "EvalPython" not in p),
           ("array verify is JVM",
            lambda p: "bit_count" in p and "forall" in p.lower())],
          "frame-0 band probe is lossless; verify folds the carried "
          "fp arrays in codegen — per-frame hashes shuffle, frames never")

    md = ["# Physical-plan audit", "",
          "Asserted on the executed plan by `python tools/plan_audit.py`",
          f"(re-run any time; last run {time.strftime('%Y-%m-%d %H:%M')},"
          " sf0.01 derived corpus + 2k payload corpus).",
          "`exchanges` counts Exchange minus ReusedExchange.", "",
          "| operator | exchanges | property asserted |",
          "|---|---|---|"]
    for name, nex, note in rows:
        md.append(f"| {name} | {nex} | {note} |")
    md += ["", "Notes for 100 TB:", "",
           "- The row suite being exchange-free means validation "
           "throughput is pure scan bandwidth × codegen.",
           "- PSI/KS exchanges all sit on post-aggregation data "
           "(≤ parts×buckets / parts×|values| rows).",
           "- The payload join is the one data-heavy shuffle; with both "
           "tables bucketed by clip_id the exchange disappears entirely "
           "(the bucketed payload row above: Exchange count 0).",
           "- Shuffle spill location dominates local-mode throughput: "
           "/tmp (cloud disk) serialized shuffle I/O — payload family "
           "83 s → 18.5 s at 8 cores on tmpfs. session.py defaults "
           "spark.local.dir to /dev/shm.",
           "- Interpreted HOF lambdas re-evaluate captured subtrees per "
           "element; materialize expensive subtrees (normalization) "
           "before lambda capture, keep set-op element types atomic "
           "(BENCH/LSH.md measurements).",
           ]
    with open(os.path.join(REPO, "PLANS.md"), "w") as fh:
        fh.write("\n".join(md) + "\n")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
