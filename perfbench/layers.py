"""Per-layer metrics of the traced run, named after the package modules.

Measured from outside the package: the job.run spans (spans.py), noop-
sink timings of each check family's public function, driver-side
``audio.decode`` / ``audio.batch_stats`` microtimings over the corpus's
own payloads, the out_dir listing, the JVM's /proc status and Spark's
own event log.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import inputs
import spans

#: decode microtimings repeat over the payloads; the median is reported
DECODE_REPEATS = 3
#: codecs of the fixture corpus (fixtures._base_fields)
CORPUS_CODECS = ("pcm_s16le", "flac", "opus", "mp3")


def unit_of(name: str) -> str:
    if name.endswith("clips_per_s"):
        return "clips/s"
    if name.endswith("_us_per_clip") or "_us_per_clip." in name:
        return "us"
    if name.endswith("_s") or "_s." in name:
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_written"):
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", "_coverage", "_over_all_violations")):
        return "ratio"
    return "count"


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid               # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM in /proc status")


def _decode_timings(rows, clip_thresh: int, silence_thresh: int) -> dict:
    from canned_yaml_spark import audio

    by_codec: dict[str, list[bytes]] = {}
    for data, codec in rows:
        if data is not None and audio.has_decoder(codec):
            by_codec.setdefault(codec, []).append(bytes(data))
    out, decs = {}, []
    for codec in CORPUS_CODECS:
        payloads = by_codec[codec]
        runs = []
        for _ in range(DECODE_REPEATS):
            t = time.perf_counter()
            decoded = [audio.decode(p, codec) for p in payloads]
            runs.append(time.perf_counter() - t)
        decs += decoded
        out[f"audio.decode_us_per_clip.{codec}"] = (
            statistics.median(runs) / len(payloads) * 1e6)
    runs = []
    for _ in range(DECODE_REPEATS):
        t = time.perf_counter()
        audio.batch_stats(decs, clip_thresh, silence_thresh)
        runs.append(time.perf_counter() - t)
    out["audio.batch_stats_us_per_clip"] = (
        statistics.median(runs) / len(decs) * 1e6)
    return out


def measure(spark, wl, kw: dict, suite, tracer: spans.Tracer,
            out_files: dict[str, int], session_s: float, compile_s: float,
            clips_per_s: float) -> dict:
    """Metrics measured in the traced process after its job.run."""
    from canned_yaml_spark import dataset, drift, job, payload, runner
    from canned_yaml_spark.compile import compile_spec

    m = {"session.get_spark_s": session_s,
         "compile.compile_spec_s": compile_s,
         "job.traced_clips_per_s": clips_per_s,
         "spark.jvm_peak_rss_mb": _jvm_peak_rss_mb()}

    clips = kw["clips"]
    pclips, pref = wl.payload_tables(spark)
    psuite = compile_spec(inputs.SPEC, pclips.schema)
    dc = suite.drift_checks[0]
    families = {
        "runner.row_violations_s":
            lambda: runner.row_violations(clips, suite),
        "dataset.unique_violations_s":
            lambda: dataset.unique_violations(clips, suite.unique_checks[0]),
        "dataset.referential_violations_s":
            lambda: dataset.referential_violations(
                clips, kw["dims"]["codec_dim"], suite.ref_checks[0]),
        "dataset.column_stats_s":
            lambda: dataset.column_stats(clips, ["sr_hz", "dur_ms"]),
        "drift.psi_violations_s":
            lambda: drift.psi_violations(clips, dc, kw["expected_hist"]),
        "drift.ks_violations_s":
            lambda: drift.ks_violations(clips, dc, kw["ks_reference"]),
        "payload.payload_violations_s":
            lambda: payload.payload_violations(
                pclips, pref, psuite.payload_checks[0]),
        "payload.audio_stats_violations_s":
            lambda: payload.audio_stats_violations(
                pclips, psuite.audio_checks[0]),
        "job.all_violations_s":
            lambda: job.all_violations(suite=suite, **kw),
    }
    for name, build in families.items():
        with tracer.span("isolated." + name) as s:
            _noop(build())
        m[name] = s["end"] - s["start"]

    ac = psuite.audio_checks[0]
    rows = pclips.select("bytes", "codec").collect()
    m.update(_decode_timings(rows, ac.clip_thresh, ac.silence_thresh))
    m["payload.rows_checked"] = len(rows)

    run_span = next(s for s in tracer.spans if s["name"] == "job.run")
    run_s = run_span["end"] - run_span["start"]
    kids = tracer.children(run_span)
    m["job.run_s"] = run_s
    m["job.run_over_all_violations"] = run_s / m["job.all_violations_s"]
    m["job.span_coverage"] = sum(s["end"] - s["start"] for s in kids) / run_s
    named = {"job.all_violations": "job.plan_s",
             "verdict_read": "job.verdict_read_s"}
    for s in kids:
        if s["name"] in named:
            m[named[s["name"]]] = s["end"] - s["start"]
        elif s["name"].startswith("checkpoint."):
            key = s["name"].replace("checkpoint.write_partitioned.",
                                    "checkpoint.write_partitioned_s.")
            if not key.startswith("checkpoint.write_partitioned_s."):
                key += "_s"
            m[key] = m.get(key, 0.0) + s["end"] - s["start"]
    m["checkpoint.bytes_written"] = sum(out_files.values())
    m["checkpoint.files_written"] = len(out_files)
    m["runner.violation_rows"] = _row_violation_rows(spark, wl)
    return m


def _row_violation_rows(spark, wl) -> int:
    """Rows the row suite wrote: every rule id outside the dataset-level
    x-* families."""
    from pyspark.sql import functions as F

    viol = spark.read.parquet(os.path.join(wl.out_dir, "violations"))
    return viol.filter(~F.col("rule_id").startswith("x-")).count()


def from_event_log(log_dir: str, tracer: spans.Tracer, m: dict,
                   trace_path: str, t0: float, membw: dict) -> dict:
    """Event-log metrics of job.run and the isolated payload family;
    writes the span JSON and per-span stage summary to `trace_path`."""
    log = spans.EventLog(log_dir)
    run_span = next(s for s in tracer.spans if s["name"] == "job.run")
    run_groups = tracer.subtree_groups(run_span)
    total = log.summary(run_groups)
    out = {"job.spark_jobs": total["jobs"],
           "job.spark_stages": total["stages"]}
    for key in ("executor_run_s", "executor_cpu_s", "jvm_gc_s",
                "input_bytes", "shuffle_write_bytes", "shuffle_read_bytes",
                "peak_execution_memory_bytes"):
        out[f"spark.{key}"] = total[key]

    pay = next(s for s in tracer.spans
               if s["name"] == "isolated.payload.payload_violations_s")
    nodes = log.python_nodes({pay["group"]})
    arrow_rows = sum(n["rows_in"] for n in nodes)
    out["payload.arrow_rows"] = arrow_rows
    out["payload.arrow_bytes"] = sum(n["bytes_sent"] for n in nodes)
    out["payload.python_run_s"] = sum(n["python_run_ms"]
                                      for n in nodes) / 1e3
    out["payload.residual_frac"] = arrow_rows / m.pop("payload.rows_checked")

    report = {
        "membw": membw,
        "spans": tracer.export(t0),
        "span_summary": {f"{s['id']}:{s['name']}": log.summary({s["group"]})
                         for s in tracer.spans},
        "job_run_total": total,
        "job_run_stages": log.stage_table(run_groups),
        "payload_python_nodes": nodes,
        "metrics": {**m, **out},
    }
    os.makedirs(os.path.dirname(trace_path), exist_ok=True)
    with open(trace_path, "w") as f:
        json.dump(report, f, indent=1)
    return out
