"""Benchmark of the production validation path, ``job.run`` with an
``out_dir`` (what ``cli.main`` calls), over seeded fixture inputs.

    python3 perfbench/run.py --workload full_validate --seed 1 \
        --seconds 10 --trace 0

Workloads (perfbench/README.md says why each exists):

- ``full_validate``: a fresh out_dir over the payload corpus;
- ``metadata_only``: metadata rows with no payload column and no
  reference table.

One run starts a session, reads the inputs and compiles the spec (the
set-up), then times one ``job.run``: the first in its JVM, as in every
``cli.main`` invocation. Its output is checked against the fixture
golden plan; a run that raises or mismatches counts as failed. The last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and the metrics — the end-to-end ones with
``--trace 0``, the per-layer ones with ``--trace 1``, which also
enables the Spark event log, wraps the timed job.run's calls in spans
(perfbench/spans.py) and writes spans plus a per-span stage summary
under ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402

SETUP_REPEATS = 3
UNITS = {"clips_per_s": "clips/s", "setup_s": "s",
         "out_bytes_per_clip": "B/clip"}


class Workload:
    """Inputs of one (workload, seed) and the check on its output."""

    def __init__(self, name: str, seed: int):
        self.name = name
        self.kind = "metadata" if name == "metadata_only" else "payload"
        w = inputs.window(seed)
        self.start, self.n_rows = inputs.window_range(self.kind, w)
        self.dir = inputs.window_dir(self.kind, w)
        self.payload_dir = inputs.window_dir("payload", w)
        self.out_dir = os.path.join(inputs.WORK, "out", name)

    def load(self, spark) -> dict:
        """Read the pre-built tables: job.run's keyword arguments."""
        from canned_yaml_spark import fixtures

        d = self.dir
        kw = {"dims": {"codec_dim": fixtures.codec_dim_df(spark)},
              "expected_hist": fixtures.reference_hist_df(spark),
              "ks_reference": fixtures.reference_dur_sample(),
              "clips": spark.read.parquet(os.path.join(d, "clips"))}
        if self.kind == "payload":
            kw["clips_ref"] = spark.read.parquet(os.path.join(d, "ref"))
        return kw

    def payload_tables(self, spark):
        """(clips, clips_ref) of the seed's payload window, which the
        per-layer payload and audio timings run on for every workload."""
        return (spark.read.parquet(os.path.join(self.payload_dir, "clips")),
                spark.read.parquet(os.path.join(self.payload_dir, "ref")))

    def check(self, spark, result) -> list[str]:
        """Mismatches between the written outputs and the golden plan."""
        from pyspark.sql import functions as F

        errors = []
        if result.ok:
            errors.append("ok is True although ERRORs were injected")
        want = inputs.golden_counts(self.start, self.n_rows)
        got = {r["rule_id"]: r["count"] for r in
               spark.read.parquet(os.path.join(self.out_dir, "violations"))
                    .filter(F.col("rule_id").isin(*sorted(want)))
                    .groupBy("rule_id").count().collect()}
        for rule in sorted(set(want) | set(got)):
            if want.get(rule, 0) != got.get(rule, 0):
                errors.append(f"{rule}: {got.get(rule, 0)} violation rows,"
                              f" golden plan says {want.get(rule, 0)}")
        return errors


def tree_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def run_workload(name: str, seed: int, traced: bool) -> dict:
    """Set up (session, inputs, spec), time one job.run, check its
    output."""
    wl = Workload(name, seed)
    from bench import probe_membw_1p
    membw = probe_membw_1p()
    print(f"membw window: {json.dumps(membw)}", flush=True)

    extra, log_dir = {}, None
    if traced:
        import layers
        import spans
        log_dir = os.path.join(inputs.WORK, "events", f"{name}_s{seed}")
        shutil.rmtree(log_dir, ignore_errors=True)
        extra = spans.event_log_conf(log_dir)

    t0 = time.perf_counter()
    spark = inputs.start_spark("perfbench", extra)
    session_s = time.perf_counter() - t0
    try:
        from canned_yaml_spark import job
        from canned_yaml_spark.compile import compile_spec

        reads, compiles = [], []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            kw = wl.load(spark)
            tc = time.perf_counter()
            suite = compile_spec(inputs.SPEC, kw["clips"].schema)
            reads.append(tc - t)
            compiles.append(time.perf_counter() - tc)
        read_s = statistics.median(reads)
        compile_s = statistics.median(compiles)
        setup_s = session_s + read_s + compile_s
        shutil.rmtree(wl.out_dir, ignore_errors=True)

        tracer = spans.Tracer(spark) if traced else None
        errors: list[str] = []
        with (spans.shim_job_run(tracer) if traced
              else contextlib.nullcontext()):
            t = time.perf_counter()
            try:
                result = job.run(spark, inputs.SPEC, out_dir=wl.out_dir,
                                 **kw)
            except Exception:                          # noqa: BLE001
                result = None
                errors.append(traceback.format_exc())
            wall = time.perf_counter() - t
        if result is not None:
            try:
                errors += wl.check(spark, result)
            except Exception:                          # noqa: BLE001
                errors.append(traceback.format_exc())
        out = tree_files(wl.out_dir)
        e2e = {"clips_per_s": wl.n_rows / wall, "setup_s": setup_s,
               "out_bytes_per_clip": sum(out.values()) / wl.n_rows}
        print(f"job.run: {wall:.3f} s for {wl.n_rows} clips; setup "
              f"{setup_s:.3f} s = session {session_s:.3f} s + read "
              f"{read_s:.3f} s + compile {compile_s:.3f} s (medians of "
              f"{SETUP_REPEATS})", flush=True)
        layer_m = None
        if traced and not errors:
            layer_m = layers.measure(spark, wl, kw, suite, tracer, out,
                                     session_s, compile_s,
                                     e2e["clips_per_s"])
    finally:
        inputs.stop_spark(spark)
    if layer_m is not None:
        trace_path = os.path.join(inputs.WORK, "traces",
                                  f"{name}_s{seed}.json")
        layer_m.update(layers.from_event_log(log_dir, tracer, layer_m,
                                             trace_path, t0, membw))
        print(f"spans and stage summary: {trace_path}", flush=True)
        report_overhead(name, e2e["clips_per_s"])
    elif not traced and not errors:
        with open(os.path.join(inputs.WORK, f"untraced_{name}.log"), "a") as f:
            f.write(f"{e2e['clips_per_s']}\n")
    for e in errors:
        print(f"CHECK FAILED: {e}", file=sys.stderr, flush=True)
    failed = 1 if errors else 0
    print(f"failed_frac: {failed}/1", flush=True)
    if traced:
        metrics = {k: {"value": v, "unit": layers.unit_of(k)}
                   for k, v in sorted((layer_m or {}).items())}
    else:
        metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()}
    return {"correct": not errors, "attempted": 1, "failed": failed,
            "metrics": metrics}


def report_overhead(name: str, traced_cps: float) -> None:
    """Tracing overhead: this traced run's clips/s against the median of
    the untraced runs of the same workload in this checkout."""
    path = os.path.join(inputs.WORK, f"untraced_{name}.log")
    if not os.path.exists(path):
        print("tracing overhead: no untraced run of this workload yet",
              flush=True)
        return
    with open(path) as f:
        past = [float(v) for v in f.read().split()]
    base = statistics.median(past)
    print(f"tracing overhead: traced {traced_cps:.1f} clips/s vs untraced "
          f"median {base:.1f} clips/s over {len(past)} runs "
          f"({(base / traced_cps - 1) * 100:+.1f}% time)", flush=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="job.run benchmark")
    ap.add_argument("--workload", required=True, choices=inputs.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measurement budget; a run always times "
                         "exactly one job.run, which takes longer than "
                         "BENCHMARK.json's run_seconds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(inputs.ROOT, "canned_yaml_spark"))
            and os.path.isfile(inputs.SPEC)):
        print("perfbench: run from a checkout of the repository (package "
              "canned_yaml_spark/ and specs/ not found)", file=sys.stderr)
        return 2
    if inputs.missing():
        subprocess.run([sys.executable, os.path.join(HERE, "inputs.py")],
                       check=True, cwd=inputs.ROOT, timeout=840)
    sys.path.insert(0, inputs.ROOT)
    result = run_workload(args.workload, args.seed, bool(args.trace))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
