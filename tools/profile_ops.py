"""Noop-sink profile of registry queries and check families: the wall
time of each run, and for the best run its Spark stage summary and the
Arrow transfer / Python compute split of its Python operators.

Usage: python tools/profile_ops.py [--sf-dir DIR] TARGET [TARGET ...]

A TARGET is a ``__spark_entry__.queries()`` name run at --sf-dir
(``queries`` = all 104), or a check family named as perfbench's
per-layer metrics are (``families`` = all eight), run over bench.py's
payload corpus, which is built first if missing. Each target runs RUNS
times, each run in a ``perfbench.spans.Tracer`` span, on perfbench's
host-sized session with the Spark event log on. Progress goes to
stderr and one JSON line to stdout:
``python tools/profile_ops.py families > BENCH/profile_families.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entrymod  # noqa: E402
import bench  # noqa: E402
from perfbench import inputs, spans  # noqa: E402

RUNS = 3
FAMILIES = ("runner.row_violations", "dataset.unique_violations",
            "dataset.referential_violations", "drift.psi_violations",
            "drift.ks_violations", "payload.payload_violations",
            "payload.audio_stats_violations", "job.all_violations")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def expand(names: list[str]) -> list[str]:
    """Targets in order, group names expanded; SystemExit(2) on an
    unknown name."""
    groups = {"queries": list(entrymod.queries()), "families": FAMILIES}
    out = []
    for name in names:
        if name not in {*groups, *groups["queries"], *FAMILIES}:
            log(f"unknown target {name!r}: not a query, a family, "
                "'queries' or 'families'")
            raise SystemExit(2)
        out += groups.get(name, [name])
    return out


def family_builders(spark) -> dict:
    """Family name -> thunk building its violations over bench.py's
    corpus, with the first check of each family as bench.py runs it."""
    if not os.path.exists(os.path.join(bench.BENCH_DIR, "_DONE")):
        log(f"building the bench corpus under {bench.BENCH_DIR}")
        subprocess.run([sys.executable, bench.__file__, "--build"],
                       check=True, cwd=ROOT)
    from canned_yaml_spark import (
        compile_spec, dataset, derive, drift, fixtures, job, payload, runner,
    )
    clips = spark.read.parquet(f"{bench.BENCH_DIR}/clips.parquet")
    ref = spark.read.parquet(f"{bench.BENCH_DIR}/clips_ref.parquet")
    suite = compile_spec(os.path.join(ROOT, "specs/clips.spec.yaml"),
                         clips.schema)
    dim = derive.codec_dim_df(spark)
    hist = fixtures.reference_hist_df(spark)
    ks_ref = fixtures.reference_dur_sample()
    dc = suite.drift_checks[0]
    return {
        "runner.row_violations": lambda: runner.row_violations(clips, suite),
        "dataset.unique_violations": lambda: dataset.unique_violations(
            clips, suite.unique_checks[0]),
        "dataset.referential_violations":
            lambda: dataset.referential_violations(
                clips, dim, suite.ref_checks[0]),
        "drift.psi_violations": lambda: drift.psi_violations(clips, dc, hist),
        "drift.ks_violations": lambda: drift.ks_violations(clips, dc, ks_ref),
        "payload.payload_violations": lambda: payload.payload_violations(
            clips, ref, suite.payload_checks[0]),
        "payload.audio_stats_violations":
            lambda: payload.audio_stats_violations(
                clips, suite.audio_checks[0]),
        "job.all_violations": lambda: job.all_violations(
            clips, suite, dims={"codec_dim": dim}, clips_ref=ref,
            expected_hist=hist, ks_reference=ks_ref),
    }


def profile(spark, tracer, targets: list[str], sf_dir: str) -> dict:
    """{target: {samples, min, best span}} or {target: {error}}."""
    queries = entrymod.queries()
    fams = family_builders(spark) if set(targets) & set(FAMILIES) else {}
    out = {}
    for name in targets:
        build = fams.get(name) or (lambda fn=queries[name]: fn(spark, sf_dir))
        recs = []
        try:
            for _ in range(RUNS):
                with tracer.span(name) as rec:
                    build().write.format("noop").mode("overwrite").save()
                recs.append(rec)
        except Exception as e:                         # noqa: BLE001
            out[name] = {"error": f"{type(e).__name__}: {str(e)[:200]}"}
            log(f"{name:32s} ERROR {out[name]['error']}")
            continue
        samples = [round(r["end"] - r["start"], 3) for r in recs]
        best = min(recs, key=lambda r: r["end"] - r["start"])
        out[name] = {"samples": samples, "min": min(samples), "_best": best}
        log(f"{name:32s} min={min(samples):8.3f}  {samples}")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("targets", nargs="+", metavar="TARGET")
    args = ap.parse_args(argv)
    targets = expand(args.targets)
    head = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                          capture_output=True, text=True).stdout.strip()
    membw_before = bench.probe_membw_1p()
    with tempfile.TemporaryDirectory(prefix="profile-events-") as log_dir:
        spark = inputs.start_spark("profile", spans.event_log_conf(log_dir))
        try:
            res = profile(spark, spans.Tracer(spark), targets, args.sf_dir)
        finally:
            inputs.stop_spark(spark)
        events = spans.EventLog(log_dir)
    for r in res.values():
        if "_best" in r:
            groups = {r.pop("_best")["group"]}
            r["summary"] = events.summary(groups)
            r["python_nodes"] = events.python_nodes(groups)
    print(json.dumps({"head": head, "cores": inputs.CORES,
                      "sf_dir": args.sf_dir, "runs": RUNS,
                      "membw_before": membw_before,
                      "membw_after": bench.probe_membw_1p(),
                      "targets": res}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
