"""Decompose the scaling serial floor: per-family wall time at two
parallelism levels + planning-vs-execution split.

Runs the same bucketed 9.6M-row corpus as tools/bench_scaling.py and
prints, per level, min-of-3 wall time for:
  plan      — building a fresh count() plan (analysis+optimization only)
  row/uniq/ref/psi/ks/payload — each family counted alone
  full      — the union counted as one action (current bench protocol)
  full_reuse— same Dataset re-collected (plan built once)

Usage: python tools/profile_scaling.py [rows] [cores ...]
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUCKETS = int(__import__("os").environ.get("SG_BUCKETS", "32"))

CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})

cores = int(os.environ["SG_CORES"])
# Same honest protocol as tools/bench_scaling.py: pin the whole
# process tree (JVM + forked Python workers) to exactly `cores` CPUs.
os.sched_setaffinity(0, set(range(cores)))

from canned_yaml_spark.session import get_spark
from canned_yaml_spark import compile_spec, derive, fixtures, dataset, drift, payload
from canned_yaml_spark import job as jobmod
from canned_yaml_spark.runner import row_violations
from pyspark.sql import functions as F
wh = os.environ["SG_WAREHOUSE"]
shuf = int(os.environ.get("SG_SHUFFLE", str(cores)))
spark = get_spark(f"prof_{{cores}}", cores=cores, shuffle_partitions=shuf,
                  extra_conf={{"spark.local.dir": "/dev/shm/spark-tmp",
                               "spark.sql.warehouse.dir": wh}})
for name in ("clips_b", "clips_ref_b"):
    ddl_cols = open(os.path.join(wh, f"{{name}}.schema")).read()
    spark.sql(f'''CREATE TABLE {{name}} ({{ddl_cols}}) USING PARQUET
      CLUSTERED BY (clip_id) SORTED BY (clip_id) INTO {buckets} BUCKETS
      LOCATION '{{wh}}/{{name}}' ''')
clips = spark.table("clips_b")
ref = spark.table("clips_ref_b")
suite = compile_spec(os.path.join({repo!r}, "specs/clips.spec.yaml"), clips.schema)
dim = derive.codec_dim_df(spark)
hist = fixtures.reference_hist_df(spark)
ks_ref = fixtures.reference_dur_sample()

def fam_row():  return row_violations(clips, suite, "clip_id", "part_id")
def fam_uniq():
    out = None
    for uc in suite.unique_checks:
        v = dataset.unique_violations(clips, uc, "clip_id", "part_id")
        out = v if out is None else out.unionByName(v)
    return out
def fam_ref():
    out = None
    for rc in suite.ref_checks:
        v = dataset.referential_violations(clips, dim, rc, "clip_id", "part_id")
        out = v if out is None else out.unionByName(v)
    return out
def fam_psi():
    out = None
    for dc in suite.drift_checks:
        v = drift.psi_violations(clips, dc, hist, "part_id")
        out = v if out is None else out.unionByName(v)
    return out
def fam_ks():
    out = None
    for dc in suite.drift_checks:
        v = drift.ks_violations(clips, dc, ks_ref, "part_id")
        out = v if out is None else out.unionByName(v)
    return out
def fam_payload():
    out = None
    for pc in suite.payload_checks:
        v = payload.payload_violations(clips, ref, pc, "clip_id", "part_id")
        out = v if out is None else out.unionByName(v)
    return out
def fam_pay_scan():
    # JVM-only byte path: the same bucketed join + bit-exact equality
    # over both payload columns, zero Python. Separates "moving the
    # bytes" (host-bandwidth-bound) from "decoding in Python".
    # coalesce() keeps the equality a FILTER — a bare left==right above
    # the join is extracted into the join keys and forces a full
    # shuffle of payload rows (see payload.payload_violations).
    j = clips.select("clip_id", F.col("bytes").alias("_b")).join(
        ref.select("clip_id", F.col("pcm_ref").alias("_p")).hint("SHUFFLE_HASH"),
        "clip_id", "inner")
    return j.filter(F.col("_b").isNotNull()
                    & F.coalesce(F.col("_b") == F.col("_p"), F.lit(False)))
def fam_full():
    return jobmod.all_violations(clips, suite, dims={{"codec_dim": dim}},
                                 clips_ref=ref, expected_hist=hist,
                                 ks_reference=ks_ref)

def best(fn, n=3):
    ts = []
    for _ in range(n):
        t0 = time.time(); fn(); ts.append(time.time() - t0)
    return round(min(ts), 3), [round(t, 2) for t in ts]

res = {{"cores": cores}}
# warm everything once
fam_full().count()
print(f"warmed cores={{cores}}", file=sys.stderr, flush=True)

# planning cost: fresh plan each time, force optimization, no execution
def plan_only():
    df = fam_full().groupBy().count()
    df._jdf.queryExecution().executedPlan()
res["plan"], res["plan_runs"] = best(plan_only)

for name, fn in [("row", fam_row), ("uniq", fam_uniq), ("ref", fam_ref),
                 ("psi", fam_psi), ("ks", fam_ks), ("pay_scan", fam_pay_scan),
                 ("payload", fam_payload)]:
    fn().count()   # warm
    res[name], res[name + "_runs"] = best(lambda fn=fn: fn().count())
    print(f"{{name}}: {{res[name]}}", file=sys.stderr, flush=True)

res["full"], res["full_runs"] = best(lambda: fam_full().count())
reused = fam_full().groupBy().count()
reused.collect()
res["full_reuse"], res["full_reuse_runs"] = best(lambda: reused.collect())
print(json.dumps(res))
spark.stop()
"""


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 9_600_000
    levels = [int(x) for x in sys.argv[2:]] or [32, 8]
    wh = os.environ.get("SG_WH") or os.path.join(REPO, ".bench", f"warehouse_{rows}")
    assert os.path.exists(os.path.join(wh, "_DONE")), f"run bench_scaling.py {rows} first"
    for cores in levels:
        env = dict(os.environ, SG_CORES=str(cores), SG_WAREHOUSE=wh)
        with open(f"/tmp/profile_child_{cores}.err", "w") as errfh:
            out = subprocess.run([sys.executable, "-c",
                                  CHILD.format(repo=REPO, buckets=BUCKETS)],
                                 env=env, stdout=subprocess.PIPE,
                                 stderr=errfh, text=True, timeout=3600)
        lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
        if not lines:
            print(f"child {cores} failed; see /tmp/profile_child_{cores}.err",
                  file=sys.stderr)
            sys.exit(1)
        print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
