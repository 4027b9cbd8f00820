"""Seeded inputs for the job.run benchmark, and their golden plan.

Every fixture row is a pure function of its index
(``canned_yaml_spark.fixtures``), so a workload seed maps to an index
window and the expected violations follow from
``fixtures.injected_rule`` over that window — nothing is stored but
the generated parquet.

Generation runs in its own process (``python3 perfbench/inputs.py``),
which ``run.py`` starts the first time it runs in a checkout, so the
timed JVM never follows a generation job. It builds every window of
both corpora, cached under ``.perfbench_work/`` at the repository root
(git-ignored)::

    payload/w<k>/clips, ref    full_validate: clips with payloads and
                               the certified reference table
    metadata/w<k>/clips        metadata_only: rows without payloads
"""

from __future__ import annotations

import math
import os
import shutil
import subprocess
import sys
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SPEC = os.path.join(ROOT, "specs", "clips.spec.yaml")

WORKLOADS = ("full_validate", "metadata_only")
#: distinct input windows per corpus; seed s uses window s % WINDOWS
WINDOWS = 4
#: rows per window: payload corpus (full_validate), metadata corpus
#: (metadata_only)
ROWS = {"payload": 6400, "metadata": 128_000}
PAY_MAX_SAMPLES = 512
#: local[N] and shuffle partitions, sized to a 4-core host
CORES = max(1, min(4, os.cpu_count() or 1))
DRIVER_MEM = "4g"

if os.environ.get("PERFBENCH_SMOKE"):
    # perfbench/smoke.py: tiny inputs in a cache of their own
    WORK = os.path.join(WORK, "smoke")
    ROWS = {"payload": 640, "metadata": 6400}

#: injected rule → the row-rule id(s) it fires, keyed by index parity
#: (fixtures.make_row picks the low/high variant by k % 20)
_ROW_RULES = {
    "sr_range": ("properties.sr_hz.minimum", "properties.sr_hz.maximum"),
    "dur_range": ("properties.dur_ms.minimum", "properties.dur_ms.maximum"),
    "codec_enum": ("properties.codec.enum",) * 2,
    "id_pattern": ("properties.clip_id.pattern",) * 2,
    "transcript_null": ("required.transcript",) * 2,
    "transcript_len": ("properties.transcript.minLength",
                       "properties.transcript.maxLength"),
}
UNIQUE_RULE = "x-unique.clip_id"
REF_RULE = "x-ref.codec"


def window(seed: int) -> int:
    return seed % WINDOWS


def window_range(kind: str, w: int) -> tuple[int, int]:
    """(start, n_rows) of window w of a corpus. Windows start on a
    multiple of the injection plan's period (rule cycle, low/high
    variant, part_id), so every window carries the same defect mix and
    the seeds differ in payloads, codecs, rates and durations."""
    from canned_yaml_spark.derive import INJECT_EVERY, N_PARTS
    from canned_yaml_spark.fixtures import N_RULES

    period = math.lcm(INJECT_EVERY * N_RULES, 2 * INJECT_EVERY, N_PARTS)
    n = ROWS[kind]
    return w * -(-n // period) * period, n


def window_dir(kind: str, w: int) -> str:
    return os.path.join(WORK, kind, f"w{w}")


def golden_counts(start: int, n: int) -> dict[str, int]:
    """Expected violation rows per rule id for indices [start, start+n):
    the row rules, the clip_id uniqueness rule and the codec
    referential rule."""
    from canned_yaml_spark.derive import INJECT_EVERY
    from canned_yaml_spark.fixtures import injected_rule

    counts: Counter[str] = Counter()
    first = -(-start // INJECT_EVERY) * INJECT_EVERY
    for k in range(first, start + n, INJECT_EVERY):
        rule = injected_rule(k)
        if rule in _ROW_RULES:
            counts[_ROW_RULES[rule][0 if k % 20 == 0 else 1]] += 1
        if rule in ("codec_enum", "codec_ref"):
            counts[REF_RULE] += 1
        # row k takes row k-1's id: both rows of the pair are reported
        if rule == "id_dup" and k > 0 and k - 1 >= start:
            counts[UNIQUE_RULE] += 2
    return dict(counts)


def spark_env() -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the repository's work dir, and let the workers import the
    package from the repository root."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile
    tempfile.tempdir = None


def start_spark(app: str, extra_conf: dict | None = None):
    """The benchmark's host-sized session: local[CORES], CORES shuffle
    partitions, 4 GB driver, no console progress bar."""
    spark_env()
    from canned_yaml_spark.session import get_spark

    tmp = os.environ["TMPDIR"]
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"}
    conf.update(extra_conf or {})
    return get_spark(app, cores=CORES, shuffle_partitions=CORES,
                     extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway                    # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------- input generation
def build_window(spark, kind: str, w: int) -> None:
    """payload: clips + certified reference; metadata: clips without
    the payload column."""
    from canned_yaml_spark import fixtures

    start, n = window_range(kind, w)

    def payload(tmp: str) -> None:
        fixtures.clips_df(spark, n, start=start,
                          max_samples=PAY_MAX_SAMPLES, partitions=8) \
            .write.parquet(os.path.join(tmp, "clips"))
        fixtures.clips_ref_df(spark, n, start=start,
                              max_samples=PAY_MAX_SAMPLES, partitions=8,
                              certified=True) \
            .write.parquet(os.path.join(tmp, "ref"))

    def metadata(tmp: str) -> None:
        # bytes are dropped, so one-sample payloads keep generation cheap
        fixtures.clips_df(spark, n, start=start, max_samples=1,
                          partitions=8).drop("bytes") \
            .write.parquet(os.path.join(tmp, "clips"))
    _publish(window_dir(kind, w),
             payload if kind == "payload" else metadata)


def _publish(dest: str, build) -> None:
    """Build into a temp dir, then rename: a cached window is complete
    or absent, never half-written."""
    tmp = dest + ".building"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    shutil.rmtree(dest, ignore_errors=True)
    os.rename(tmp, dest)


def missing() -> list[tuple[str, int]]:
    """(corpus, window) pairs not built yet."""
    return [(kind, w) for kind in ROWS for w in range(WINDOWS)
            if not os.path.isdir(window_dir(kind, w))]


def main() -> int:
    """Build every missing window (run.py starts this as its own
    process the first time it runs in a checkout)."""
    todo = missing()
    if not todo:
        return 0
    spark = start_spark("perfbench-inputs")
    try:
        for kind, w in todo:
            build_window(spark, kind, w)
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
