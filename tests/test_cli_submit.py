"""End-to-end `spark-submit --py-files` launch contract (north rule).

The engine must be launchable as

    spark-submit --master <cluster> --py-files canned_yaml_spark.zip \
        tools/submit_main.py --spec ... --table ... --ref ... \
        --dim codec_dim=... --out ...

with the package shipped ONLY through the zip. This test builds the
zip, runs the real spark-submit binary from an empty working directory
with PYTHONPATH scrubbed (so the zip is the only possible import
source), and asserts the reference's process contract
(canner/src/validate.cpp:12-26): exit 0 + "Nice job!" on a clean
table, exit 1 with failing partitions reported when ERROR-severity
violations exist. It also proves get_spark respects the submitted
--master instead of clobbering it with a builder-level local[N]
(session._submitted_master).
"""
from __future__ import annotations

import os
import shutil
import subprocess
import zipfile
from pathlib import Path

import pytest

from canned_yaml_spark import fixtures

REPO = Path(__file__).resolve().parent.parent
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"

pytestmark = pytest.mark.skipif(
    not os.path.exists(SPARK_SUBMIT), reason="no spark-submit binary")


def _build_zip(tmp: Path) -> Path:
    zpath = tmp / "canned_yaml_spark.zip"
    pkg = REPO / "canned_yaml_spark"
    with zipfile.ZipFile(zpath, "w") as z:
        for py in sorted(pkg.rglob("*.py")):
            z.write(py, f"canned_yaml_spark/{py.relative_to(pkg)}")
    return zpath


def _submit(tmp: Path, zpath: Path, *cli_args: str,
            master: str = "local[4]") -> subprocess.CompletedProcess:
    # empty cwd + scrubbed PYTHONPATH: the --py-files zip is the only
    # way `import canned_yaml_spark` can resolve
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_DRIVER_MEM"] = "4g"
    launcher = tmp / "submit_main.py"
    if not launcher.exists():
        shutil.copy(REPO / "tools" / "submit_main.py", launcher)
    return subprocess.run(
        [SPARK_SUBMIT, "--master", master,
         "--py-files", str(zpath), str(launcher), *cli_args],
        cwd=tmp, env=env, capture_output=True, text=True, timeout=600)


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("submit")
    for name, n_rows in (("dirty", 600), ("clean", 200)):
        tables = {
            "clips": fixtures.clips_df(spark, n_rows,
                                       inject=name == "dirty",
                                       max_samples=256),
            "clips_ref": fixtures.clips_ref_df(spark, n_rows,
                                               max_samples=256),
            "codec_dim": fixtures.codec_dim_df(spark)}
        for table, df in tables.items():
            df.write.parquet(str(tmp / name / f"{table}.parquet"))
    return tmp


def test_submit_dirty_table_exits_1(corpus):
    z = _build_zip(corpus)
    r = _submit(
        corpus, z,
        "--spec", str(REPO / "specs" / "clips.spec.yaml"),
        "--table", str(corpus / "dirty" / "clips.parquet"),
        "--ref", str(corpus / "dirty" / "clips_ref.parquet"),
        "--dim", f"codec_dim={corpus / 'dirty' / 'codec_dim.parquet'}",
        "--out", str(corpus / "out_dirty"), "--cores", "4")
    assert r.returncode == 1, r.stderr[-4000:]
    assert "failing:" in r.stdout and "failing: 0" not in r.stdout
    # the run materialized its output surface
    assert (corpus / "out_dirty" / "violations").exists()
    assert (corpus / "out_dirty" / "verdicts").exists()


def test_submit_clean_table_exits_0_and_respects_master(corpus):
    z = _build_zip(corpus)
    r = _submit(
        corpus, z,
        "--spec", str(REPO / "specs" / "clips.spec.yaml"),
        "--table", str(corpus / "clean" / "clips.parquet"),
        "--ref", str(corpus / "clean" / "clips_ref.parquet"),
        "--dim", f"codec_dim={corpus / 'clean' / 'codec_dim.parquet'}",
        "--out", str(corpus / "out_clean"),
        # submitted master deliberately differs from the --cores hint:
        # if get_spark clobbered it with builder.master(local[4]) the
        # probe below would print local[4]
        master="local[3]")
    assert r.returncode == 0, r.stderr[-4000:]
    assert "failing: 0" in r.stdout
    assert "Nice job!" in r.stdout     # validate.cpp:23 salute


def test_submitted_master_wins_over_builder_default(corpus):
    # direct probe of session.get_spark under spark-submit: the session
    # must report the SUBMITTED master, not the local[N] default
    z = _build_zip(corpus)
    probe = corpus / "probe_master.py"
    probe.write_text(
        "from canned_yaml_spark.session import get_spark\n"
        "spark = get_spark(cores=4)\n"
        "print('MASTER=' + spark.conf.get('spark.master'))\n"
        "spark.stop()\n")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "2g"
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[3]",
         "--py-files", str(z), str(probe)],
        cwd=corpus, env=env, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-4000:]
    assert "MASTER=local[3]" in r.stdout
