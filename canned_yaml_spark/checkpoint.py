"""Checkpoint / exact resume with per-partition lineage + metrics.

The reference's only persistent state is its process exit code
(/root/reference/canner/src/canner.cc:1116). BASELINE.json mandates
real ops semantics: "checkpoints completed partitions to a lineage +
metrics table for exact resume".

Design (SURVEY.md §2.2 #25):
- Layout: out_dir/<table>/run_id=<run_id>/ for violations, verdicts
  and metrics; manifest/ is an append-only parquet table (Iceberg in
  production — same append semantics) of per-partition commits.
- One commit path (`commit`): the violations plan executes once, into
  this run's directory; the verdicts are derived from those written
  bytes (one leaf directory read with the plan's schema: no listing
  or footer-inference job), and the manifest rows are this run's
  written verdict rows. Manifest and verdicts agree by construction.
- The manifest append is the commit point, for resume and for
  visibility: `committed` keeps a table's rows whose (part_id,
  run_id) is the manifest's latest commit for that part_id. A run
  that crashed before its append stays invisible and its partitions
  pending; a partition committed again shows only the later run's
  rows. Nothing is ever cleared.
- Resume: pending work = all partitions LEFT ANTI JOIN manifest, a
  broadcast semi-join that AQE turns into a runtime scan filter.
  write_partitioned overwrites dynamically by run_id, so a retried
  run_id replaces only its own directory, byte for byte: the data
  path is deterministic (pure-function fixtures, no rand()).
- Trade-off: a reader of one part_id's rows gets no directory pruning
  (a run is not split by part_id); every reader here reads views whole.
- The streaming lineage sink (streaming.validate_stream_with_lineage)
  commits each micro-batch through `commit` into its own out_dir and
  skips a replayed batch when `is_committed` finds its manifest file.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from canned_yaml_spark.runner import violation_verdicts

MANIFEST_SCHEMA = ("part_id int, n_rows long, n_violations long, "
                   "max_severity int, pass boolean, run_id string, "
                   "completed_at double")


def _fs(spark: SparkSession, path: str):
    """(Hadoop FileSystem, Path) for path (local, HDFS, s3a...)."""
    jvm = spark._jvm                                   # noqa: SLF001
    conf = spark._jsc.hadoopConfiguration()            # noqa: SLF001
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(conf), p


def path_exists(spark: SparkSession, path: str) -> bool:
    """Path probe through Hadoop FS."""
    fs, p = _fs(spark, path)
    return fs.exists(p)


def is_committed(spark: SparkSession, out_dir: str) -> bool:
    """True when out_dir/manifest holds a parquet file: one Hadoop FS
    listing, no Spark job. The manifest append is one file from one
    task, moved out of _temporary when that task commits, so a crashed
    append leaves none."""
    fs, p = _fs(spark, f"{out_dir}/manifest/*.parquet")
    return bool(fs.globStatus(p))


def read_manifest(spark: SparkSession, manifest_dir: str) -> DataFrame:
    """Completed-partition manifest; empty DataFrame when absent."""
    if not path_exists(spark, manifest_dir):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_dir)


def pending_only(df: DataFrame, spark: SparkSession, manifest_dir: str,
                 part_col: str = "part_id") -> DataFrame:
    """Filter df down to partitions with no manifest row yet; df
    itself when there is no manifest (one FS probe).

    Broadcast anti join — the manifest side is one row per partition
    (thousands at most), never the fact side.
    """
    if not path_exists(spark, manifest_dir):
        return df
    done = read_manifest(spark, manifest_dir).select("part_id").distinct()
    return df.join(F.broadcast(done),
                   df[part_col] == done["part_id"], "left_anti")


def append_manifest(verdicts: DataFrame, manifest_dir: str,
                    run_id: str) -> None:
    """Commit completed partitions: one manifest row per partition.

    Must be called only after the partitions' violation/verdict/metric
    rows are durably written.
    """
    (verdicts
     .select("part_id", "n_rows", "n_violations",
             F.coalesce(F.col("max_severity"), F.lit(-1)).alias("max_severity"),
             "pass",
             F.lit(run_id).alias("run_id"),
             F.lit(time.time()).alias("completed_at"))
     .write.mode("append").parquet(manifest_dir))


def stream_identity(spark: SparkSession, checkpoint_dir: str) -> str:
    """Identity of one stream incarnation: a token stored inside the
    streaming checkpoint dir, so wiping the checkpoint (which restarts
    batch ids at 0) also starts a new identity."""
    import uuid

    fs, p = _fs(spark, f"{checkpoint_dir}/_stream_identity")
    if fs.exists(p):
        stream = fs.open(p)
        try:
            return spark._jvm.org.apache.commons.io.IOUtils.toString(  # noqa: SLF001
                stream, "UTF-8").strip()
        finally:
            stream.close()
    token = uuid.uuid4().hex
    out = fs.create(p, True)
    try:
        out.write(bytearray(token.encode("utf-8")))
    finally:
        out.close()
    return token


def committed(spark: SparkSession, out_dir: str, table: str,
              schema: StructType | None = None) -> DataFrame:
    """The committed view of out_dir/<table>, plus run_id: the rows
    whose (part_id, run_id) is the manifest's latest commit (max
    completed_at) for that part_id, matched null-safe. One manifest
    read, aggregated in one task and broadcast into a semi-join;
    `schema` (the columns but run_id) spares a footer-inference read.
    A violation whose part_id is no partition of its run's scope
    (x-monotonic by another column) is in no verdict and not here."""
    path = f"{out_dir}/{table}"
    schema = schema or spark.read.parquet(path).drop("run_id").schema
    rows = spark.read.schema(StructType(
        [*schema.fields, StructField("run_id", StringType())])).parquet(path)
    # one partition: the aggregate then needs no exchange
    latest = (read_manifest(spark, f"{out_dir}/manifest").coalesce(1)
              .groupBy("part_id")
              .agg(F.max_by("run_id", "completed_at").alias("latest")))
    return rows.join(F.broadcast(latest),
                     rows["part_id"].eqNullSafe(latest["part_id"])
                     & (rows["run_id"] == latest["latest"]), "left_semi")


def _run_rows(spark: SparkSession, path: str, run_id: str,
              schema: StructType) -> DataFrame:
    """One run's rows of the table at path: one leaf directory, read
    with schema. A write of no rows leaves no directory: no rows."""
    run_dir = f"{path}/run_id=" + (
        spark._jvm.org.apache.spark.sql.catalyst.catalog  # noqa: SLF001
        .ExternalCatalogUtils.escapePathName(run_id))
    if not path_exists(spark, run_dir):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(run_dir)


def commit(spark: SparkSession, scope: DataFrame, viol: DataFrame,
           out_dir: str, run_id: str, *,
           part_col: str = "part_id") -> tuple[DataFrame, DataFrame]:
    """Commit one run's violations plan under out_dir; returns the
    committed (violations, verdicts) views.

    1. violations/run_id=<run_id>/: `viol` executes once,
       repartitioned by part_id (each partition's rows in one file);
    2. verdicts/run_id=<run_id>/: the verdicts of scope's partitions,
       derived from that directory read back with the plan's schema;
    3. manifest/: this run's written verdict rows, in one file — the
       commit point. The verdicts write counts its rows (an
       Observation, no extra job); a commit with no pending partition
       appends no file.

    write_partitioned and append_manifest are looked up as module
    attributes at call time, so a caller can wrap them.
    """
    tag = F.lit(run_id).alias("run_id")
    write_partitioned(viol.repartition("part_id").select("*", tag),
                      f"{out_dir}/violations")
    written = _run_rows(spark, f"{out_dir}/violations", run_id, viol.schema)
    verd = violation_verdicts(scope, written, part_col)
    seen = Observation()
    write_partitioned(verd.select("*", tag)
                      .observe(seen, F.count(F.lit(1)).alias("n")),
                      f"{out_dir}/verdicts")
    if seen.get["n"]:
        append_manifest(
            _run_rows(spark, f"{out_dir}/verdicts", run_id, verd.schema)
            .coalesce(1),
            f"{out_dir}/manifest", run_id)
    return (committed(spark, out_dir, "violations", viol.schema),
            committed(spark, out_dir, "verdicts", verd.schema))


def write_partitioned(df: DataFrame, path: str) -> None:
    """Idempotent per-run write: dynamic partition overwrite replaces
    exactly the run_id directory being rewritten."""
    (df.write
       .option("partitionOverwriteMode", "dynamic")
       .partitionBy("run_id")
       .mode("overwrite")
       .parquet(path))
