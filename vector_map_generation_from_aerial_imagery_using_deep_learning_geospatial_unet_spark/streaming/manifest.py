"""Checkpoint manifest: per-stage, per-partition lineage + metrics, and
mid-job resume (north_rule; the Spark upgrade of the reference's
``Timing.json`` stage->seconds dict, /root/reference/src/io.py:168-171,
/root/reference/test.py:87,253,300,387).

Layout: a parquet table at ``<root>/manifest``, **partitioned by stage**
(``manifest/stage=<name>/``), with one row per (stage, unit) of completed
work.  Partitioning by stage makes :func:`clear_stage` a metadata-only
directory delete — no manifest row ever travels to the driver, which
matters when the manifest is one row per stage per image at 10^12 images:

    stage: string, image_id: string, rows: long, checksum: long,
    partition_id: int, run_id: string, status: string, wall_sec: double,
    ts: timestamp

(``image_id`` is the unit-key column name regardless of the caller's
``key``; unit keys are opaque strings here.)

Crash semantics: stage output is appended FIRST, the manifest entry
SECOND, and both carry the attempt's ``run_id``.  Readers take only
output rows whose (unit, run_id) appears in the manifest — so a crash
between the two appends leaves invisible orphan rows, the unit stays
pending, and the retry's copy (a new run_id) is the single visible one:
exactly-once *read* semantics over at-least-once writes.

Resume = ``left_anti`` join of the input against completed units, so a
restarted job re-processes only unfinished units — "resumes mid-tile-grid"
because tile grids are enumerated per image.  Units whose output is empty
(e.g. an all-background mask producing zero polygons) still get a
``rows = 0`` manifest entry and are not re-run forever.
"""

from __future__ import annotations

import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException


# the columns record_stage writes, ``stage`` (the partition column) last
MANIFEST_SCHEMA = (
    "image_id string, rows long, checksum long, partition_id int, run_id string, "
    "status string, wall_sec double, ts timestamp, stage string"
)


def manifest_path(root: str) -> str:
    return root.rstrip("/") + "/manifest"


def record_stage(
    result: DataFrame,
    stage: str,
    root: str,
    key: str = "image_id",
    checksum_cols: list[str] | None = None,
    units: DataFrame | None = None,
    run_id: str | None = None,
    wall_sec: float | None = None,
) -> None:
    """Aggregate the stage's output per key and append to the manifest.

    ``checksum`` is an order-insensitive xxhash64-xor over the selected
    columns — cheap, associative, and stable under shuffle, so reruns can
    be compared unit-by-unit.  ``units`` (one-column DF of unit keys), when
    given, is the COMPLETE set of units this call completed: keys with no
    output rows are recorded with rows = 0 instead of being dropped by the
    groupBy.  ``wall_sec`` is the caller-measured stage wall time (this
    function cannot observe it — the stage executes inside the caller's
    output write, not here); recorded per manifest row as the stage total.
    """
    cols = checksum_cols or [c for c in result.columns if c != key]
    per_key = (
        result.withColumn("_pid", F.spark_partition_id())
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            _xor_agg(F.xxhash64(*[F.col(c) for c in cols])).alias("checksum"),
            F.min("_pid").alias("partition_id"),
        )
    )
    if units is not None:
        ucol = units.columns[0]
        per_key = (
            units.select(F.col(ucol).alias(key))
            .join(per_key, key, "left")
            .fillna({"rows": 0, "checksum": 0, "partition_id": -1})
        )
    (
        per_key.select(
            F.lit(stage).alias("stage"),
            F.col(key).alias("image_id"),
            "rows",
            "checksum",
            "partition_id",
            F.lit(run_id or "").alias("run_id"),
            F.lit("done").alias("status"),
            F.lit(float(wall_sec if wall_sec is not None else -1.0)).alias(
                "wall_sec"
            ),
            F.current_timestamp().alias("ts"),
        )
        .write.mode("append")
        .partitionBy("stage")
        .parquet(manifest_path(root))
    )


def _xor_agg(col):
    """Order-insensitive 64-bit combine: xor via bit ops in sum-space.

    Spark has no xor agg; emulate with two sums of the split halves, which is
    NOT collision-equivalent to xor but is order-insensitive and stable —
    adequate as a lineage checksum."""
    lo = F.pmod(col, F.lit(1 << 31))
    hi = F.floor(col / F.lit(1 << 31))
    return F.pmod(F.sum(lo), F.lit(1 << 31)) + F.pmod(F.sum(hi), F.lit(1 << 31)) * F.lit(
        1 << 31
    )


def _read_manifest(spark: SparkSession, root: str) -> DataFrame | None:
    """None when no manifest row exists on disk: the directory is missing, or
    every stage partition was cleared.  Any other read failure (corruption,
    permissions) propagates — silently treating it as 'nothing done' would
    duplicate every completed unit's output.  The declared schema means the
    read runs no schema-inference job.  An empty manifest is None, not an
    empty scan, so a cleared root plans like a root never written."""
    try:
        m = spark.read.schema(MANIFEST_SCHEMA).parquet(manifest_path(root))
    except AnalysisException as ex:
        msg = str(ex)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise
    # the JVM array's length is one py4j call, however many files it lists
    return m if len(m._jdf.inputFiles()) else None


def completed_units(spark: SparkSession, root: str, stage: str) -> DataFrame:
    """Distinct unit keys already finished for ``stage`` (with the run_id
    that completed them); empty DF if the manifest doesn't exist yet."""
    m = _read_manifest(spark, root)
    if m is None:
        # an empty range, not an empty createDataFrame (an RDD scan the
        # optimizer cannot see into): a join against it is optimized away
        return spark.range(0).selectExpr(
            "CAST(NULL AS STRING) AS image_id", "CAST(NULL AS STRING) AS run_id"
        )
    return (
        m.filter((F.col("stage") == stage) & (F.col("status") == "done"))
        .select("image_id", "run_id")
        .distinct()
    )


def resume_filter(
    inputs: DataFrame,
    spark: SparkSession,
    root: str,
    stage: str,
    key: str = "image_id",
) -> DataFrame:
    """inputs minus already-completed units — the restart path."""
    done = completed_units(spark, root, stage).select(
        F.col("image_id").alias(key)
    )
    return inputs.join(done, key, "left_anti")


def clear_stage(spark: SparkSession, root: str, stage: str) -> None:
    """Forget a stage entirely: drop its manifest rows, THEN its output
    directory.  The fresh-run ('overwrite') path of
    :func:`run_resumable`-based drivers — leaving stale 'done' rows behind
    an overwritten output dir would make a later --resume silently skip
    units whose data no longer exists.

    Scale + crash safety: the manifest is partitioned by ``stage``, so the
    rows are forgotten by deleting the single ``manifest/stage=<name>/``
    subdirectory — a metadata-only filesystem op that collects no
    manifest row.  Order matters: manifest first, output
    second.  A crash between the two leaves output rows with NO manifest
    entry — the units read as pending and are simply re-run (their stale
    rows stay invisible because :func:`run_resumable` only returns rows
    whose (unit, run_id) is recorded).  The reverse order would leave 'done'
    manifest rows pointing at deleted data: permanently missing output."""
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()

    def _path(s):
        return jvm.org.apache.hadoop.fs.Path(s)

    mp = _path(manifest_path(root) + f"/stage={stage}")
    mp.getFileSystem(hconf).delete(mp, True)
    p = _path(f"{root.rstrip('/')}/{stage}")
    p.getFileSystem(hconf).delete(p, True)


def run_resumable(
    inputs: DataFrame,
    stage_fn,
    stage: str,
    root: str,
    key: str = "image_id",
    checksum_cols: list[str] | None = None,
) -> DataFrame:
    """Execute ``stage_fn(pending_inputs)`` for not-yet-done units, append
    their output (stamped with this attempt's run_id) and their lineage, and
    return the stage's FULL visible output (all completed units, old + new,
    orphans from interrupted attempts excluded)."""
    spark = inputs.sparkSession
    run_id = uuid.uuid4().hex
    pending = resume_filter(inputs, spark, root, stage, key=key)
    out = stage_fn(pending).withColumn("_run_id", F.lit(run_id))
    out_path = f"{root.rstrip('/')}/{stage}"
    t0 = time.time()
    out.write.mode("append").parquet(out_path)
    wall = time.time() - t0
    # re-read with the schema just written: no schema-inference job
    written = spark.read.schema(out.schema).parquet(out_path)
    fresh = written.filter(F.col("_run_id") == run_id).drop("_run_id")
    record_stage(
        fresh,
        stage,
        root,
        key=key,
        checksum_cols=checksum_cols,
        units=pending.select(key).distinct(),
        run_id=run_id,
        wall_sec=wall,
    )
    # visible = rows whose (unit, run_id) is recorded; orphans from a crash
    # between the output append and the manifest append are filtered out
    done = completed_units(spark, root, stage).select(
        F.col("image_id").alias(key), F.col("run_id").alias("_run_id")
    )
    return written.join(done, [key, "_run_id"], "left_semi").drop("_run_id")
