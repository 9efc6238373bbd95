"""Checkpoint manifest: per-bucket lineage + metrics, idempotent resume.

Emulates Iceberg snapshot-commit semantics on plain parquet (no Iceberg
jars in the sandbox — SURVEY.md §7.4.3): output data lands under
``data/epoch=<run_id>/bucket=<k>/`` and becomes *visible* only when a
manifest row ``(job_run_id, doc_id_bucket, status='done', metrics...)``
is appended. Readers semi-join data against the manifest, keeping one
epoch per bucket, so a run that dies after writing data but before
committing its manifest rows leaves invisible files, and the rerun
reprocesses those buckets exactly once (FIXTURES.md F3 resume test).

The resume probe is the reference's SHA-256 skip-if-ingested check
(/root/reference/src/rag/rag_pipeline.py:97-105) generalized from
per-document to per-bucket: a left-anti join against completed buckets
(J2, SURVEY.md §2.3).

A run commits in one pass: the data write observes per-bucket span and
table counts, one small collect adds per-bucket doc counts, and the
manifest rows are built on the driver and appended as local data.
After the write, that collect is the only job that reads the input,
and it reads only ``doc_id``.

On a real cluster the same API is backed by an Iceberg manifest table
(``df.writeTo(...).append()`` is atomic per snapshot); the bucket math
``pmod(xxhash64(doc_id), N)`` is identical.
"""

from __future__ import annotations

import os
import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sparkextract import config
from sparkextract.schema import MANIFEST_SCHEMA
from sparkextract.spark.job import extract_exploded


def bucket_expr(num_buckets: int = config.MANIFEST_NUM_BUCKETS):
    return F.pmod(F.xxhash64("doc_id"), F.lit(num_buckets)).cast("int")


def _manifest_dir(root: str) -> str:
    return os.path.join(root, "manifest")


def _data_dir(root: str) -> str:
    return os.path.join(root, "data")


def read_manifest(spark: SparkSession, root: str) -> DataFrame:
    mdir = _manifest_dir(root)
    if not os.path.isdir(mdir) or not any(
        f.endswith(".parquet") for f in os.listdir(mdir)
    ):
        return spark.createDataFrame([], MANIFEST_SCHEMA)
    return spark.read.schema(MANIFEST_SCHEMA).parquet(mdir)


def done_buckets(spark: SparkSession, root: str) -> DataFrame:
    """One row per completed bucket; earliest commit wins (idempotency
    under concurrent/duplicated runs)."""
    m = read_manifest(spark, root).filter(F.col("status") == "done")
    return m.groupBy("doc_id_bucket").agg(
        F.min_by("job_run_id", "committed_at").alias("job_run_id")
    )


def filter_todo(
    docs: DataFrame,
    spark: SparkSession,
    root: str,
    num_buckets: int = config.MANIFEST_NUM_BUCKETS,
    bucket_col=None,
) -> DataFrame:
    """J2: drop documents whose bucket is already committed. The done-
    bucket set is tiny (<= num_buckets rows) → broadcast anti-join, no
    shuffle of the big side.

    ``bucket_col`` overrides the default xxhash64 bucket expression
    (q95 passes the engine-portable md5 bucket so the DuckDB oracle can
    reproduce the assignment; a real deployment keeps xxhash64)."""
    done = done_buckets(spark, root).select("doc_id_bucket")
    bucket = bucket_expr(num_buckets) if bucket_col is None else bucket_col.cast("int")
    return (
        docs.withColumn("doc_id_bucket", bucket)
        .join(F.broadcast(done), "doc_id_bucket", "left_anti")
    )


def run_extraction_job(
    spark: SparkSession,
    docs: DataFrame,
    root: str,
    run_id: str | None = None,
    num_buckets: int = config.MANIFEST_NUM_BUCKETS,
    fail_after_buckets: int | None = None,
    bucket_col=None,
) -> dict:
    """One resumable run: anti-join manifest → extract → write → commit.

    ``fail_after_buckets`` simulates a mid-job crash for the resume test:
    only buckets with ``doc_id_bucket < fail_after_buckets`` get manifest
    rows, mimicking a run killed between data write and full commit. The
    rule is deterministic on the bucket ID (not on which buckets happen to
    be non-empty), so an oracle can reproduce the run split exactly even
    if some low bucket were empty at a tiny scale factor.

    Every doc takes the whole-doc path (``skew_threshold=None``), so the
    data write scans the input once and shuffles only for the bucketing.
    The mega-doc split costs a second input scan plus a shuffle, and no
    benchmark workload holds a doc for which salting pays that back (see
    the ``spark.job`` docstring).

    Returns run metrics (docs/spans/tables processed, wall seconds).
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.time()

    todo = filter_todo(docs, spark, root, num_buckets, bucket_col=bucket_col)
    exploded = extract_exploded(todo.drop("doc_id_bucket"), skew_threshold=None)
    out_bucket = bucket_expr(num_buckets) if bucket_col is None else bucket_col.cast("int")
    exploded = exploded.withColumn("bucket", out_bucket)

    # The data write carries the per-bucket span/table counts through
    # df.observe(). Grouped aggs aren't expressible there, hence one
    # count_if pair per bucket, each one SQL string (one py4j call apiece).
    # The CollectMetrics node sits ABOVE the bucket repartition, i.e. in
    # the result/write stage: observed-metric updates from the final
    # stage are deduplicated per successful task, whereas a map-stage
    # observe can double-count under stage retry / speculation on a real
    # cluster (fetch-failure re-execution re-runs map tasks).
    obs = Observation(f"bucket_metrics_{run_id}")
    aggs = []
    for k in range(num_buckets):
        aggs.append(F.expr(f"count_if(bucket = {k}) AS sc_{k}"))
        aggs.append(
            F.expr(f"count_if(bucket = {k} AND kind = '{config.KIND_TABLE}') AS tc_{k}")
        )

    out_dir = os.path.join(_data_dir(root), f"epoch={run_id}")
    (
        exploded.repartition("bucket")
        .observe(obs, *aggs)
        .write.partitionBy("bucket")
        .mode("overwrite")
        .parquet(out_dir)
    )

    # doc counts come from `todo`, not the output, so buckets whose docs
    # all extract to nothing still commit
    metrics = obs.get
    doc_counts = todo.groupBy("doc_id_bucket").agg(F.countDistinct("doc_id")).collect()
    wall_ms = int((time.time() - t0) * 1000)
    committed_at = datetime.now(timezone.utc)
    rows = [
        (run_id, k, "done", n_docs, metrics.get(f"sc_{k}", 0), metrics.get(f"tc_{k}", 0),
         wall_ms, committed_at)
        for k, n_docs in sorted(doc_counts)
        if fail_after_buckets is None or k < fail_after_buckets
    ]
    spark.createDataFrame(rows, MANIFEST_SCHEMA).coalesce(1).write.mode("append").parquet(
        _manifest_dir(root)
    )

    return {
        "run_id": run_id,
        "docs": sum(r[3] for r in rows),
        "spans": sum(r[4] for r in rows),
        "tables": sum(r[5] for r in rows),
        "wall_s": time.time() - t0,
    }


def read_extracted(spark: SparkSession, root: str) -> DataFrame:
    """Committed output only: semi-join data files against the manifest's
    winning (bucket, epoch) pairs."""
    ddir = _data_dir(root)
    data = spark.read.option("basePath", ddir).parquet(ddir)
    data = data.withColumn("epoch", F.regexp_extract(F.input_file_name(), r"epoch=([^/]+)/", 1))
    wins = done_buckets(spark, root).select(
        F.col("doc_id_bucket").alias("bucket"), F.col("job_run_id").alias("epoch")
    )
    return (
        data.join(F.broadcast(wins), ["bucket", "epoch"], "left_semi")
        .select("doc_id", "kind", "text", "media_ref", "offset")
    )
