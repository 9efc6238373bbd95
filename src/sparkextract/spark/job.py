"""The distributed extraction job (SURVEY.md §7.1 spark/job.py).

Pipeline (north_rule):
    read documents → anti-join checkpoint manifest (J2 resume) →
    [small docs] whole-doc ``mapInPandas`` on the scan splits /
    [mega docs] explode → phase-1 ``mapInPandas`` → groupBy(doc_id)
    ``applyInPandas`` finalize → union → write bucketed output + manifest.

Why two paths (SURVEY.md §7.4.2): offsets are doc-local, so a document
split across tasks cannot number its spans locally. Phase 1
(``extract_input_span``) is context-free per input span; phase 2
(``finalize``) is a pure function of the multiset of phase-1 items.
Splitting therefore commutes with extraction and the mega path is
bit-identical to the whole-doc path (tested in test_spark_job.py).

Scale notes:
- the whole-doc path has ZERO shuffles — extraction is embarrassingly
  parallel;
- the mega path shuffles only mega-doc items (~0.1% of docs), keyed by
  doc_id, with AQE skew handling on;
- all Python crossings are Arrow-batched (no per-row Python, input_hint);
- the small/mega split references the source twice, so when it runs
  the input is scanned twice (size(spans) is not pushable into parquet);
  persisting the input or shuffling every doc through the mega path
  would cost more. The split pays only when one doc holds a task longer
  than its share, and no benchmark workload has such a doc: measured on
  the default generator, whole-doc-only routing beat the split path in
  docs/s. ``manifest.run_extraction_job`` therefore passes
  ``skew_threshold=None``, and its data write is one scan with no
  shuffle before the bucketing. Callers that want the split (q42, the
  invariance tests) pass a threshold. Layout would make the split
  path's second scan cheap: store n_spans as a top-level column (filter
  pushdown prunes row groups) or partition the table by an is_mega flag
  (partition pruning skips the second scan's data entirely).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparkextract import config
from sparkextract.schema import EXPLODED_DDL, ITEM_DDL

_EXPLODED_COLS = ["doc_id", "kind", "text", "media_ref", "offset"]
_ITEM_COLS = ["doc_id", "kind", "text", "media_ref", "src_offset", "sub_idx"]


def _spans_to_list(cell) -> list[dict]:
    """Arrow hands array<struct> to pandas as ndarray-of-dicts (or None)."""
    if cell is None:
        return []
    try:
        return [s for s in cell if s is not None]
    except TypeError:
        return []


def _extract_whole_docs(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # imported inside the UDF so the zip shipped via addPyFile resolves on
    # executors even when the driver venv differs (cluster path)
    from sparkextract.core.extract import extract_document

    for pdf in batches:
        rows: list[tuple] = []
        for doc_id, spans in zip(pdf["doc_id"], pdf["spans"]):
            for s in extract_document(_spans_to_list(spans)):
                rows.append((doc_id, s["kind"], s["text"], s["media_ref"], s["offset"]))
        yield pd.DataFrame(rows, columns=_EXPLODED_COLS)


def _phase1_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    from sparkextract.core.extract import extract_input_span

    for pdf in batches:
        rows: list[tuple] = []
        for doc_id, kind, text, media_ref, off in zip(
            pdf["doc_id"], pdf["kind"], pdf["text"], pdf["media_ref"], pdf["offset"]
        ):
            src = int(off) if off is not None and not pd.isna(off) else 0
            for k, t, m, so, si in extract_input_span(
                kind if isinstance(kind, str) else None,
                text if isinstance(text, str) else None,
                media_ref if isinstance(media_ref, str) else None,
                src,
            ):
                rows.append((doc_id, k, t, m, so, si))
        yield pd.DataFrame(rows, columns=_ITEM_COLS)


def _finalize_group(pdf: pd.DataFrame) -> pd.DataFrame:
    from sparkextract.core.extract import finalize

    if pdf.empty:
        return pd.DataFrame(columns=_EXPLODED_COLS)
    doc_id = pdf["doc_id"].iloc[0]
    items = list(
        zip(pdf["kind"], pdf["text"], pdf["media_ref"], pdf["src_offset"], pdf["sub_idx"])
    )
    items = [
        (k, t if isinstance(t, str) else None, m if isinstance(m, str) else None, int(so), int(si))
        for k, t, m, so, si in items
    ]
    rows = [
        (doc_id, s["kind"], s["text"], s["media_ref"], s["offset"])
        for s in finalize(items)
    ]
    return pd.DataFrame(rows, columns=_EXPLODED_COLS)


def extract_exploded(
    docs: DataFrame,
    skew_threshold: int = config.MEGA_DOC_SPAN_THRESHOLD,
    parallelism: int | None = None,
) -> DataFrame:
    """documents(doc_id, spans) -> exploded output spans.

    ``skew_threshold``: docs with more input spans than this take the
    explode/split/reassemble path; pass ``None``/huge to force the
    whole-doc path (used by the invariance tests).

    Extraction is map-only, so the whole-doc path runs directly on the scan
    splits: repartitioning first would shuffle the entire document payload
    once before any work, while file splitting via
    ``spark.sql.files.maxPartitionBytes`` already balances.
    """
    from sparkextract.spark.session import ensure_workers_can_import

    spark = docs.sparkSession
    ensure_workers_can_import(spark)
    parallelism = parallelism or spark.sparkContext.defaultParallelism
    n_span = F.coalesce(F.size("spans"), F.lit(0))

    if skew_threshold is None:
        small, mega = docs, None
    else:
        small = docs.filter(n_span <= skew_threshold)
        mega = docs.filter(n_span > skew_threshold)

    small_out = small.mapInPandas(_extract_whole_docs, schema=EXPLODED_DDL)
    if mega is None:
        return small_out

    # mega-doc path: salt = spread a single doc's spans round-robin over
    # SKEW_RANGE_SIZE-sized ranges, phase-1 anywhere, regroup for finalize
    exploded_in = (
        mega.select("doc_id", F.explode("spans").alias("s"))
        .select(
            "doc_id",
            F.col("s.kind").alias("kind"),
            F.col("s.text").alias("text"),
            F.col("s.media_ref").alias("media_ref"),
            F.col("s.offset").alias("offset"),
        )
        .withColumn(
            "salt",
            F.pmod(
                F.floor(F.col("offset") / config.SKEW_RANGE_SIZE).cast("bigint"),
                F.lit(max(parallelism, 1)),
            ),
        )
        .repartition(parallelism, "doc_id", "salt")
        .drop("salt")
    )
    items = exploded_in.mapInPandas(_phase1_batch, schema=ITEM_DDL)
    mega_out = items.groupBy("doc_id").applyInPandas(_finalize_group, schema=EXPLODED_DDL)
    return small_out.unionByName(mega_out)


def assemble_spans(exploded: DataFrame) -> DataFrame:
    """Exploded rows -> (doc_id, spans array<struct>) sorted by offset.

    Built-in exprs only: sort_array on struct(offset, ...) sorts by the
    leading offset field, then transform reorders the struct fields to the
    canonical (kind, text, media_ref, offset) layout. Rows with a null
    ``kind`` carry no span (``collect_list`` skips the NULL), so a doc
    whose only row is null-kind folds to an empty span array."""
    return (
        exploded.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        F.col("kind").isNotNull(),
                        F.struct("offset", "kind", "text", "media_ref"),
                    )
                )
            ).alias("_s")
        )
        .select(
            "doc_id",
            F.transform(
                "_s",
                lambda x: F.struct(
                    x["kind"].alias("kind"),
                    x["text"].alias("text"),
                    x["media_ref"].alias("media_ref"),
                    x["offset"].alias("offset"),
                ),
            ).alias("spans"),
        )
    )


def extract_documents(docs: DataFrame, **kwargs) -> DataFrame:
    """documents -> (doc_id, spans) extracted output, including docs whose
    extraction is empty (empty array, matching the oracle).

    Zero-span docs are re-attached via a LEFT join from the doc_id list
    into the exploded output *before* the group-assemble — one extraction
    pass, one shuffle. (An anti-join against the assembled result would
    reference the extraction subtree twice in the same plan, and Spark
    recomputes unshared subtrees — at 100 TB that doubles the job.)
    Unmatched docs come out of the join with a null ``kind``, which
    ``assemble_spans`` folds to an empty span array."""
    exploded = extract_exploded(docs, **kwargs)
    return assemble_spans(docs.select("doc_id").join(exploded, "doc_id", "left"))
