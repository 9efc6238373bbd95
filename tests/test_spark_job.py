"""End-to-end Spark tests (SURVEY.md §5.2): span-sequence equality vs the
pure-pandas oracle, mega-doc path equivalence, partitioning invariance,
and checkpoint/resume idempotency."""

import os

import pytest
from pyspark.sql import functions as F

from sparkextract.core.extract import extract_document
from sparkextract.corpus import MEGA_SPAN_MIN, generate_corpus
from sparkextract.spark.datagen import corpus_df
from sparkextract.spark.job import assemble_spans, extract_documents, extract_exploded
from sparkextract.spark.manifest import read_extracted, run_extraction_job
from sparkextract.spark.session import get_spark

N_DOCS = 180  # covers edge docs (i%101==3) and at least one mega doc (i%997==13)


@pytest.fixture(scope="module")
def spark():
    s = get_spark("sparkextract-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="module")
def docs(spark):
    return corpus_df(spark, N_DOCS, seed=42, partitions=6).cache()


def _oracle(n_docs=N_DOCS):
    return {d["doc_id"]: extract_document(d["spans"]) for d in generate_corpus(n_docs)}


def _collect_spans(df):
    out = {}
    for row in df.collect():
        out[row["doc_id"]] = [
            {"kind": s["kind"], "text": s["text"], "media_ref": s["media_ref"], "offset": s["offset"]}
            for s in (row["spans"] or [])
        ]
    return out


def test_corpus_df_matches_generator(spark, docs):
    """Distributed generation == single-process generation (determinism)."""
    local = {d["doc_id"]: d["spans"] for d in generate_corpus(N_DOCS)}
    dist = _collect_spans(docs)
    assert dist.keys() == local.keys()
    assert dist == {k: [dict(s) for s in v] for k, v in local.items()}


def test_extraction_matches_oracle(spark, docs):
    """THE correctness gate: span-sequence equality (kind, text, media_ref,
    order) per doc vs the oracle (BASELINE.json input_hint)."""
    golden = _oracle()
    got = _collect_spans(extract_documents(docs, skew_threshold=100))
    assert got.keys() == golden.keys()
    mismatches = [k for k in golden if got[k] != golden[k]]
    assert mismatches == [], f"first mismatch: {mismatches[0] if mismatches else None}"


def test_mega_path_equals_whole_doc_path(spark, docs):
    """Forcing every doc down the explode/split/reassemble path must give
    byte-identical output to the whole-doc path."""
    whole = _collect_spans(extract_documents(docs, skew_threshold=10**9))
    split = _collect_spans(extract_documents(docs, skew_threshold=0))
    assert whole == split


def test_partitioning_invariance(spark, docs):
    """Same output at different parallelism/partitioning (SURVEY §7.4.1)."""
    a = extract_exploded(docs.repartition(1), skew_threshold=100)
    b = extract_exploded(docs.repartition(16), skew_threshold=100)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb


def test_resume_idempotent(spark, docs, tmp_path_factory):
    """FIXTURES.md F3: crash after partial manifest commit → rerun →
    output equals a single uninterrupted run, no doc processed twice."""
    root_a = str(tmp_path_factory.mktemp("job_single"))
    root_b = str(tmp_path_factory.mktemp("job_resumed"))
    nb = 8

    run_extraction_job(spark, docs, root_a, run_id="single", num_buckets=nb)
    full = sorted(map(tuple, read_extracted(spark, root_a).collect()))

    # crashed run: data written for all buckets, manifest only for 3
    run_extraction_job(spark, docs, root_b, run_id="crashed", num_buckets=nb,
                       fail_after_buckets=3)
    partial = read_extracted(spark, root_b)
    n_buckets_visible = partial.select(
        F.pmod(F.xxhash64("doc_id"), F.lit(nb)).alias("b")).distinct().count()
    assert n_buckets_visible <= 3

    # resumed run: must only process the remaining buckets
    m2 = run_extraction_job(spark, docs, root_b, run_id="resume", num_buckets=nb)
    resumed = sorted(map(tuple, read_extracted(spark, root_b).collect()))
    assert resumed == full

    # no double-processing: every doc appears under exactly one epoch
    from sparkextract.spark.manifest import read_manifest
    m = read_manifest(spark, root_b).filter(F.col("status") == "done")
    per_bucket = m.groupBy("doc_id_bucket").count().filter(F.col("count") > 1).count()
    assert per_bucket == 0
    assert m2["docs"] > 0


def test_empty_and_null_spans(spark):
    from sparkextract.schema import DOC_SCHEMA
    df = spark.createDataFrame(
        [("d-empty", []), ("d-null", None)], schema=DOC_SCHEMA
    )
    out = _collect_spans(extract_documents(df, skew_threshold=100))
    assert out == {"d-empty": [], "d-null": []}


def test_assemble_roundtrip(spark, docs):
    exploded = extract_exploded(docs, skew_threshold=100)
    assembled = assemble_spans(exploded)
    back = assembled.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, exploded.collect()))


def _sql_plans(spark, after_id=-1):
    """(id, physical plan text) of the session's SQL executions after
    ``after_id``, read from the SQL status store."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = [execs.apply(i) for i in range(execs.size())]
    return [(e.executionId(), e.physicalPlanDescription()) for e in out
            if e.executionId() > after_id]


def test_manifest_counts_match_output(spark, docs, tmp_path_factory):
    """Every committed manifest row's counts equal a groupBy over the input
    and the committed output, a bucket holding only empty-output docs
    still commits, the returned totals are the rows' sums, and every
    committed doc, the mega doc included, equals the oracle."""
    from sparkextract.schema import DOC_SCHEMA
    from sparkextract.spark.manifest import read_manifest

    root = str(tmp_path_factory.mktemp("job_counts"))
    empty = spark.createDataFrame(
        [
            ("empty-list", []),
            ("empty-null", None),
            ("empty-spans", [("text", None, None, 0), ("html", "  ", None, None)]),
        ],
        schema=DOC_SCHEMA,
    )
    corpus = docs.unionByName(empty)
    # empty-output docs get bucket 3 to themselves; the rest spread over 0-2
    bucket = F.when(F.col("doc_id").startswith("empty-"), F.lit(3)).otherwise(
        F.pmod(F.xxhash64("doc_id"), F.lit(3))
    )
    before = max((i for i, _ in _sql_plans(spark)), default=-1)
    got = run_extraction_job(spark, corpus, root, run_id="counts", num_buckets=4,
                             bucket_col=bucket)
    job_plans = [plan for _, plan in _sql_plans(spark, before)]

    rows = {r["doc_id_bucket"]: r for r in read_manifest(spark, root).collect()}
    want_docs = dict(corpus.groupBy(bucket.alias("b")).count().collect())
    out = read_extracted(spark, root).withColumn("b", bucket)
    want_spans = dict(out.groupBy("b").count().collect())
    want_tables = dict(out.filter(F.col("kind") == "table").groupBy("b").count().collect())

    assert sorted(rows) == [0, 1, 2, 3]
    for k, r in rows.items():
        assert (r["job_run_id"], r["status"]) == ("counts", "done")
        assert r["doc_count"] == want_docs[k]
        assert r["span_count"] == want_spans.get(k, 0)
        assert r["table_count"] == want_tables.get(k, 0)
    assert (rows[3]["doc_count"], rows[3]["span_count"]) == (3, 0)
    assert sum(r["table_count"] for r in rows.values()) > 0
    assert got["docs"] == sum(r["doc_count"] for r in rows.values())
    assert got["spans"] == sum(r["span_count"] for r in rows.values())
    assert got["tables"] == sum(r["table_count"] for r in rows.values())

    # the job runs every doc whole, the mega doc too: its write has the
    # whole-doc node and no finalize node
    n_spans = docs.select(F.coalesce(F.size("spans"), F.lit(0))).collect()
    assert max(r[0] for r in n_spans) >= MEGA_SPAN_MIN
    assert any("MapInPandas" in plan for plan in job_plans)
    assert not any("FlatMapGroupsInPandas" in plan for plan in job_plans)
    committed = _collect_spans(
        assemble_spans(corpus.select("doc_id").join(read_extracted(spark, root), "doc_id", "left"))
    )
    want = _oracle()
    want.update({d: [] for d in ("empty-list", "empty-null", "empty-spans")})
    assert committed == want
