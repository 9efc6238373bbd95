"""The ``queries`` workload: the frozen 26-query ``headline_core`` suite.

Tables are generated from the seed with the schema and value domains of
the repo's sf0.01 test tables (``documents.text`` keeps the single-line,
single-spaced, punctuation-free vocabulary the extraction queries'
oracles rely on). Each repetition runs in a fresh Spark session, so
``queries.base.checkpoint_memo`` builds fall inside the timing as on a
user's first run, and materializes every output column with
``toArrow()``. Every result is compared with ``registry.ORACLE_SQL`` on
DuckDB, canonicalized by ``tools/check_queries.py``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
CACHE_VERSION = 1

# The r4 headline subset, frozen so suite times compare across rounds.
HEADLINE_CORE = (
    "q01_pricing_summary", "q02_top_revenue_orders", "q03_region_sales",
    "q07_running_value", "q11_dedup_exact", "q19_minhash_signature",
    "q23_token_topk", "q27_cosine_topk", "q28_lsh_buckets",
    "q40_extract_passthrough", "q42_extract_mega_skew", "q44_media_featurize",
    "q46_ivf_topk", "q53_banded_lsh_near_dup", "q54_chunk_overlap",
    "q64_pdf_table_form", "q67_winnowing_fingerprints", "q68_simhash_near_dup",
    "q73_tfidf_topk", "q82_sessionize", "q84_repetition_rules",
    "q87_lm_quality_score", "q88_pmi_cooccurrence", "q91_ngram_decontamination",
    "q96_block_dedup", "q99_exact_substring_dedup",
)
# Row counts of the sf0.01 tables. sf0.1 takes 80-100 s per suite pass on
# a 4-vCPU box, more than one benchmark run may take.
ROWS = {"customer": 1500, "orders": 15000, "lineitem": 60000, "events": 10000,
        "documents": 500, "embeddings": 500}
_WORDS = (
    "fast spark line small customer group key agg scan slow table part a merge "
    "window order column join vector value hash batch sort data big filter dup "
    "row the query stream"
).split()
_T0 = np.datetime64("1995-01-01", "us")
_DAY_US = 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, lo_day, hi_day, n):
    return _T0 + rng.integers(lo_day, hi_day, n) * _DAY_US


def _documents(rng) -> pa.Table:
    n = ROWS["documents"]
    texts = []
    for i in range(n):
        r = rng.random()
        if texts and r < 0.1:  # near-duplicate of an earlier doc
            words = texts[rng.integers(len(texts))].split(" ")
            words[rng.integers(len(words))] = _WORDS[rng.integers(len(_WORDS))]
            texts.append(" ".join(words))
            continue
        k = int(rng.integers(10, 90))
        text = " ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k))
        texts.append(text[:553] if len(text) >= 48 else (text + " data") * 5)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [("en", "de", "es", "fr", "zh")[j] for j in rng.choice(5, n, p=[0.5, 0.15, 0.15, 0.1, 0.1])],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    n, dim = ROWS["embeddings"], 64
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 1.5, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_c, n_o, n_l, n_e = (ROWS[t] for t in ("customer", "orders", "lineitem", "events"))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": [("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")[j]
                             for j in rng.integers(0, 5, n_c)],
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_o)],
            "o_totalprice": _money(rng, 1000, 500000, n_o),
            "o_orderdate": pa.array(_days(rng, 0, 2404, n_o), pa.timestamp("us")),
            "o_orderpriority": [("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")[j]
                                for j in rng.integers(0, 5, n_o)],
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_l), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, 100, n_l), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_l),
            "l_discount": rng.integers(0, 11, n_l) / 100.0,
            "l_tax": rng.integers(0, 9, n_l) / 100.0,
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_l)],
            "l_shipdate": pa.array(_days(rng, 1, 2499, n_l), pa.timestamp("us")),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_e), pa.int64()),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us")
                + np.cumsum(rng.integers(1_000_000, 520_000_000, n_e)),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, 150, n_e), pa.int64()),
            "event_type": [("click", "error", "purchase", "signup", "view")[j]
                           for j in rng.integers(0, 5, n_e)],
            "value": np.maximum(np.round(rng.exponential(50, n_e), 2), 0.01),
            "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_e)],
        }),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }
    return tables


def _check_module():
    sys.path.insert(0, os.path.join(os.path.dirname(HERE), "tools"))
    import check_queries

    return check_queries


def prepare(seed: int) -> tuple[str, dict]:
    """Tables and canonical DuckDB oracle rows for ``seed`` (cached)."""
    path = os.path.join(CACHE, f"queries-s{seed}-v{CACHE_VERSION}")
    oracle_file = os.path.join(path, "oracle.json")
    if not os.path.exists(os.path.join(path, "_DONE")):
        import duckdb

        from sparkextract.queries.registry import ORACLE_SQL

        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        for name, table in generate_tables(seed).items():
            pq.write_table(table, os.path.join(path, f"{name}.parquet"))
        canon = _check_module()
        con = duckdb.connect()
        for name in ROWS | {"region": 0, "nation": 0}:
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/{name}.parquet')")
        oracle = {}
        for q in HEADLINE_CORE:
            res = con.execute(ORACLE_SQL[q])
            cols = [d[0].lower() for d in res.description]
            oracle[q] = {"cols": sorted(cols), "rows": canon.rows_to_set(cols, res.fetchall())}
        con.close()
        with open(oracle_file, "w") as f:
            json.dump(oracle, f)
        open(os.path.join(path, "_DONE"), "w").close()
    with open(oracle_file) as f:
        return path, json.load(f)


def _matches(table: pa.Table, expected: dict, canon) -> bool:
    cols = [c.lower() for c in table.column_names]
    rows = list(zip(*(c.to_pylist() for c in table.columns))) if cols else []
    got = canon.rows_to_set(cols, rows)
    return sorted(cols) == expected["cols"] and json.loads(json.dumps(got)) == expected["rows"]


def run(args, tracer, launched_at: float, new_session) -> tuple[dict, int, int]:
    """Time the suite in fresh sessions for ``--seconds`` (at least once)."""
    from sparkextract.queries.registry import SPARK_QUERIES
    from tracing import executions_since, last_execution_id, tree_cpu_s, tree_peak_rss_mb

    canon = _check_module()
    spark, start_s, warm_s = new_session(4, tracer)
    setup_s = time.time() - launched_at
    print(f"setup: {setup_s:.3f} s (get_spark {start_s:.3f} s, pool warm-up {warm_s:.3f} s)")
    sf_dir, oracle = prepare(args.seed)
    per_query: dict[str, list[float]] = {q: [] for q in HEADLINE_CORE}
    suites, cpus, failed, attempted = [], [], 0, 0
    scan_bytes = shuffle_bytes = 0.0
    t_start = time.perf_counter()
    while not suites or time.perf_counter() - t_start < args.seconds:
        if suites:  # a fresh session per repetition
            spark.stop()
            spark, _, _ = new_session(4, tracer)
        before = last_execution_id(spark) if tracer.enabled else None
        cpu0 = tree_cpu_s()
        with tracer.span("suite") as suite_span:
            for q in HEADLINE_CORE:
                t0 = time.perf_counter()
                with tracer.span("query", query=q):
                    table = SPARK_QUERIES[q](spark, sf_dir).toArrow()
                per_query[q].append(time.perf_counter() - t0)
                attempted += 1
                failed += not _matches(table, oracle[q], canon)
        cpus.append(tree_cpu_s() - cpu0)
        suites.append(sum(v[-1] for v in per_query.values()))
        print(f"  suite rep {len(suites)}: {suites[-1]:.3f} s, cpu {cpus[-1]:.2f} s, failed so far {failed}")
        if tracer.enabled:
            execs = executions_since(spark, before)
            tracer.add_executions(suite_span, execs)
            nodes = [n for e in execs for n in e["nodes"].values()]
            scan_bytes = sum(n["metrics"].get("size of files read", {}).get("value", 0.0) for n in nodes)
            shuffle_bytes = sum(n["metrics"].get("shuffle bytes written", {}).get("value", 0.0) for n in nodes)
    metrics = {
        "suite_s": statistics.median(suites),
        "cpu_s": statistics.median(cpus),
        "setup_s": setup_s,
        # as for the extraction workloads: Python processes; the JVM apart
        "peak_rss_mb": sum(v for k, v in tree_peak_rss_mb().items() if k != "java"),
    }
    spark.stop()
    for name, v in metrics.items():
        print(f"  {name:<16} {v:10.4f}")
    record = {
        "end_to_end": metrics,
        "end_to_end_units": {"suite_s": "s", "cpu_s": "s", "setup_s": "s", "peak_rss_mb": "MB"},
        "reps": {"suite_s": suites, "cpu_s": cpus},
    }
    if tracer.enabled:
        per_layer = {f"queries.{q}.s": statistics.median(v) for q, v in per_query.items()}
        per_layer.update({"queries.scan_bytes": scan_bytes, "queries.shuffle_bytes": shuffle_bytes,
                          "session.start_s": start_s, "session.warmup_s": warm_s})
        record["per_layer"] = per_layer
    return record, attempted, failed
