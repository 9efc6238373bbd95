"""sparkextract benchmark: the resumable extraction job, end to end.

Usage (from the repository root):

    python3 perfbench/run.py --workload mixed --seed 1 --seconds 30 --trace 0

Workloads:

- ``mixed``: the repo's default generator (``generate_document``): about
  0.1% mega docs carrying about a fifth of the input spans; the core does
  most of the work.
- ``markup``: small docs only, HTML-heavy, with character references and
  comments, so every HTML span takes the HTMLParser fallback and the
  mega-doc path carries no rows.
- ``skew``: most input spans sit in 600-1400-span mega docs, so the
  explode -> salted shuffle -> phase 1 -> finalize path does most of the
  work.
- ``queries``: the 26-query ``headline_core`` suite with its DuckDB
  oracles (see ``perfbench/queries.py``).

For an extraction workload one run does, in one process: launch Spark at
local[4] and warm the Python worker pool (``setup_s``), then time one
``manifest.run_extraction_job`` (scan -> mapInPandas -> bucketed write ->
manifest commit), the first job of the JVM as in a user's one-shot
``spark-submit``. It then reads the committed output back through
``manifest.read_extracted`` + ``job.assemble_spans`` until ``--seconds``
have passed since the job started, at least once (``read_s``, the
median), and compares every document with the single-process oracle.

A traced run adds the scaling pair, with the JIT warm at both levels:
the job once more at local[4], then once in a fresh session at local[1]
in the same JVM (each checked with one read-back). It also times the
core layers single-threaded on a sample of the documents.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the same
protocol with spans recorded and prints the per-layer metrics, self time
per layer and the tracing overhead. The last line of standard output is
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
OUT = os.path.join(HERE, ".out")

EXTRACTION_WORKLOADS = ("mixed", "markup", "skew")
HI, LO = 4, 1  # the north-rule N -> 4N pair, sized for a 4-vCPU machine
# Docs per corpus. At 2400 docs the mixed corpus holds three mega docs
# carrying about a fifth of its input spans, as the 100k-doc corpus does.
N_DOCS = 2400
# Spark driver heap, set explicitly to fit a 15 GB machine shared with other work.
DRIVER_MEM = "4g"
# A run must end within 180 s; past this the run kills its process tree
# and exits non-zero without a result.
WATCHDOG_S = 170

END_TO_END_UNITS = {
    "docs_per_s": "docs/s",
    "cpu_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def _prepare_environment() -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout;
    must run before pyspark is imported."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARKEXTRACT_DRIVER_MEM"] = DRIVER_MEM
    sys.path.insert(0, os.path.join(ROOT, "src"))
    sys.path.insert(0, HERE)


def _warm_pool(batches):
    # import the core in every Python worker so no timed task pays for it
    import sparkextract.core.extract  # noqa: F401

    yield from batches


def new_session(cores: int, tracer):
    """get_spark at local[cores], then warm one Python worker per core."""
    from sparkextract.spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("session.start", cores=cores):
        spark = get_spark(
            f"perfbench-{cores}",
            master=f"local[{cores}]",
            extra_conf={"spark.sql.warehouse.dir": os.path.join(WORK, "warehouse")},
        )
    t1 = time.perf_counter()
    with tracer.span("session.warmup", cores=cores):
        spark.range(0, cores, numPartitions=cores).mapInPandas(_warm_pool, "id long").count()
    return spark, t1 - t0, time.perf_counter() - t1


def shutdown_spark() -> None:
    """Stop the active session and the JVM, and wait for every child."""
    from pyspark import SparkContext

    from tracing import kill_descendants, wait_descendants_gone

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=30)
    if not wait_descendants_gone(20):
        kill_descendants()
        wait_descendants_gone(5)


# -- extraction workloads ------------------------------------------------------


def check_output(table, oracle: dict[str, str]) -> int:
    """Docs whose committed span sequence differs from the oracle's
    (missing and unexpected docs included)."""
    from corpora import span_digest

    got = {row["doc_id"]: span_digest(row["spans"]) for row in table.to_pylist()}
    wrong = sum(1 for doc_id, digest in oracle.items() if got.get(doc_id) != digest)
    return wrong + sum(1 for doc_id in got if doc_id not in oracle)


def extraction_rep(spark, docs, corpus, cores: int, tracer, read_until: float) -> dict:
    """One job, then read-backs until ``read_until`` (perf_counter) has
    passed, at least one; ``read_s`` is their median. The first read in a
    JVM takes ~3.5 s here, later ones ~2 s."""
    from sparkextract.spark.job import assemble_spans
    from sparkextract.spark.manifest import read_extracted, run_extraction_job

    import layers
    from tracing import executions_since, host_cpu_ticks, last_execution_id, tree_cpu_s

    root = os.path.join(WORK, "job")
    shutil.rmtree(root, ignore_errors=True)
    before = last_execution_id(spark) if tracer.enabled else None
    cpu0, (steal0, ticks0) = tree_cpu_s(), host_cpu_ticks()
    t0 = time.perf_counter()
    with tracer.span("job", cores=cores) as job_span:
        committed = run_extraction_job(spark, docs, root)
    job_s = time.perf_counter() - t0
    cpu_s = tree_cpu_s() - cpu0
    steal1, ticks1 = host_cpu_ticks()
    # reported beside the metrics, not as one: how contended the host was
    steal = (steal1 - steal0) / max(ticks1 - ticks0, 1)
    rep = {"cores": cores, "job_s": job_s, "cpu_s": cpu_s, "host_steal_share": steal}
    if tracer.enabled:
        t = time.perf_counter()
        execs = executions_since(spark, before)
        tracer.self_s += time.perf_counter() - t
        tracer.add_executions(job_span, execs)
        rep["layers"] = layers.job_layers(spark, execs, cores)

    read_times = []
    while not read_times or time.perf_counter() < read_until:
        before = last_execution_id(spark) if tracer.enabled else None
        t1 = time.perf_counter()
        with tracer.span("read", cores=cores) as read_span:
            table = assemble_spans(read_extracted(spark, root)).toArrow()
        read_times.append(time.perf_counter() - t1)
        if tracer.enabled:
            tracer.add_executions(read_span, executions_since(spark, before))
    rep["read_s"] = statistics.median(read_times)
    rep["read_times"] = read_times

    n_docs = corpus.descriptors["docs"]
    rep["docs_per_s"] = n_docs / job_s
    rep["failed"] = check_output(table, corpus.oracle) + abs(committed["docs"] - n_docs)
    kinds = table.column("spans").combine_chunks().flatten().field("kind").to_pylist()
    rep["spans_out"] = {k: kinds.count(k) for k in ("text", "table", "form", "image_ocr")}
    shutil.rmtree(root, ignore_errors=True)
    return rep


def timed_level(cores: int, corpus, seconds: int, tracer, jobs: int) -> dict:
    """A fresh session at local[cores]: ``jobs`` jobs, the first with the
    read-backs of the timed phase, later ones with one read-back each; and
    the process tree's peak RSS before the session stops."""
    from tracing import tree_peak_rss_mb

    from sparkextract.schema import DOC_SCHEMA

    spark, start_s, warm_s = new_session(cores, tracer)
    docs = spark.read.schema(DOC_SCHEMA).parquet(corpus.data)
    reps = []
    for _ in range(jobs):
        read_until = time.perf_counter() + seconds if seconds and not reps else 0.0
        rep = extraction_rep(spark, docs, corpus, cores, tracer, read_until)
        reps.append(rep)
        print(
            f"  local[{cores}] rep {len(reps)}: job {rep['job_s']:.3f} s ({rep['docs_per_s']:.1f} docs/s), "
            f"read {rep['read_s']:.3f} s (of {', '.join(f'{t:.2f}' for t in rep['read_times'])}), cpu {rep['cpu_s']:.2f} s, "
            f"host steal {rep['host_steal_share']:.1%}, mismatched docs {rep['failed']}"
        )
    rss = tree_peak_rss_mb()
    print("peak RSS by process (MB): " + ", ".join(f"{k} {v:.0f}" for k, v in sorted(rss.items())))
    spark.stop()
    return {"reps": reps, "start_s": start_s, "warm_s": warm_s, "rss": rss}


def core_sample(docs: list[dict], max_spans: int = 2000) -> list[dict]:
    """Every tenth document, up to ``max_spans`` input spans."""
    sample, n = [], 0
    for d in docs[::10]:
        if n >= max_spans:
            break
        sample.append(d)
        n += len(d["spans"])
    return sample


def run_extraction(args, tracer, launched_at: float) -> tuple[dict, int, int]:
    """Time the first job of a fresh JVM at local[4]; a traced run then adds
    the warm scaling pair and times the core layers."""
    import corpora

    # set-up is process launch to a warm session; corpus preparation is not part of it
    startup_s = time.time() - launched_at
    corpus = corpora.prepare(args.workload, args.seed, N_DOCS)
    print(f"workload {args.workload} seed {args.seed}: {json.dumps(corpus.descriptors)}")
    level = timed_level(HI, corpus, args.seconds, tracer, jobs=2 if tracer.enabled else 1)
    cold, start_s, warm_s = level["reps"][0], level["start_s"], level["warm_s"]
    setup_s = startup_s + start_s + warm_s
    print(f"setup: {setup_s:.3f} s (get_spark {start_s:.3f} s, pool warm-up {warm_s:.3f} s)")
    # the JVM's resident set follows G1's heap sizing (1.7-2.4 GB across
    # identical runs), so peak_rss_mb counts the Python processes and the
    # JVM is reported as its own layer
    jvm_rss_mb = level["rss"].pop("java", 0.0)
    metrics = {
        "docs_per_s": cold["docs_per_s"],
        "cpu_s": cold["cpu_s"],
        "setup_s": setup_s,
        "peak_rss_mb": sum(level["rss"].values()),
    }
    print("end-to-end:")
    for name, v in metrics.items():
        print(f"  {name:<16} {v:10.4f} {END_TO_END_UNITS[name]}")
    reps = list(level["reps"])
    record = {"descriptors": corpus.descriptors, "end_to_end": metrics, "reps": reps}

    if tracer.enabled:
        import layers

        # read_s is a 3-4 s operation of many small tasks; run to run it
        # spreads by about a quarter even on a quiet host, too much for a
        # gated end-to-end metric
        per_layer = {
            "session.start_s": start_s,
            "session.warmup_s": warm_s,
            "jvm.peak_rss_mb": jvm_rss_mb,
            "read_s": cold["read_s"],
        }
        per_layer.update(cold["layers"])
        for kind, n in cold["spans_out"].items():
            per_layer[f"core.spans_out.{kind}"] = n
        # the scaling pair, both with the JIT warm: the second local[4] job
        # and a job in a fresh local[1] session of the same JVM
        hi = reps[1]["docs_per_s"]
        p1 = timed_level(LO, corpus, 0, tracer, jobs=1)["reps"][0]
        reps.append(p1)
        per_layer["docs_per_s.p1"] = p1["docs_per_s"]
        per_layer["scaling_eff"] = hi / (HI / LO * p1["docs_per_s"])
        print(f"scaling (JIT warm): local[{LO}] {p1['docs_per_s']:.1f} docs/s -> local[{HI}] {hi:.1f} docs/s, "
              f"efficiency {per_layer['scaling_eff']:.4f}")
        sample = core_sample(corpus.documents())
        with tracer.span("core", docs=len(sample)):
            per_layer.update(layers.core_layers(sample))
        record["per_layer"] = per_layer

    attempted = corpus.descriptors["docs"] * len(reps)
    failed = sum(r["failed"] for r in reps)
    return record, attempted, failed


# -- reporting ---------------------------------------------------------------


def report_trace(tracer, record: dict, args) -> None:
    """Self time per layer, unattributed job time and tracing overhead."""
    selfs = tracer.self_times()
    job_total = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == "job")
    unattributed = selfs.get("job", 0.0) / job_total if job_total else 0.0
    print("self time per layer (s):")
    for name, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"  {name:<20} {v:9.3f}")
    print(f"unattributed share of job wall time: {unattributed:.4f}")
    print(f"tracer bookkeeping: {tracer.self_s:.3f} s")
    untraced = os.path.join(OUT, f"{args.workload}-s{args.seed}-t0.json")
    base = None
    if os.path.exists(untraced):
        with open(untraced) as f:
            prior = json.load(f)
        if prior.get("descriptors") == record.get("descriptors"):
            base = prior["end_to_end"]
    if base is not None:
        for name, traced in record["end_to_end"].items():
            print(f"tracing overhead {name}: traced {traced:.4f} - untraced {base[name]:.4f} = {traced - base[name]:+.4f}")
    else:
        print(f"tracing overhead: no untraced run of {args.workload} seed {args.seed} recorded yet")
    record["per_layer"]["trace.job.unattributed_share"] = unattributed
    record["per_layer"]["trace.self_s"] = tracer.self_s
    tracer.write(os.path.join(OUT, f"trace-{args.workload}-s{args.seed}.json"))


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True, choices=EXTRACTION_WORKLOADS + ("queries",))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    def _timeout(signum, frame):
        from tracing import kill_descendants

        print(f"benchmark exceeded {WATCHDOG_S} s; aborting", file=sys.stderr)
        kill_descendants()
        os._exit(3)

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(WATCHDOG_S)
    _prepare_environment()
    try:
        from tracing import Tracer, process_start_epoch

        launched_at = process_start_epoch()
        import sparkextract  # noqa: F401  (fails fast outside a full checkout)
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2

    tracer = Tracer(bool(args.trace), run_id=f"{args.workload}-s{args.seed}-{os.getpid()}")
    try:
        with tracer.span("run", workload=args.workload, seed=args.seed):
            if args.workload == "queries":
                import queries

                record, attempted, failed = queries.run(args, tracer, launched_at, new_session)
            else:
                record, attempted, failed = run_extraction(args, tracer, launched_at)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            shutdown_spark()
        except Exception:
            from tracing import kill_descendants

            traceback.print_exc()
            kill_descendants()

    if args.trace:
        report_trace(tracer, record, args)
    metrics = record["per_layer" if args.trace else "end_to_end"]
    units = {**END_TO_END_UNITS, **record.get("end_to_end_units", {})}
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(record, f)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units.get(k) or _layer_unit(k)} for k, v in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def _layer_unit(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("us_per_doc", "us_per_span")):
        return "us"
    if "bytes" in name:
        return "B"
    if name.endswith("docs_per_s.p1"):
        return "docs/s"
    if name.endswith(("tasks_per_core", "task_skew", "share", "eff")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
