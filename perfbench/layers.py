"""Per-layer metrics of one extraction job and of the extraction core.

Job layers are read from the SQL executions the job ran (see
``trace.executions_since``); core layers are timed single-threaded in this
process on a fixed sample of the workload's documents, through the public
functions of ``sparkextract.core``.
"""

from __future__ import annotations

import statistics
import time

from sparkextract import config
from sparkextract.core.boilerplate import extract_html
from sparkextract.core.extract import extract_document, extract_input_span, finalize
from sparkextract.core.normalize import normalize_text
from sparkextract.core.ocr import pseudo_ocr_text
from sparkextract.core.segment import chunk_text
from sparkextract.core.tables import parse_pdf_layout, render_form, render_table

_EXCHANGES = ("Exchange", "AQEShuffleRead", "ShuffleQueryStage")


def _metric(node: dict | None, name: str) -> float:
    if node is None or name not in node["metrics"]:
        return 0.0
    return node["metrics"][name]["value"]


def _first_below(nodes: dict, node: dict, stop) -> dict | None:
    """Nearest node feeding ``node`` (breadth-first) that satisfies ``stop``."""
    todo = list(node["children"])
    seen = set()
    while todo:
        nid = todo.pop(0)
        if nid in seen or nid not in nodes:
            continue
        seen.add(nid)
        n = nodes[nid]
        if stop(n):
            return n
        todo.extend(n["children"])
    return None


def _is_exchange(n: dict) -> bool:
    return n["name"].startswith("Exchange")


def _fed_by_shuffle(nodes: dict, node: dict) -> bool:
    hit = _first_below(
        nodes, node, lambda n: n["name"].startswith(_EXCHANGES) or n["name"].startswith("Scan")
    )
    return hit is not None and not hit["name"].startswith("Scan")


def _task_skew(node: dict | None) -> float:
    run = (node or {}).get("metrics", {}).get("time to run Python workers", {})
    if run.get("med"):
        return run["max"] / run["med"]
    return 1.0


def job_layers(spark, executions: list[dict], cores: int) -> dict:
    """Layer metrics of one ``run_extraction_job`` call from its executions."""
    data_write = next(
        e for e in executions if any(n["name"] == "MapInPandas" for n in e["nodes"].values())
    )
    nodes = data_write["nodes"]
    scans = [n for n in nodes.values() if n["name"].startswith("Scan parquet")]
    maps = [n for n in nodes.values() if n["name"] == "MapInPandas"]
    whole = next((n for n in maps if not _fed_by_shuffle(nodes, n)), None)
    phase1 = next((n for n in maps if _fed_by_shuffle(nodes, n)), None)
    fin = next((n for n in nodes.values() if n["name"] == "FlatMapGroupsInPandas"), None)
    insert = next(
        n for n in nodes.values() if n["name"].startswith("Execute InsertIntoHadoopFsRelationCommand")
    )
    mega_ex = [x for x in (_first_below(nodes, n, _is_exchange) for n in (phase1, fin) if n) if x]

    stage = (whole or {}).get("metrics", {}).get("time to run Python workers", {}).get("stage")
    scan_tasks = 1
    if stage is not None:
        info = spark.sparkContext.statusTracker().getStageInfo(stage)
        scan_tasks = info.numTasks if info is not None else 1

    job_end = max(e["end"] for e in executions)
    return {
        "job.scan.count": len(scans),
        "job.scan.s": sum(_metric(n, "scan time") for n in scans),
        "job.scan.bytes": sum(_metric(n, "size of files read") for n in scans),
        "job.scan.tasks_per_core": scan_tasks / cores,
        "job.whole.py_start_s": _metric(whole, "time to start Python workers"),
        "job.whole.py_init_s": _metric(whole, "time to initialize Python workers"),
        "job.whole.py_run_s": _metric(whole, "time to run Python workers"),
        "job.whole.bytes_to_py": _metric(whole, "data sent to Python workers"),
        "job.whole.bytes_from_py": _metric(whole, "data returned from Python workers"),
        "job.whole.rows_out": _metric(whole, "number of output rows"),
        "job.mega.phase1.py_init_s": _metric(phase1, "time to initialize Python workers"),
        "job.mega.phase1.py_run_s": _metric(phase1, "time to run Python workers"),
        "job.mega.finalize.py_init_s": _metric(fin, "time to initialize Python workers"),
        "job.mega.finalize.py_run_s": _metric(fin, "time to run Python workers"),
        "job.mega.shuffle_bytes": sum(_metric(x, "shuffle bytes written") for x in mega_ex),
        "job.mega.rows": _metric(mega_ex[0], "shuffle records written") if mega_ex else 0.0,
        "job.task_skew": max(_task_skew(whole), _task_skew(phase1)),
        "job.spill_bytes": sum(
            _metric(n, "spill size") for e in executions for n in e["nodes"].values()
        ),
        "manifest.write_s": data_write["end"] - data_write["start"],
        "manifest.bytes_written": _metric(insert, "written output"),
        "manifest.files_written": _metric(insert, "number of written files"),
        "manifest.commit_s": job_end - data_write["end"],
    }


def _per_unit_us(fn, units: list, passes: int = 3) -> float:
    """Median over ``passes`` of microseconds per call of ``fn`` on ``units``."""
    if not units:
        return 0.0
    times = []
    for _ in range(passes):
        t0 = time.perf_counter()
        for u in units:
            fn(u)
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(units) * 1e6


def _tables(norm: str) -> None:
    content = parse_pdf_layout(norm)
    for grid in content.tables:
        render_table(grid)
    render_form(content.form_fields)


def core_layers(docs: list[dict]) -> dict:
    """Single-threaded timings of each core layer on ``docs``."""
    spans = [s for d in docs for s in d["spans"]]
    textual = [s["text"] for s in spans if s["kind"] != config.IN_MEDIA]
    html = [normalize_text(s["text"]) for s in spans if s["kind"] == config.IN_HTML and s["text"]]
    pdf = [normalize_text(s["text"]) for s in spans if s["kind"] == config.IN_PDF and s["text"]]
    prose = [normalize_text(s["text"]) for s in spans if s["kind"] == config.IN_TEXT and s["text"]]
    media = [s["media_ref"] for s in spans if s["kind"] == config.IN_MEDIA]
    items = [
        [
            it
            for s in d["spans"]
            for it in extract_input_span(s["kind"], s["text"], s["media_ref"], s["offset"] or 0)
        ]
        for d in docs
    ]
    return {
        "core.extract.us_per_doc": _per_unit_us(lambda d: extract_document(d["spans"]), docs),
        "core.finalize.us_per_doc": _per_unit_us(finalize, items),
        "core.boilerplate.us_per_span": _per_unit_us(extract_html, html),
        "core.tables.us_per_span": _per_unit_us(_tables, pdf),
        "core.segment.us_per_span": _per_unit_us(chunk_text, prose),
        "core.normalize.us_per_span": _per_unit_us(normalize_text, textual),
        "core.ocr.us_per_span": _per_unit_us(pseudo_ocr_text, media),
    }
