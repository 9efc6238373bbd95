"""Seeded input corpora for the extraction workloads, plus their oracle.

Every corpus is a pure function of (workload, seed): documents come from
``sparkextract.corpus.generate_document`` and, for ``markup`` and
``skew``, a transform defined here. Each corpus is written once per
(workload, seed) under ``perfbench/.cache/`` together with the oracle
(``core.extract.extract_document`` run single-process on every document)
and the workload's input descriptors, so repeated runs on one seed do not
pay for generation. Generation and the oracle run in a few forked
processes, before any Spark process exists.
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
import os
import random
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from sparkextract import config
from sparkextract.core.extract import extract_document
from sparkextract.corpus import MEGA_DOC_MODULUS, generate_document

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")
CACHE_VERSION = 1

# skew: docs per corpus as a share of the requested size; its mega docs
# carry ~1000 spans each, so fewer docs give a job of similar length.
SIZE_SHARE = {"mixed": 1.0, "markup": 1.0, "skew": 0.2}
# Files per corpus: with Spark's default split sizing this gives about
# one scan task per core at local[4] and a single task at local[1].
N_FILES = 16
# skew: every SKEW_EVERY-th doc is a 600-1400-span mega doc.
SKEW_EVERY = 30
# Processes that generate a corpus and compute its oracle (one per core
# of a 4-vCPU machine).
BUILD_PROCS = 4

_SPAN_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
_DOC_SCHEMA = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(_SPAN_TYPE))])

_CHARREF_OR_COMMENT = re.compile(r"&#?\w+;|<!--")
_TEXT_RUN = re.compile(r">([^<]+)<")
_ENTITIES = ("&amp;", "&nbsp;", "&mdash;", "&#8217;", "&quot;", "&eacute;", "&#x2013;")


# -- workload transforms ----------------------------------------------------


def _webify_text(rng: random.Random, run: str) -> str:
    """Sprinkle character references into one text run between tags."""
    words = run.split(" ")
    for i in range(len(words)):
        r = rng.random()
        if r < 0.06:
            words[i] = words[i] + rng.choice(_ENTITIES)
        elif r < 0.10 and words[i] == "and":
            words[i] = "&amp;"
    return " ".join(words)


def _webify(rng: random.Random, html: str) -> str:
    """Real-web markup: entities in text runs, comments between blocks."""
    html = _TEXT_RUN.sub(lambda m: ">" + _webify_text(rng, m.group(1)) + "<", html)
    html = html.replace("<article>", "<!-- main content --><article>", 1)
    return re.sub(
        r"</p>",
        lambda m: "</p><!-- ad slot -->" if rng.random() < 0.3 else "</p>",
        html,
    )


def _prose_to_html(rng: random.Random, text: str) -> str:
    paras = "".join(f"<p>{p}</p>" for p in text.split("\n\n") if p.strip())
    return (
        '<html><body><nav><a href="/">home</a> <a href="/about">about us</a></nav>'
        f"<article>{paras}</article>"
        f"<footer><p>&copy; {rng.randint(1990, 2030)} example corp</p></footer>"
        "</body></html>"
    )


def _markup_doc(index: int, seed: int) -> dict:
    """Small docs only, HTML-heavy: most prose spans become web pages and
    every HTML span carries character references and comments."""
    doc = generate_document(index, seed)
    rng = random.Random(f"markup:{seed}:{index}")
    spans = []
    for s in doc["spans"][:8]:
        s = dict(s)
        if s["kind"] in (config.IN_TEXT, config.IN_PDF) and s["text"] and rng.random() < 0.8:
            s["kind"], s["text"] = config.IN_HTML, _prose_to_html(rng, s["text"])
        if s["kind"] == config.IN_HTML and s["text"]:
            s["text"] = _webify(rng, s["text"])
        spans.append(s)
    return {"doc_id": doc["doc_id"], "spans": spans}


def _skew_doc(index: int, seed: int) -> dict:
    """Every SKEW_EVERY-th doc is a mega doc borrowed from the generator's
    own mega indices, so most input spans sit in mega docs."""
    if index % SKEW_EVERY:
        return generate_document(index, seed)
    mega = generate_document(13 + MEGA_DOC_MODULUS * (index // SKEW_EVERY), seed)
    return {"doc_id": f"skew-{seed}-{index:09d}", "spans": mega["spans"]}


_GENERATORS = {"mixed": generate_document, "markup": _markup_doc, "skew": _skew_doc}


# -- oracle and descriptors --------------------------------------------------


def span_digest(spans) -> str:
    """Digest of one doc's output span sequence (kind, text, media_ref, offset)."""
    canon = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
    return hashlib.md5(json.dumps(canon, ensure_ascii=False).encode()).hexdigest()


def describe(docs: list[dict]) -> dict:
    n_spans = mega_spans = html_spans = html_web = 0
    for d in docs:
        k = len(d["spans"])
        n_spans += k
        if k > config.MEGA_DOC_SPAN_THRESHOLD:
            mega_spans += k
        for s in d["spans"]:
            if s["kind"] == config.IN_HTML:
                html_spans += 1
                html_web += bool(s["text"] and _CHARREF_OR_COMMENT.search(s["text"]))
    return {
        "docs": len(docs),
        "input_spans": n_spans,
        "mega_span_share": round(mega_spans / max(n_spans, 1), 4),
        "html_span_share": round(html_spans / max(n_spans, 1), 4),
        "html_charref_or_comment_share": round(html_web / max(html_spans, 1), 4),
    }


class Corpus:
    """A materialized corpus: parquet files, oracle digests, descriptors."""

    def __init__(self, path: str):
        self.data = os.path.join(path, "data")
        with open(os.path.join(path, "oracle.json")) as f:
            meta = json.load(f)
        self.oracle: dict[str, str] = meta["digests"]
        self.descriptors: dict = meta["descriptors"]

    def documents(self) -> list[dict]:
        return pq.read_table(self.data).to_pylist()


def _build_part(workload: str, seed: int, lo: int, hi: int) -> tuple[list[dict], dict[str, str]]:
    """Docs ``lo..hi-1`` of a corpus and their oracle digests."""
    gen = _GENERATORS[workload]
    docs = [gen(i, seed) for i in range(lo, hi)]
    digests = {}
    for d in docs:
        out = extract_document(d["spans"])
        if out:
            digests[d["doc_id"]] = span_digest(out)
    return docs, digests


def prepare(workload: str, seed: int, size: int) -> Corpus:
    """Return the (workload, seed, size) corpus, building it on first use."""
    n = round(size * SIZE_SHARE[workload])
    path = os.path.join(CACHE, f"{workload}-n{n}-s{seed}-v{CACHE_VERSION}")
    if os.path.exists(os.path.join(path, "_DONE")):
        return Corpus(path)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "data"))
    # many small ranges keep the processes busy around the slow mega docs
    step = -(-n // (BUILD_PROCS * 8))
    ranges = [(workload, seed, lo, min(lo + step, n)) for lo in range(0, n, step)]
    with multiprocessing.get_context("fork").Pool(BUILD_PROCS) as pool:
        parts = pool.starmap(_build_part, ranges)
        pool.close()
        pool.join()
    docs = [d for part, _ in parts for d in part]
    digests = {k: v for _, part in parts for k, v in part.items()}
    per_file = -(-n // N_FILES)
    for k in range(N_FILES):
        part = docs[k * per_file : (k + 1) * per_file]
        if part:
            pq.write_table(
                pa.Table.from_pylist(part, schema=_DOC_SCHEMA),
                os.path.join(path, "data", f"part-{k:05d}.parquet"),
                compression="zstd",
            )
    meta = {"digests": digests, "descriptors": describe(docs)}
    with open(os.path.join(path, "oracle.json"), "w") as f:
        json.dump(meta, f)
    open(os.path.join(path, "_DONE"), "w").close()
    return Corpus(path)
