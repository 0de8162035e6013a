"""Single-core self times of the kernel's public functions, per document.

Runs each step of ``pipeline.analyze_page_row`` on a seed-chosen sample
of the run's generated OCR pages, in the orchestrator process after every
Spark process has ended, so nothing else competes for the core. Each
pass times every step of every sampled document; a step's figure is the
median over passes of its summed time, divided by the documents.
``unexplained_s`` is ``analyze_page_row`` timed whole minus the summed
steps: the glue between them. ``extract_main_s`` is the web face's
kernel on the same documents built as HTML pages.
"""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow.parquet as pq

from servico_ocr_spark.core.analyze import (
    analyze_document, assemble_text, document_stats,
)
from servico_ocr_spark.core.html_extract import extract_main
from servico_ocr_spark.core.render import (
    filter_regions, render_html, render_markdown,
)
from servico_ocr_spark.core.tokenizer import document_tokens
from servico_ocr_spark.corpus import parse_payload
from servico_ocr_spark.pipeline import analyze_page_row

STEPS = ("parse_payload", "document_tokens", "analyze_document",
         "assemble_text", "filter_regions", "document_stats",
         "render_markdown", "render_html")


def _sample(pages_path: str, seed: int, n: int) -> list:
    table = pq.read_table(pages_path, columns=["url", "html"])
    pick = np.random.default_rng(seed).choice(
        table.num_rows, size=min(n, table.num_rows), replace=False)
    urls = table.column("url").to_pylist()
    htmls = table.column("html").to_pylist()
    return [(urls[i], htmls[i]) for i in sorted(pick)]


def _steps(url: str, html: bytes, acc: dict):
    clock = time.perf_counter
    t = clock()
    payload = parse_payload(html)
    t1 = clock()
    tokens = document_tokens(url, payload.get("text") or "",
                             payload["archetype"])
    t2 = clock()
    boxes, _pages, _cs, _cc = analyze_document(tokens)
    t3 = clock()
    assemble_text(boxes)
    t4 = clock()
    filter_regions(boxes, keep_header=False, keep_stamps=False,
                   keep_quotes=True)
    t5 = clock()
    document_stats(boxes)
    t6 = clock()
    md = render_markdown(boxes)
    t7 = clock()
    html_out = render_html(boxes)
    t8 = clock()
    for name, a, b in zip(STEPS, (t, t1, t2, t3, t4, t5, t6, t7),
                          (t1, t2, t3, t4, t5, t6, t7, t8)):
        acc[name] += b - a
    return len(tokens), len(boxes), len(md.encode()) + len(html_out.encode())


def kernel_metrics(ocr_pages: str, web_pages: str, seed: int,
                   n_docs: int = 200, passes: int = 3) -> dict:
    """Per-document seconds per step plus per-document counts."""
    docs = []
    for url, html in _sample(ocr_pages, seed, n_docs):
        try:  # keep documents the kernel analyses (not planted errors)
            analyze_page_row(url, html)
        except Exception:
            continue
        docs.append((url, html))
    per_pass = {name: [] for name in STEPS + ("analyze_page_row",)}
    counts = (0, 0, 0)
    for _ in range(passes):
        acc = dict.fromkeys(STEPS, 0.0)
        counts = (0, 0, 0)
        for url, html in docs:
            c = _steps(url, html, acc)
            counts = tuple(x + y for x, y in zip(counts, c))
        for name in STEPS:
            per_pass[name].append(acc[name])
        t = time.perf_counter()
        for url, html in docs:
            analyze_page_row(url, html)
        per_pass["analyze_page_row"].append(time.perf_counter() - t)
    n = len(docs)
    out = {f"kernel.{k}_s": statistics.median(v) / n
           for k, v in per_pass.items()}
    out["kernel.unexplained_s"] = out["kernel.analyze_page_row_s"] - sum(
        out[f"kernel.{k}_s"] for k in STEPS)
    out["kernel.tokens"], out["kernel.boxes"], out["kernel.render_bytes"] = (
        c / n for c in counts)
    web = [h for _u, h in _sample(web_pages, seed, n_docs)]
    times = []
    for _ in range(passes):
        t = time.perf_counter()
        for h in web:
            extract_main(h)
        times.append(time.perf_counter() - t)
    out["kernel.extract_main_s"] = statistics.median(times) / len(web)
    out["kernel.sample_docs"] = n
    return out
