"""Correctness gate: every input url resolved exactly once, with the text
the pure-Python kernel gives.

The oracle is computed once per run from the generated pages, with
``pipeline.analyze_page_row`` for the OCR face and
``core.html_extract.extract_main`` for the web face: url -> md5 of the
extracted text, or ``None`` where the kernel raises (a corrupt payload or
crashing geometry the generator planted, which the job must write as an
``erro`` row). A document fails when its url is missing from the output,
is written more than once, has an ``erro`` row the generator did not
plant (or an ``ok`` row where it did), or its text md5 differs.

    python3 perfbench/gate.py      # self-test: the gate catches a
                                   # flipped byte, a dropped url and a
                                   # duplicated url
"""

from __future__ import annotations

import hashlib
import multiprocessing
import os
import sys
import tempfile
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

#: output column holding the extracted text, per face
TEXT_COL = {"ocr": "extracted_text", "web": "main_text"}


def _md5(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()


def _ocr_digest(url: str, html: bytes):
    from servico_ocr_spark.pipeline import analyze_page_row

    try:
        # renders only add md/html columns; extracted_text is identical
        row = analyze_page_row(url, html, renders=False)
    except Exception:  # the job writes these as status='erro'
        return None
    return _md5(row["extracted_text"])


def _web_digest(url: str, html: bytes):
    from servico_ocr_spark.core.html_extract import extract_main

    return _md5(extract_main(html)["main_text"])


DIGEST = {"ocr": _ocr_digest, "web": _web_digest}


def _digest_chunk(args):
    face, urls, htmls = args
    return [DIGEST[face](u, h) for u, h in zip(urls, htmls)]


def oracle(face: str, pages_path: str, workers: int = 1) -> dict:
    """url -> expected text md5 (``None``: a planted error)."""
    table = pq.read_table(pages_path, columns=["url", "html"])
    urls = table.column("url").to_pylist()
    htmls = table.column("html").to_pylist()
    if workers <= 1:
        digests = _digest_chunk((face, urls, htmls))
    else:
        step = -(-len(urls) // (4 * workers))
        chunks = [(face, urls[i:i + step], htmls[i:i + step])
                  for i in range(0, len(urls), step)]
        # fork: the spawn context starts a resource-tracker process that
        # only ends after the runner has exited
        ctx = multiprocessing.get_context("fork")
        with ctx.Pool(workers) as pool:
            digests = [d for part in pool.map(_digest_chunk, chunks)
                       for d in part]
    return dict(zip(urls, digests))


def check_table(face: str, table: pa.Table, expected: dict) -> dict:
    """Compare an output table against the oracle; returns
    ``{"attempted", "failed", "kinds"}`` with one failure per bad url."""
    urls = table.column("url").to_pylist()
    status = (table.column("status").to_pylist() if "status" in
              table.column_names else ["ok"] * len(urls))
    texts = table.column(TEXT_COL[face]).to_pylist()
    seen = Counter(urls)
    rows = {u: (s, t) for u, s, t in zip(urls, status, texts)}
    kinds: Counter = Counter()
    for url, want in expected.items():
        n = seen.get(url, 0)
        if n == 0:
            kinds["missing"] += 1
            continue
        if n > 1:
            kinds["duplicate"] += 1
            continue
        st, text = rows[url]
        if st == "erro":
            if want is not None:
                kinds["unplanted_error"] += 1
        elif want is None:
            kinds["planted_error_not_reported"] += 1
        elif text is None or _md5(text) != want:
            kinds["text_mismatch"] += 1
    kinds["unexpected_url"] = sum(1 for u in seen if u not in expected)
    return {"attempted": len(expected), "failed": sum(kinds.values()),
            "kinds": {k: v for k, v in kinds.items() if v}}


def check_output(face: str, out_path: str, expected: dict) -> dict:
    cols = ["url", TEXT_COL[face]] + (["status"] if face == "ocr" else [])
    return check_table(face, pq.read_table(out_path, columns=cols), expected)


def selftest(scratch: str) -> list:
    """Build a small corpus, a correct output table from the kernel, and
    three broken copies, written under ``scratch``; returns the problems
    found (empty: the gate works)."""
    from servico_ocr_spark.corpus import build_corpus

    problems = []
    pages = build_corpus(48, tag="gate-selftest")
    urls, htmls = pages["url"].tolist(), pages["html"].tolist()
    for face in ("ocr", "web"):
        expected = dict(zip(urls, _digest_chunk((face, urls, htmls))))
        if face == "ocr" and None not in expected.values():
            problems.append("ocr self-test corpus plants no error")
        good = _good_output(face, urls, htmls)
        ok_at = next(i for i, u in enumerate(urls)
                     if expected[u] is not None)
        texts = good.column(TEXT_COL[face]).to_pylist()
        flipped = list(texts)
        flipped[ok_at] = chr(ord(flipped[ok_at][0]) ^ 1) + flipped[ok_at][1:]
        cases = {
            "clean": (good, {}),
            "flipped_byte": (good.set_column(
                good.column_names.index(TEXT_COL[face]), TEXT_COL[face],
                pa.array(flipped)), {"text_mismatch": 1}),
            "dropped_url": (pa.concat_tables(
                [good.slice(0, ok_at), good.slice(ok_at + 1)]),
                {"missing": 1}),
            "duplicated_url": (pa.concat_tables(
                [good, good.slice(ok_at, 1)]), {"duplicate": 1}),
        }
        for name, (table, want) in cases.items():
            path = os.path.join(scratch, f"{face}_{name}")
            os.makedirs(path)
            pq.write_table(table, os.path.join(path, "part-0.parquet"))
            got = check_output(face, path, expected)
            if got["kinds"] != want or got["failed"] != sum(want.values()):
                problems.append(f"{face}/{name}: expected {want}, "
                                f"gate reported {got['kinds']}")
    return problems


def _good_output(face: str, urls: list, htmls: list) -> pa.Table:
    """The output a correct job writes, computed without Spark."""
    if face == "web":
        from servico_ocr_spark.core.html_extract import extract_main

        return pa.table({"url": urls, "main_text": [
            extract_main(h)["main_text"] for h in htmls]})
    from servico_ocr_spark.pipeline import analyze_page_row

    status, texts = [], []
    for u, h in zip(urls, htmls):
        try:
            texts.append(analyze_page_row(u, h, renders=False)[
                "extracted_text"])
            status.append("ok")
        except Exception:
            texts.append(None)
            status.append("erro")
    return pa.table({"url": urls, "status": status, "extracted_text": texts})


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    with tempfile.TemporaryDirectory() as tmp:
        found = selftest(tmp)
    for p in found:
        print("gate self-test FAILED:", p)
    if not found:
        print("gate self-test passed: flipped byte, dropped url and "
              "duplicated url each caught once, on both faces")
    sys.exit(1 if found else 0)
