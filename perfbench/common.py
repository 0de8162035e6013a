"""Shared pieces of the extraction benchmark: workload names, the seeded
documents generator, the child-process environment and /proc readers.

Nothing here imports pyspark, so the orchestrator stays light and can
fail fast when the package under test is missing.
"""

from __future__ import annotations

import ctypes
import hashlib
import json
import os
import platform
import signal
import subprocess
import sys
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

#: workload -> (face, resume, processes). ``face`` picks the pages and
#: the job entry point; ``resume`` starts each job from the output the
#: program wrote in set-up; ``processes`` is how many fresh job processes
#: one run measures
#: at least (metrics are medians over them). Two cold web jobs in one run
#: differ by up to ~25%, OCR jobs by ~10%; a full set of ~70 runs must
#: still end within the hour.
WORKLOADS = {
    "ocr_batch": ("ocr", False, 1),
    "web_batch": ("web", False, 2),
    "ocr_resume": ("ocr", True, 1),
}

#: documents per run: the shape of the sf0.1 ``documents`` test table
N_DOCS = 5000
#: one in RESUME_MOD urls is left for the timed resume job to process
RESUME_MOD = 10
#: the generated documents and the pages the program builds from them
POOL_SEED = 0
URL_PREFIX = "https://example.test/"
#: prctl option: adopt orphaned descendants (linux/prctl.h)
_PR_SET_CHILD_SUBREAPER = 36

# Vocabulary, word-count range, language mix and source count of the
# sf0.1 ``documents`` table, so generated pages have its size and its
# archetype/corrupt mix once built by ``corpus.pages_from_documents``.
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_N_SOURCES = 20


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def pool_dir() -> str:
    """Where the pages pool lives, keyed on the sources it is built from
    (the package under test and this benchmark's generator), so a change
    to either builds a new pool rather than reusing a stale one."""
    digest = hashlib.sha1()
    pkg = os.path.join(ROOT, "servico_ocr_spark")
    paths = [os.path.join(BENCH_DIR, n) for n in ("common.py", "prep.py")]
    for base, dirs, files in os.walk(pkg):
        dirs[:] = sorted(d for d in dirs if d != "__pycache__")
        paths += [os.path.join(base, f) for f in sorted(files)
                  if f.endswith(".py")]
    for path in paths:
        digest.update(os.path.relpath(path, ROOT).encode() + b"\0")
        with open(path, "rb") as fh:
            digest.update(fh.read() + b"\0")
    return os.path.join(BENCH_DIR, f".pool-{digest.hexdigest()[:16]}")


def make_documents(seed: int, n_docs: int = N_DOCS) -> pa.Table:
    """documents(doc_id, text, lang, source, n_chars) drawn from ``seed``."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(10, 101, n_docs)
    word_ids = rng.integers(0, len(_VOCAB), int(n_words.sum()))
    texts, at = [], 0
    for k in n_words:
        texts.append(" ".join(_VOCAB[i] for i in word_ids[at:at + k]))
        at += k
    langs = rng.choice(_LANGS, n_docs, p=_LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % _N_SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(seed: int, path: str, n_files: int = 8) -> None:
    """Write the documents as ``n_files`` parquet files of consecutive
    doc_ids; Spark's own split packing then decides the scan partitions."""
    table = make_documents(seed)
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:02d}.parquet"))


def _profile(html: bytes) -> tuple:
    """What a page's cost depends on: its archetype and payload size."""
    try:
        archetype = json.loads(html)["archetype"]
    except (ValueError, KeyError):  # a corrupt payload
        archetype = ""
    return archetype, len(html)


def salt_pages(src: str, dst: str, seed: int,
               done_dst: str | None = None) -> None:
    """Copy a pages table file by file, moving every url under a
    seed-salted path. The kernel hashes the url into token geometry and
    confidence, so each seed gives distinct urls and outputs from the
    same documents.

    With ``done_dst``, also write there the pages a resumed job finds
    already done: all but one page per run of RESUME_MOD pages of like
    archetype and size, that one chosen by the seed, so every seed leaves
    the resumed job the same mix of work."""
    names = sorted(n for n in os.listdir(src) if n.endswith(".parquet"))
    tables = []
    for name in names:
        table = pq.read_table(os.path.join(src, name))
        new = [URL_PREFIX + f"s{seed}-" + u[len(URL_PREFIX):]
               for u in table.column("url").to_pylist()]
        tables.append(table.set_column(table.column_names.index("url"),
                                       "url", pa.array(new, pa.string())))
    os.makedirs(dst)
    for name, table in zip(names, tables):
        pq.write_table(table, os.path.join(dst, name))
    if done_dst is None:
        return
    urls = [u for t in tables for u in t.column("url").to_pylist()]
    htmls = [h for t in tables for h in t.column("html").to_pylist()]
    order = sorted(range(len(urls)),
                   key=lambda i: (_profile(htmls[i]), urls[i]))
    todo = {
        min((urls[i] for i in order[k:k + RESUME_MOD]),
            key=lambda u: zlib.crc32(f"{seed}|{u}".encode()))
        for k in range(0, len(order), RESUME_MOD)}
    os.makedirs(done_dst)
    for name, table in zip(names, tables):
        keep = pa.array([u not in todo
                         for u in table.column("url").to_pylist()])
        pq.write_table(table.filter(keep), os.path.join(done_dst, name))


def child_env(work: str) -> dict:
    """Environment for every Spark process the benchmark starts.

    The package is put on PYTHONPATH (executor workers import it), Spark's
    and the JVM's scratch go under the run's work directory, and the
    caller's ``SPARK_GRAFT_*`` overrides are dropped so the program's own
    defaults apply."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return env


def become_subreaper() -> None:
    """Make this process adopt every orphaned descendant (Linux
    ``PR_SET_CHILD_SUBREAPER``). A Spark child's JVM outlives the child,
    and PySpark's worker daemon leaves the child's process group, so only
    as their subreaper can the runner find, stop and reap them all."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_descendants(timeout: float = 30.0) -> list:
    """SIGKILL every descendant of this process and wait until each has
    ended and been reaped. Returns the pids still there at the timeout."""
    me = os.getpid()
    deadline = time.time() + timeout
    while True:
        left = [p for p in tree_pids(me) if p != me]
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:  # orphans are reparented to this process: reap them
            try:
                pid, _status = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        if not left or time.time() > deadline:
            return left
        time.sleep(0.02)


def run_child(args: list, env: dict, timeout: float, log_path: str) -> int:
    """Run ``python3 <args>`` in its own process group; on return, kill
    and reap everything it left (the JVM, the Python worker daemon and
    its workers). The caller must be a subreaper (``become_subreaper``)
    and run one child at a time."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen(
            [sys.executable] + args, env=env, cwd=ROOT, stdout=log,
            stderr=log, start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            code = -1
        finally:
            try:
                os.killpg(proc.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            proc.wait()
            reap_descendants()
    return code


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except (FileNotFoundError, ProcessLookupError):
        pass
    return 0


def tree_pids(root: int) -> list:
    """``root`` and all its live descendants, from /proc ppid links."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_peak_rss_mb(root: int) -> float:
    """Sum of per-process peak resident memory (VmHWM) over the process
    tree under ``root``: driver, JVM, Python daemon and workers. Each
    process's peak is exact; the sum bounds the tree's peak from above."""
    return sum(_status_kb(p, "VmHWM") for p in tree_pids(root)) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total


def data_files(path: str) -> dict:
    """parquet data files under ``path`` -> size in bytes."""
    out = {}
    for base, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                full = os.path.join(base, f)
                out[full] = os.path.getsize(full)
    return out


def git_sha() -> str | None:
    """HEAD of the checkout, or None when it is not its own git tree."""
    try:
        res = subprocess.run(
            ["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
            capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = res.stdout.split()
    if res.returncode != 0 or len(lines) != 2:
        return None
    if os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def environment(seed: int) -> dict:
    """What a result needs to be read later: box, versions, code, seed."""
    import pandas

    return {
        "nproc": nproc(),
        "loadavg_start": list(os.getloadavg()),
        "python": platform.python_version(),
        "pyarrow": pa.__version__,
        "pandas": pandas.__version__,
        "git_sha": git_sha(),
        "seed": seed,
        "note": ("BENCH_r0*.json and BENCH_r5_local.json come from 32-core "
                 "boxes and are not comparable with these numbers"),
    }


def read_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def write_json(path: str, obj) -> None:
    with open(path, "w") as fh:
        json.dump(obj, fh, indent=1, sort_keys=True)
