"""Extraction benchmark: cold production runs of the OCR, web and resume
paths, with a traced mode that splits the wall layer by layer.

    python3 perfbench/run.py --workload ocr_batch --seed 1 --seconds 10 \
        --trace 0

The first run in a checkout has the program build a pool of pages of both
faces from generated documents (``common.py``, ``prep.py``); the pool is
keyed on the program's sources, so a code change builds a new one. Each
run copies the pool's pages with urls salted by ``--seed``; for
``ocr_resume`` the program then writes the output of a seed-chosen nine
tenths of them in a set-up process of its own. The run computes the
per-url oracle (``gate.py``), times the job in fresh processes
(``job.py``) and checks every output against the oracle. ``--trace 0``
prints the end-to-end metrics, measured with tracing and the event log
off;
``--trace 1`` runs the job once untraced and once traced and prints the
per-layer metrics (``layers.py``, ``kernel.py``) with the reconciliation
line.

The last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics": {name: {value, unit}}}``.
The line before it is the run's environment. Spans, samples and the
environment are also written to ``perfbench/out/``. The runner exits
non-zero, without a result line, if a workload or metric named in
``BENCHMARK.json`` is not produced or an unknown name is requested. If a
job process, or the set-up process writing the existing output, crashes
it still prints the result line, with ``correct: false`` and the
documents of that process's jobs counted as failed, and exits non-zero.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq

T0 = time.time()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import common  # noqa: E402
import gate  # noqa: E402
import layers  # noqa: E402
from common import BENCH_DIR, N_DOCS, ROOT, WORKLOADS  # noqa: E402

#: the whole run ends within this many seconds
RUN_BUDGET_S = 170
#: warm repeats of the job after the cold one, in every job process
WARM_REPEATS = 3


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load_benchmark() -> dict:
    path = os.path.join(ROOT, "BENCHMARK.json")
    try:
        bench = common.read_json(path)
    except (OSError, ValueError) as exc:
        fail(f"cannot read {path}: {exc}")
    named = {w["name"] for w in bench["workloads"]}
    if named != set(WORKLOADS):
        fail("BENCHMARK.json workloads "
             f"{sorted(named)} differ from the runner's {sorted(WORKLOADS)}")
    return bench


class Run:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.face, self.resume, self.processes = WORKLOADS[workload]
        self.nproc = common.nproc()
        self.work = os.path.join(
            BENCH_DIR, ".work", f"{workload}-{seed}-{os.getpid()}")
        self.env = None
        self.base_s = 0.0  # set-up time spent writing the existing output
        self.crashed = False
        self.samples: dict = {}
        self.checks: list = []
        self.phases: list = []  # (step, seconds) of the run, for its record

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def remaining(self) -> float:
        return RUN_BUDGET_S - (time.time() - T0)

    def child(self, step: str, script: str, args: list) -> int:
        t = time.time()
        code = common.run_child(
            [os.path.join(BENCH_DIR, script)] + [str(a) for a in args],
            self.env, self.remaining(), self.path("children.log"))
        self.phases.append((step, time.time() - t))
        return code

    def job(self, mode: str, tag: str, warm_repeats: int) -> dict | None:
        spec = {"work": self.work, "mode": mode, "tag": tag,
                "face": self.face,
                "resume_base": (self.path("resume_base") if self.resume
                                else None),
                "nproc": self.nproc, "warm_repeats": warm_repeats,
                "result": self.path(f"{tag}.json")}
        common.write_json(self.path(f"{tag}.spec.json"), spec)
        code = self.child(tag, "job.py", [self.path(f"{tag}.spec.json")])
        if code != 0 or not os.path.exists(spec["result"]):
            print(f"perfbench: job child {tag} ({mode}) exited {code}; "
                  "see its log in perfbench/out/", file=sys.stderr)
            return None
        return common.read_json(spec["result"])

    def check(self, res: dict | None, expected: dict, runs: int) -> None:
        """Gate every output of a job child; a crashed child fails all
        the documents of every job it was to run."""
        if res is None:
            self.crashed = True
            self.checks.append({"attempted": len(expected) * runs,
                                "failed": len(expected) * runs,
                                "kinds": {"job_crashed": runs}})
            return
        for out in res["outputs"]:
            got = gate.check_output(self.face, out["path"], expected)
            got["run"] = out["run"]
            self.checks.append(got)

    def ensure_pool(self) -> str:
        """Have the program build the pages pool once per checkout and
        version of its sources; a run that finds it built reuses it."""
        pool = common.pool_dir()
        if os.path.isdir(pool):
            return pool
        tmp = f"{pool}.tmp-{os.getpid()}"
        common.write_documents(common.POOL_SEED, os.path.join(tmp, "documents"))
        code = self.child("pool", "prep.py", ["pages", tmp, self.nproc])
        if code != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"building the pool exited {code}; see its log in "
                 "perfbench/out/", 1)
        try:
            os.rename(tmp, pool)
        except OSError:  # another run built it first
            shutil.rmtree(tmp, ignore_errors=True)
        return pool

    def prepare(self) -> dict | None:
        os.makedirs(self.work)
        self.env = common.child_env(self.work)
        if self.trace:  # the gate must still catch what it claims to
            problems = gate.selftest(self.path("selftest"))
            if problems:
                self.checks.append({"attempted": 1, "failed": 1,
                                    "kinds": {"gate_selftest": problems}})
        pool = self.ensure_pool()
        for face in ["ocr", "web"] if self.trace else [self.face]:
            done = (self.path("pages_done") if self.resume and face == "ocr"
                    else None)
            common.salt_pages(os.path.join(pool, f"pages_{face}"),
                              self.path(f"pages_{face}"), self.seed, done)
        if self.resume:
            # the program under test writes the output the job resumes from
            t = time.time()
            code = self.child("existing_output", "prep.py", [
                "base", self.path("pages_done"), self.path("resume_base"),
                self.nproc])
            self.base_s = time.time() - t
            if code != 0:  # the program failed: no job can run
                self.crashed = True
                self.checks.append({"attempted": N_DOCS, "failed": N_DOCS,
                                    "kinds": {"existing_output_crashed": 1}})
                return None
        t = time.time()
        expected = gate.oracle(self.face, self.path(f"pages_{self.face}"),
                               workers=self.nproc)
        self.phases.append(("oracle", time.time() - t))
        return expected

    def measure(self, expected: dict) -> dict:
        """Fresh job processes one after another, each giving one cold
        job and its warm repeats: at least the workload's count, and
        until they have measured for ``--seconds``."""
        children, measured = [], 0.0
        while len(children) < self.processes or measured < self.seconds:
            t = time.time()
            res = self.job("run", f"run{len(children)}", WARM_REPEATS)
            measured += time.time() - t
            self.check(res, expected, 1 + WARM_REPEATS)
            if res is None:
                break
            children.append(res)
        if not children:
            return {}
        colds = [o for r in children for o in r["outputs"] if o["run"] == "cold"]
        warm = [o["wall_s"] for r in children for o in r["outputs"]
                if o["run"] != "cold"]
        # a resume run's existing output is written once, before its
        # first job process, and is part of that process's set-up
        self.samples = {"setup_s": [r["setup_s"] + self.base_s
                                    for r in children],
                        "cold_wall_s": [o["wall_s"] for o in colds],
                        "warm_wall_s": warm,
                        "peak_rss_mb": [r["peak_rss_mb"] for r in children],
                        "spark_conf": children[0]["spark_conf"],
                        "spark_version": children[0]["spark_version"]}
        wall = statistics.median(o["wall_s"] for o in colds)
        return {
            "wall_s": wall,
            "warm_wall_s": statistics.median(warm),
            "docs_per_s": N_DOCS / wall,
            "setup_s": statistics.median(self.samples["setup_s"]),
            "output_mb": statistics.median(o["new_bytes"] for o in colds) / 1e6,
            "peak_rss_mb": statistics.median(self.samples["peak_rss_mb"]),
        }

    def measure_traced(self, expected: dict) -> dict:
        base = self.job("run", "untraced", 1)
        self.check(base, expected, 2)
        res = self.job("trace", "traced", 1)
        self.check(res, expected, 2)
        if base is None or res is None:
            return {}
        self.samples = {"spark_conf": res["spark_conf"],
                        "spark_version": res["spark_version"],
                        "untraced_wall_s": {o["run"]: o["wall_s"]
                                            for o in base["outputs"]},
                        "traced_wall_s": {o["run"]: o["wall_s"]
                                          for o in res["outputs"]}}
        import kernel  # imports the kernel modules under test

        kern = kernel.kernel_metrics(self.path("pages_ocr"),
                                     self.path("pages_web"), self.seed)
        per_doc = kern["kernel.analyze_page_row_s" if self.face == "ocr"
                       else "kernel.extract_main_s"]
        logs = os.listdir(self.path("evlog"))
        log = layers.EventLog(self.path("evlog", logs[0]))
        outs = {o["run"]: o for o in res["outputs"]}
        split = {}
        for run in ("cold", "warm1"):
            split[run] = layers.run_split(
                log, res["spans"], run, nproc=self.nproc,
                kernel_s_per_doc=per_doc,
                input_path=self.path(f"pages_{self.face}"),
                output_path=outs[run]["path"])
        m = {k: v for k, v in split["cold"].items() if not k.startswith("_")}
        m.update(kern)
        m["pipeline.salt_probe_warm_jobs"] = split["warm1"][
            "pipeline.salt_probe_jobs"]
        m["udf.worker_init_warm_s"] = split["warm1"]["udf.worker_init_s"]
        m["session.start_s"] = sum(s["end"] - s["start"] for s in res["spans"]
                                   if s["name"] == "session")
        m["sources.input_mb"] = sum(common.data_files(
            self.path(f"pages_{self.face}")).values()) / 1e6
        m.update(self._written(outs["cold"]["path"]))
        untraced = [o for o in base["outputs"] if o["run"] == "cold"][0]
        m["trace.overhead_s"] = m["trace.wall_s"] - untraced["wall_s"]
        self.samples["spans"] = res["spans"] + [
            dict(s, run="cold") for s in split["cold"]["_child_spans"]] + [
            dict(s, run="warm1") for s in split["warm1"]["_child_spans"]]
        return m

    def _written(self, out: str) -> dict:
        """What the cold traced job itself committed (for a resume run,
        the files beyond the copied existing output)."""
        files = common.data_files(out)
        if self.resume:
            base = common.data_files(self.path("resume_base"))
            names = {os.path.basename(p) for p in base}
            files = {p: b for p, b in files.items()
                     if os.path.basename(p) not in names}
        cols = ["partition_id"] + (["est_pages"] if self.face == "ocr" else [])
        weight: dict = {}
        rows = 0
        for p in files:
            t = pq.read_table(p, columns=cols)
            rows += t.num_rows
            pids = t.column("partition_id").to_pylist()
            w = (t.column("est_pages").to_pylist() if self.face == "ocr"
                 else [1] * len(pids))
            for pid, x in zip(pids, w):
                weight[pid] = weight.get(pid, 0) + (x or 0)
        mean = sum(weight.values()) / max(1, len(weight))
        return {
            "write.files": len(files),
            "write.mb": sum(files.values()) / 1e6,
            "pipeline.partition_weight_max_over_mean":
                max(weight.values()) / mean if mean else 0.0,
            "resume.todo": rows,
            "resume.skipped": N_DOCS - rows,
        }


def _reconcile_line(m: dict) -> str:
    parts = ["sources.scan_s", "resume.filter_s", "pipeline.balance_s",
             "udf.blocking_s", "kernel.blocking_s", "write.s",
             "trace.unexplained_s"]
    return ("reconcile: trace.wall_s={:.3f} = ".format(m["trace.wall_s"])
            + " + ".join(f"{p}={m[p]:.3f}" for p in parts))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    bench = load_benchmark()
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; BENCHMARK.json names "
             f"{sorted(WORKLOADS)}")
    wanted = bench["per_layer" if args.trace else "end_to_end"]
    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("servico_ocr_spark") is None:
        fail("the package under test (servico_ocr_spark) is not here", 3)

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    env = common.environment(args.seed)
    try:
        expected = run.prepare()
        metrics = ({} if expected is None else
                   (run.measure_traced if run.trace else run.measure)(expected))
    finally:
        # the Spark children's log outlives the work directory
        os.makedirs(os.path.join(BENCH_DIR, "out"), exist_ok=True)
        if os.path.exists(run.path("children.log")):
            shutil.copy(run.path("children.log"), os.path.join(
                BENCH_DIR, "out", f"{args.workload}-seed{args.seed}"
                f"-trace{args.trace}.log"))
        shutil.rmtree(run.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run.work))
        except OSError:  # another run's work directory is still there
            pass

    attempted = sum(c["attempted"] for c in run.checks)
    failed = sum(c["failed"] for c in run.checks)
    if not run.trace:
        metrics["resolved_share"] = (attempted - failed) / attempted
    env.update(loadavg_end=list(os.getloadavg()), workload=args.workload,
               trace=args.trace, spark=run.samples.get("spark_version"),
               spark_conf=run.samples.get("spark_conf"),
               master=f"local[{run.nproc}]", docs=N_DOCS)
    record = {"env": env, "checks": run.checks, "metrics": metrics,
              "phases": run.phases + [("total", time.time() - T0)],
              "samples": {k: v for k, v in run.samples.items()
                          if k not in ("spark_conf", "spark_version")}}
    common.write_json(os.path.join(
        BENCH_DIR, "out",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), record)

    missing = [m["name"] for m in wanted if m["name"] not in metrics]
    if missing and not run.crashed:
        fail(f"metrics named in BENCHMARK.json not produced: {missing}", 1)
    print(json.dumps({"env": env}, sort_keys=True))
    if run.trace and not missing:
        print(_reconcile_line(metrics))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted if m["name"] in metrics},
    }))
    if run.crashed:
        fail("a job or set-up process crashed; its documents are counted "
             "as failed", 1)


if __name__ == "__main__":
    common.become_subreaper()
    try:
        main()
    finally:
        stray = common.reap_descendants()
        if stray:
            print(f"perfbench: processes {stray} did not end", file=sys.stderr)
