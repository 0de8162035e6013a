"""Per-layer split of a traced job, from its spans and Spark's event log.

Driver-side layer calls are timed by spans (``tracer.py``). Work inside
Spark jobs is read from the event log: every completed stage is given to
the layer whose plan node it runs, found by matching the stage's
accumulator ids to the SQL plan's node metrics:

- in every stage, the ``scan time`` of the input's scan node goes to
  ``sources``, and the rest of the stage's task time to the layer below;
- a stage running ``MapInPandas`` is the UDF stage; the rest of its task
  time is split into the kernel (per-document self time from
  ``kernel.py`` times the rows it processed), task commit (write) and
  the rest, which is the UDF boundary: worker start and init, Arrow
  transfer and pandas conversion;
- a stage scanning the existing output, or joining against it, is
  ``resume``; a stage scanning only the input is ``sources``; a stage
  sorting for the balancing window is ``pipeline.balance``; any other
  stage is left unexplained.

A layer's blocking time is its driver span time plus its task time over
the number of cores: the wall it would take with every core busy. The
reconciliation is ``wall = sum of blocking layer times + unexplained``,
so ``unexplained`` is the time cores sat idle inside jobs (stragglers,
stage barriers, task launch), unclassified stages, and driver time no
span covers.
"""

from __future__ import annotations

import json
import statistics

JOIN_NODES = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
              "BroadcastNestedLoopJoin")
SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_AQE = ("org.apache.spark.sql.execution.ui."
           "SparkListenerSQLAdaptiveExecutionUpdate")
DRIVER_ACC = ("org.apache.spark.sql.execution.ui."
              "SparkListenerDriverAccumUpdates")


def _number(value) -> float:
    try:
        return float(value)
    except (TypeError, ValueError):  # list-valued internal accumulators
        return 0.0


class EventLog:
    """The parts of one application's event log the split needs.
    Times are epoch seconds."""

    def __init__(self, path: str):
        self.jobs: dict = {}
        self.stages: dict = {}
        self.sql: dict = {}
        self.metric: dict = {}  # accumulator id -> (node, metric, location)
        self.driver_acc: dict = {}  # accumulator id -> (execution, value)
        with open(path) as fh:
            for line in fh:
                self._add(json.loads(line))

    def _add(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            self.jobs[e["Job ID"]] = {"start": e["Submission Time"] / 1e3,
                                      "stages": e["Stage IDs"]}
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            st = self.stages.setdefault(e["Stage ID"], {"tasks": []})
            st["tasks"].append((info["Finish Time"] - info["Launch Time"]) / 1e3)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = self.stages.setdefault(si["Stage ID"], {"tasks": []})
            st.update(start=si["Submission Time"] / 1e3,
                      end=si["Completion Time"] / 1e3,
                      acc={a["ID"]: (a["Name"], _number(a.get("Value")))
                           for a in si["Accumulables"]})
        elif kind in (SQL_START, SQL_AQE):
            if kind == SQL_START:
                self.sql[e["executionId"]] = {"start": e["time"] / 1e3}
            self._plan(e["sparkPlanInfo"])
        elif kind == SQL_END:
            self.sql[e["executionId"]]["end"] = e["time"] / 1e3
        elif kind == DRIVER_ACC:
            for acc_id, value in e["accumUpdates"]:
                self.driver_acc[acc_id] = (e["executionId"], float(value))

    def _plan(self, node: dict) -> None:
        where = node["simpleString"] + " " + str(
            node.get("metadata", {}).get("Location", ""))
        for m in node["metrics"]:
            self.metric[m["accumulatorId"]] = (
                node["nodeName"], m["name"], where)
        for child in node["children"]:
            self._plan(child)

    def nodes(self, stage: dict) -> list:
        return [self.metric[a] for a in stage["acc"] if a in self.metric]

    def scan_time(self, stage: dict, path: str) -> float:
        """Seconds the stage's scan nodes of ``path`` spent scanning."""
        total = 0.0
        for acc_id, (acc_name, v) in stage["acc"].items():
            node, _name, where = self.metric.get(acc_id, ("", "", ""))
            if (acc_name == "scan time" and node.startswith("Scan")
                    and path in where):
                total += v
        return total / 1e3

    def value(self, stage: dict, name: str, node: str | None = None) -> float:
        """Sum of a stage's accumulables called ``name`` (seconds for
        times, bytes for sizes, as Spark reports them)."""
        total = 0.0
        for acc_id, (acc_name, v) in stage["acc"].items():
            if acc_name != name:
                continue
            if node and self.metric.get(acc_id, ("",))[0] != node:
                continue
            total += v
        return total


def classify(log: EventLog, stage: dict, input_path: str,
             output_path: str) -> str:
    nodes = log.nodes(stage)
    names = {n[0] for n in nodes}
    scans = [n[2] for n in nodes if n[0].startswith("Scan")]
    if "MapInPandas" in names:
        return "udf"
    if any(output_path in s for s in scans) or names & set(JOIN_NODES):
        return "resume"
    if any(input_path in s for s in scans):
        return "sources"
    if names & {"Window", "Sort"}:
        return "balance"
    return "other"


def _spans(spans: list, run: str, name: str) -> list:
    return [s for s in spans if s["run"] == run and s["name"] == name]


def _dur(spans: list) -> float:
    return sum(s["end"] - s["start"] for s in spans)


def _within(t: float, span: dict) -> bool:
    return span["start"] <= t <= span["end"]


def _union(intervals: list) -> float:
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def run_split(log: EventLog, spans: list, run: str, *, input_path: str,
              output_path: str, nproc: int, kernel_s_per_doc: float) -> dict:
    """Layer metrics and the reconciliation for one traced job."""
    wall_span = _spans(spans, run, "wall")[0]
    wall = wall_span["end"] - wall_span["start"]
    write_span = _spans(spans, run, "pipeline.write_analysis")[0]
    # jobs run by earlier layer calls (schema reads, the salt probe) are
    # already inside those calls' spans; the write's jobs are split here
    stages = {sid: st for sid, st in log.stages.items()
              if "start" in st and _within(st["start"], write_span)}
    core = dict.fromkeys(("sources", "resume", "balance", "udf", "other"), 0.0)
    kind_of = {}
    for sid, st in stages.items():
        kind_of[sid] = classify(log, st, input_path, output_path)
        task_s = log.value(st, "internal.metrics.executorRunTime") / 1e3
        # a stage that scans the input and then does another layer's work
        # (the resume anti-join, the UDF) gives the scan to sources
        scan_s = min(task_s, log.scan_time(st, input_path))
        core["sources"] += scan_s
        core[kind_of[sid]] += task_s - scan_s
    udf = [st for sid, st in stages.items() if kind_of[sid] == "udf"]

    def udf_sum(name, node=None):
        return sum(log.value(st, name, node) for st in udf)

    commit_tasks = udf_sum("task commit time") / 1e3
    rows = udf_sum("number of output rows", "MapInPandas")
    kernel_core = min(kernel_s_per_doc * rows,
                      max(0.0, core["udf"] - commit_tasks))
    boundary_core = max(0.0, core["udf"] - commit_tasks - kernel_core)
    task_durations = [d for st in udf for d in st["tasks"]]

    balance_spans = (_spans(spans, run, "pipeline.with_page_estimate")
                     + _spans(spans, run, "pipeline.weighted_repartition"))
    probes = [q["end"] - q["start"] for q in log.sql.values()
              if "end" in q and any(_within(q["start"], s) for s in _spans(
                  spans, run, "pipeline.weighted_repartition"))]
    plan_udf = (_dur(_spans(spans, run, "pipeline.run_extraction"))
                - _dur(balance_spans)
                + _dur(_spans(spans, run, "webtext.web_analysis")))
    job_walls = _union([(j["start"], j["end"]) for j in log.jobs.values()
                        if "end" in j and _within(j["start"], write_span)])
    write_sql = [sid for sid, q in log.sql.items()
                 if _within(q["start"], write_span)]
    job_commit = sum(v for a, (sql_id, v) in log.driver_acc.items()
                     if sql_id in write_sql
                     and log.metric.get(a, ("", ""))[1] == "job commit time")
    job_commit /= 1e3

    blocking = {
        "sources.scan_s": _dur(_spans(spans, run, "sources.read_pages"))
        + core["sources"] / nproc,
        "resume.filter_s": _dur(_spans(spans, run, "pipeline.resume_filter"))
        + core["resume"] / nproc,
        "pipeline.balance_s": _dur(balance_spans) + core["balance"] / nproc,
        "udf.blocking_s": plan_udf + boundary_core / nproc,
        "kernel.blocking_s": kernel_core / nproc,
        "write.s": (write_span["end"] - write_span["start"] - job_walls)
        + commit_tasks / nproc,
    }
    out = dict(blocking)
    out.update({
        "trace.wall_s": wall,
        "trace.unexplained_s": wall - sum(blocking.values()),
        "pipeline.salt_probe_s": sum(probes),
        "pipeline.salt_probe_jobs": len(probes),
        "pipeline.shuffle_write_mb": sum(
            log.value(st, "internal.metrics.shuffle.write.bytesWritten")
            for st in stages.values()) / 1e6,
        "pipeline.task_max_over_median": (
            max(task_durations) / statistics.median(task_durations)
            if task_durations else 0.0),
        "udf.worker_start_s": udf_sum("time to start Python workers") / 1e3,
        "udf.worker_init_s": udf_sum("time to initialize Python workers") / 1e3,
        "udf.worker_run_s": udf_sum("time to run Python workers") / 1e3,
        "udf.sent_mb": udf_sum("data sent to Python workers") / 1e6,
        "udf.returned_mb": udf_sum("data returned from Python workers") / 1e6,
        "udf.rows_returned": rows,
        "write.job_commit_s": job_commit,
    })
    out["_child_spans"] = _child_spans(log, kind_of, wall_span, run)
    return out


def _child_spans(log: EventLog, kind_of: dict, wall_span: dict,
                 run: str) -> list:
    out = []
    for jid, j in sorted(log.jobs.items()):
        if "end" not in j or not _within(j["start"], wall_span):
            continue
        out.append({"name": f"spark.job{jid}", "start": j["start"],
                    "end": j["end"], "parent": "wall", "run": run})
        for sid in j["stages"]:
            st = log.stages.get(sid)
            if not st or "start" not in st:  # skipped: output reused
                continue
            # stages outside the write ran inside a layer call's span
            kind = kind_of.get(sid, "in_call")
            out.append({
                "name": f"spark.stage{sid}.{kind}",
                "start": st["start"], "end": st["end"],
                "parent": f"spark.job{jid}", "run": run,
                "tasks": len(st["tasks"]),
                "metrics": {name: v for name, v in st["acc"].values()
                            if not name.startswith("internal.metrics.shuffle.push")},
            })
    return out
