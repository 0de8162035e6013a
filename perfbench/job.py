"""Job child: one fresh process and Spark session running the production
path the way ``scripts/run_extraction.py`` and ``scripts/run_webtext.py``
do, with the program's defaults and only ``master=local[<nproc>]`` set.

    python3 perfbench/job.py <spec.json>

The spec names the mode:

- ``run``:   set up, run the job once cold (first job of the session),
  then ``warm_repeats`` times again warm, each with fresh output state.
- ``trace``: the same with Spark's event log on and every layer call
  wrapped in a span.

Set-up is everything before the timed job: imports, session start,
reading the generated input files, and for a resume workload copying the
output the program already wrote, in a set-up process of its own earlier
in the run, into the job's output path (the orchestrator adds that
process's time to this one's set-up). A timed job
is ``read_pages`` → ``run_resumable`` (OCR) or ``run_web_resumable``
(web), ending when the output is committed.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

T_START = time.time()

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from common import dir_bytes, tree_peak_rss_mb  # noqa: E402
from tracer import Tracer  # noqa: E402

import servico_ocr_spark.operators.webtext as webtext  # noqa: E402
import servico_ocr_spark.pipeline as pipeline  # noqa: E402
import servico_ocr_spark.session as session  # noqa: E402
import servico_ocr_spark.sources as sources  # noqa: E402

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def _read_inputs(path: str) -> None:
    """Read every generated input file once, so the timed job finds them
    in the page cache rather than paying for the disk."""
    for base, _dirs, files in os.walk(path):
        for f in files:
            with open(os.path.join(base, f), "rb") as fh:
                while fh.read(1 << 20):
                    pass


def _fresh_output(spec: dict, out: str) -> None:
    if spec["resume_base"]:
        shutil.copytree(spec["resume_base"], out)


def _install_spans(tracer: Tracer) -> None:
    """Wrap the public function of every layer the job calls into."""
    tracer.wrap(session, "get_spark", "session")
    tracer.wrap(sources, "read_pages", "sources.read_pages")
    tracer.wrap(pipeline, "resume_filter", "pipeline.resume_filter")
    tracer.wrap(pipeline, "run_extraction", "pipeline.run_extraction")
    tracer.wrap(pipeline, "with_page_estimate", "pipeline.with_page_estimate")
    tracer.wrap(pipeline, "weighted_repartition",
                "pipeline.weighted_repartition")
    tracer.wrap(pipeline, "write_analysis", "pipeline.write_analysis")
    tracer.wrap(webtext, "web_analysis", "webtext.web_analysis")
    tracer.wrap(pipeline, "run_resumable", "job")
    tracer.wrap(webtext, "run_web_resumable", "job")


def main() -> None:
    with open(sys.argv[1]) as fh:
        spec = json.load(fh)
    work, mode = spec["work"], spec["mode"]
    tracer = Tracer(enabled=mode == "trace")
    conf = None
    if mode == "trace":
        _install_spans(tracer)
        evdir = os.path.join(work, "evlog")
        os.makedirs(evdir, exist_ok=True)
        conf = dict(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + evdir})
    pages_path = os.path.join(work, f"pages_{spec['face']}")
    job = (pipeline.run_resumable if spec["face"] == "ocr"
           else webtext.run_web_resumable)

    tracer.run = "setup"
    spark = session.get_spark(master=f"local[{spec['nproc']}]",
                              extra_conf=conf)
    _read_inputs(pages_path)
    outputs = []

    def timed(run: str) -> None:
        out = os.path.join(work, f"out_{spec['tag']}_{run}")
        if not os.path.exists(out):
            _fresh_output(spec, out)
        base_bytes = dir_bytes(out)
        tracer.run = run
        t0 = time.perf_counter()
        with tracer.span("wall"):
            pages = sources.read_pages(spark, pages_path)
            job(spark, pages, out)
        wall = time.perf_counter() - t0
        outputs.append({"run": run, "path": out, "wall_s": wall,
                        "new_bytes": dir_bytes(out) - base_bytes})

    # the cold job's existing output is written as part of set-up
    _fresh_output(spec, os.path.join(work, f"out_{spec['tag']}_cold"))
    result = {"setup_s": time.time() - T_START}
    timed("cold")
    # a batch run is the cold job; warm repeats would only grow the heap
    result["peak_rss_mb"] = tree_peak_rss_mb(os.getpid())
    # a fixed count: each repeat runs warmer than the last, so a count
    # that followed the clock would move the median with the box's speed
    for i in range(spec["warm_repeats"]):
        timed(f"warm{i + 1}")
    result["spark_version"] = spark.version
    result["spark_conf"] = dict(spark.sparkContext.getConf().getAll())
    result["outputs"] = outputs
    if mode == "trace":
        spark.stop()  # flushes and closes the event log
    result["spans"] = tracer.spans
    with open(spec["result"], "w") as fh:
        json.dump(result, fh)
    # every output is committed; the orchestrator kills and reaps the JVM
    # and the Python workers, faster than a clean stop
    os._exit(0)


if __name__ == "__main__":
    main()
