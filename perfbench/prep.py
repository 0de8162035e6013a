"""Set-up child: inputs and existing output that the program itself
builds and writes, each in a fresh process of its own so every timed job
still starts in a fresh one.

    python3 perfbench/prep.py pages <pool> <nproc>
    python3 perfbench/prep.py base <pages> <out> <nproc>

``pages`` reads the generated ``<pool>/documents`` table and builds the
pages tables with ``corpus.pages_from_documents`` (``<pool>/pages_ocr``)
and ``corpus.html_pages_from_documents`` (``<pool>/pages_web``).
``base`` has ``pipeline.run_resumable`` write the output of ``<pages>``
to ``<out>``: the output a resumed job finds already there.
"""

from __future__ import annotations

import os
import sys

from servico_ocr_spark.corpus import (
    html_pages_from_documents, pages_from_documents,
)
from servico_ocr_spark.pipeline import run_resumable
from servico_ocr_spark.session import get_spark
from servico_ocr_spark.sources import read_pages


def main() -> None:
    command, *args = sys.argv[1:]
    spark = get_spark(master=f"local[{args[-1]}]")
    if command == "pages":
        pool = args[0]
        docs = spark.read.parquet(os.path.join(pool, "documents"))
        pages_from_documents(docs).write.parquet(
            os.path.join(pool, "pages_ocr"))
        html_pages_from_documents(docs).write.parquet(
            os.path.join(pool, "pages_web"))
    else:
        pages, out = args[:2]
        run_resumable(spark, read_pages(spark, pages), out)
    # outputs are committed; the orchestrator kills and reaps the JVM and
    # the Python workers, faster than a clean stop
    os._exit(0)


if __name__ == "__main__":
    main()
