"""Spark-path tests: differential vs the oracle, partitioning independence,
resume/idempotence, error side-output, skew balancing.
"""

import pytest

from servico_ocr_spark.corpus import build_corpus
from servico_ocr_spark.pipeline import (
    analyze_page_row,
    boxes_table,
    docs_table,
    lineage_table,
    run_extraction,
    run_resumable,
    weighted_repartition,
    with_page_estimate,
)
from servico_ocr_spark.schemas import PAGES_SCHEMA

N_DOCS = 48


@pytest.fixture(scope="module")
def pages(spark):
    return spark.createDataFrame(build_corpus(N_DOCS), schema=PAGES_SCHEMA)


@pytest.fixture(scope="module")
def analysis(spark, pages):
    return run_extraction(pages, num_partitions=4).cache()


def test_differential_byte_identity(spark, pages, analysis):
    got = {r["url"]: r for r in analysis.collect()}
    corpus = build_corpus(N_DOCS)
    assert len(got) == N_DOCS
    for _, row in corpus.iterrows():
        try:
            oracle = analyze_page_row(row["url"], row["html"])
        except Exception:
            assert got[row["url"]]["status"] == "erro"
            continue
        res = got[row["url"]]
        assert res["extracted_text"] == oracle["extracted_text"]
        assert res["clean_text"] == oracle["clean_text"]
        assert res["md"] == oracle["md"]
        assert res["html_render"] == oracle["html_render"]
        assert len(res["boxes"]) == len(oracle["boxes"])
        for got_box, oracle_box in zip(res["boxes"], oracle["boxes"]):
            assert got_box["texto"] == oracle_box["texto"]
            assert got_box["tipo"] == oracle_box["tipo"]
            assert list(got_box["box_xyla"]) == oracle_box["box_xyla"]


def test_partitioning_independence(spark, pages):
    cols = ["url", "extracted_text", "md", "html_render"]
    one = (
        run_extraction(pages, num_partitions=1)
        .select(*cols).toPandas().sort_values("url").reset_index(drop=True)
    )
    eight = (
        run_extraction(pages, num_partitions=8)
        .select(*cols).toPandas().sort_values("url").reset_index(drop=True)
    )
    assert one.equals(eight)


def test_renders_flag_only_affects_render_columns():
    """analyze_page_row(renders=False) must null md/html_render and leave
    EVERY other field byte-identical — the benchmark's correctness oracle
    reads extracted_text from the render-free call."""
    for _, row in build_corpus(N_DOCS).iterrows():
        try:
            full = analyze_page_row(row["url"], row["html"])
        except Exception:
            continue  # corrupt docs: the error side-output's business
        lean = analyze_page_row(row["url"], row["html"], renders=False)
        assert full["md"] and full["html_render"]
        assert lean == {**full, "md": None, "html_render": None}, row["url"]


def test_error_side_output(spark, analysis):
    lineage = lineage_table(analysis)
    errors = lineage.where("status = 'erro'").collect()
    assert errors, "corpus contains corrupt + Faixa docs"
    for row in errors:
        assert row["error"].startswith("Erro: ")
    ok = docs_table(analysis)
    assert ok.count() + len(errors) == N_DOCS


def test_boxes_table_shape(spark, analysis):
    boxes = boxes_table(analysis)
    row = boxes.first()
    assert {"url", "pagina", "box", "id", "texto", "tipo"} <= set(boxes.columns)
    assert row["tipo"] in {"P", "C", "R", "T", "F", "E", "CT"}


def test_resume_idempotence(spark, pages, tmp_path):
    out = str(tmp_path / "analysis")
    run_resumable(spark, pages.limit(20), out)
    assert spark.read.parquet(out).count() == 20
    run_resumable(spark, pages, out)
    df = spark.read.parquet(out)
    assert df.count() == N_DOCS
    assert df.select("url").distinct().count() == N_DOCS
    run_resumable(spark, pages, out)
    assert spark.read.parquet(out).count() == N_DOCS


def test_weighted_repartition_spreads_heavy(spark, pages):
    est = with_page_estimate(pages.select("url", "html"))
    balanced = weighted_repartition(est, num_partitions=4)
    # heavy docs (est_pages >= 8) must not collapse into one partition when
    # there are several, and the job must preserve every row
    assert balanced.count() == N_DOCS
    pid = balanced.withColumn(
        "pid", __import__("pyspark").sql.functions.spark_partition_id()
    )
    heavy = pid.where("est_pages >= 8").select("pid").distinct().count()
    n_heavy = pid.where("est_pages >= 8").count()
    assert heavy >= min(n_heavy, 2) or n_heavy <= 1


def _partition_weights(spark, rows, num_partitions=8):
    from pyspark.sql import functions as F

    from servico_ocr_spark.pipeline import weighted_repartition

    df = spark.createDataFrame(rows, "url string, est_pages long")
    balanced = weighted_repartition(df, num_partitions=num_partitions)
    loads = (
        balanced.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.sum("est_pages").alias("w"))
        .collect()
    )
    return [r["w"] for r in loads]


def test_weighted_repartition_balances_adversarial_skew(spark):
    """Quantitative balance bound: 512 docs at 100× the weight of 1000
    light docs. Per-group weight-rank round-robin must keep every
    partition's page mass near the mean — the property that keeps one
    task from owning all the 500-page PDFs at 10^12-doc scale."""
    rows = [(f"https://t/light{i}", 1) for i in range(1000)]
    rows += [(f"https://t/heavy{i}", 100) for i in range(512)]
    weights = _partition_weights(spark, rows)
    assert len(weights) == 8 and sum(weights) == 1000 + 51200
    mean = sum(weights) / len(weights)
    assert max(weights) / mean < 1.25, weights


def test_weighted_repartition_sparse_heavy_bounded(spark):
    """Sparse regime (heavy docs ≈ partitions): without a second input
    pass or a global sort there is no cross-group coordination, so the
    floor is binomial — bounded, never collapsed onto few partitions."""
    rows = [(f"https://t/light{i}", 1) for i in range(1000)]
    rows += [(f"https://t/heavy{i}", 100) for i in range(32)]
    weights = _partition_weights(spark, rows)
    assert sum(weights) == 1000 + 3200
    mean = sum(weights) / len(weights)
    assert max(weights) / mean < 2.6, weights
    # every partition still gets work (no starvation)
    assert min(weights) > 0, weights


def test_page_estimate_handles_pathological_headers(spark):
    """with_page_estimate must fall back to 1 (not throw under ANSI) for
    corrupt bytes, absent fields, and n_pages values that overflow BIGINT."""
    from pyspark.sql import functions as F

    from servico_ocr_spark.pipeline import with_page_estimate

    rows = [
        ("u1", b'{"fmt":"synthdoc/v1","n_pages":7,"x":"y"}'),
        ("u2", b"\x00\xff junk not json"),
        ("u3", b'{"fmt":"synthdoc/v1","n_pages":99999999999999999999999999}'),
        ("u4", b'{"fmt":"synthdoc/v1"}'),
        ("u5", b""),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["url"]: r["est_pages"]
           for r in with_page_estimate(df).collect()}
    assert got == {"u1": 7, "u2": 1, "u3": 1, "u4": 1, "u5": 1}
