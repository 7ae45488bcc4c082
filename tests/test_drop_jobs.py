"""Per-drop fixed cost of the ingest: a job budget for ``run_pipeline`` into
an existing warehouse, no rewrite of unchanged small dimensions, and
driver-assigned small-dim keys equal to Spark's ``row_number`` order.

The small dims (study, illness, platform, gene) are merged on the driver
(``operators/dims.py``); these tests pin that the merge is cheap in Spark
jobs and numerically the same as the set-oriented build it replaces.
"""
from __future__ import annotations

import pathlib

import pyspark.sql.functions as F
from pyspark.sql import Window

from etl_for_all_studies_spark.config import config_from_dict
from etl_for_all_studies_spark.operators.dims import SMALL_DIMS, merge_small_dim
from etl_for_all_studies_spark.plans.pipeline import run_pipeline
from etl_for_all_studies_spark.schemas import TABLE_SCHEMAS

# Spark jobs one run_pipeline of a two-study drop into an existing warehouse
# may launch: measured 44 on local[4] with 4 shuffle partitions, against 89
# for Spark-side small-dim builds with inferred schemas on every read
DROP_JOB_BUDGET = 48


def _write_study(studies: pathlib.Path, acc: str, prefix: str, illness: str, genes: list[str]):
    d = studies / acc
    d.mkdir(parents=True)
    (d / f"metadata_{acc}.tsv").write_text(
        "refinebio_accession_code\texperiment_accession\trefinebio_platform\t"
        "characteristics_ch1_illness\n"
        + "".join(f"{prefix}{i}\t{acc}\tGPL96\t{illness}\n" for i in range(4))
    )
    header = "Gene\t" + "\t".join(f"{prefix}{i}" for i in range(4))
    rows = "".join(
        f"{g}\t" + "\t".join(str(float((j + 1) * (i + 1))) for i in range(4)) + "\n"
        for j, g in enumerate(genes)
    )
    (d / f"expression_{acc}.tsv").write_text(header + "\n" + rows)


def _config(tmp_path: pathlib.Path, studies: pathlib.Path):
    genes = tmp_path / "genes.tsv"
    genes.write_text("ensembl_id\nENSG01\nENSG02\nENSG03\n")
    return config_from_dict(
        {
            "warehouse": {"path": str(tmp_path / "wh")},
            "processing": {"input_directory": str(studies), "gene_filter_file": str(genes)},
            "logging": {"log_level": "WARNING"},
        }
    )


def _dim_files(wh: pathlib.Path) -> dict[str, tuple[int, int]]:
    return {
        str(p.relative_to(wh)): (p.stat().st_size, p.stat().st_mtime_ns)
        for t in SMALL_DIMS
        for p in (wh / t).rglob("*")
        if p.is_file()
    }


def _dim_keys(spark, wh: pathlib.Path) -> dict[str, set[tuple]]:
    return {t: {tuple(r) for r in spark.read.parquet(str(wh / t)).collect()} for t in SMALL_DIMS}


def test_drop_into_existing_warehouse_stays_under_job_budget(spark, tmp_path, count_jobs):
    base, drop = tmp_path / "base", tmp_path / "drop"
    _write_study(base, "GSE_A", "A", "healthy", ["ENSG01", "ENSG02"])
    run_pipeline(_config(tmp_path, base), spark=spark)

    _write_study(drop, "GSE_B", "B", "diabetes", ["ENSG02", "ENSG03"])
    _write_study(drop, "GSE_C", "C", "healthy", ["ENSG01", "ENSG03"])
    res, jobs = count_jobs(lambda: run_pipeline(_config(tmp_path, drop), spark=spark))
    assert sorted(res.processed_studies) == ["GSE_B", "GSE_C"]
    assert res.fact_rows_written == 16
    assert jobs <= DROP_JOB_BUDGET, f"{jobs} Spark jobs for a two-study drop"


def test_identical_redrop_rewrites_no_small_dimension(spark, tmp_path):
    studies = tmp_path / "studies"
    _write_study(studies, "GSE_A", "A", "healthy", ["ENSG01", "ENSG02"])
    _write_study(studies, "GSE_B", "B", "diabetes", ["ENSG02", "ENSG03"])
    cfg = _config(tmp_path, studies)
    run_pipeline(cfg, spark=spark)
    wh = tmp_path / "wh"
    files, keys = _dim_files(wh), _dim_keys(spark, wh)
    assert all(len(keys[t]) for t in SMALL_DIMS)

    res = run_pipeline(cfg, spark=spark)
    assert res.fact_rows_written == 0
    assert _dim_files(wh) == files  # same files, untouched
    assert _dim_keys(spark, wh) == keys


def test_fresh_drop_writes_every_small_dim_even_when_empty(spark, tmp_path):
    """A dim that gains no key is skipped only if its table exists: a fresh
    warehouse whose drop has no illness label still gets an empty
    dim_illness table with its schema."""
    studies = tmp_path / "studies"
    _write_study(studies, "GSE_A", "A", "", ["ENSG01", "ENSG02"])
    run_pipeline(_config(tmp_path, studies), spark=spark)
    illness = spark.read.parquet(str(tmp_path / "wh" / "dim_illness"))
    assert illness.schema.simpleString() == TABLE_SCHEMAS["dim_illness"].simpleString()
    assert illness.count() == 0
    assert spark.read.parquet(str(tmp_path / "wh" / "dim_platform")).count() == 1


def test_driver_keys_equal_spark_row_number(spark):
    """Ascending code-point order (Python) is UTF-8 byte order (Spark), so
    driver-assigned keys equal a row_number over the natural key — also for
    non-ASCII and supplementary-plane labels, fresh and incremental."""
    labels = [
        "diabetes", "Diabetes", "healthy", "Zöliakie", "éczema", "ß", "Ω-syndrome",
        "日本", "￯", "\U00010000", "😀 flu", "\U0001f600", "a", "",
    ]
    df = spark.createDataFrame([(x,) for x in labels], "illness_label string")

    def spark_keys(frame, base):
        w = Window.orderBy("illness_label")
        return {
            r["illness_label"]: r["k"]
            for r in frame.select(
                "illness_label", (F.row_number().over(w) + base).alias("k")
            ).collect()
        }

    fresh = merge_small_dim(spark, "dim_illness", {}, labels)
    assert fresh.changed
    assert fresh.keys == spark_keys(df, 0)
    assert {tuple(r) for r in fresh.frame.collect()} == {(k, n) for n, k in fresh.keys.items()}

    old = {n: k for n, k in fresh.keys.items() if k <= 7}
    grown = merge_small_dim(spark, "dim_illness", old, labels)
    novel = df.where(~F.col("illness_label").isin(list(old)))
    assert grown.keys == {**old, **spark_keys(novel, 7)}
    assert not merge_small_dim(spark, "dim_illness", grown.keys, labels).changed
