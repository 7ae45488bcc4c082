"""Expression operators tests (reference shape:
``tests/test_expression_processing.py``)."""
import pytest

from etl_for_all_studies_spark.operators.expression import (
    ExpressionSchemaError,
    expression_wide_to_long,
    filter_to_whitelist,
    intersect_sample_columns,
)
from etl_for_all_studies_spark.sources.study_io import (
    InputFormatError,
    read_expression_wide,
    read_gene_filter,
)


@pytest.fixture()
def wide(spark, study_tree):
    return read_expression_wide(
        spark, str(study_tree["studies"] / "GSE1" / "expression_GSE1.tsv")
    )


def test_first_column_validation(spark, tmp_path):
    bad = tmp_path / "bad.tsv"
    bad.write_text("notgene\tS1\nX\t1.0\n")
    with pytest.raises(InputFormatError):
        read_expression_wide(spark, str(bad))


def test_sample_intersection_drops_and_warns(wide):
    kept, missing = intersect_sample_columns(wide, ["S1", "S3", "S4"])
    assert kept == ["S1", "S3"]  # expression column order preserved; S9 pruned
    assert missing == ["S4"]


def test_no_surviving_samples_errors(wide):
    with pytest.raises(ExpressionSchemaError):
        expression_wide_to_long(wide, ["ZZZ"], "GSE1")


def test_unpivot_cast_drop_and_whitelist(spark, wide, study_tree):
    long = expression_wide_to_long(wide, ["S1", "S2", "S3"], "GSE1")
    rows = long.collect()
    # 5 genes x 3 samples = 15 cells, minus 1 unparseable "NA"
    assert len(rows) == 14
    assert all(r["gsm_accession"] != "S9" for r in rows)
    genes = read_gene_filter(spark, str(study_tree["genes"]))
    filtered = filter_to_whitelist(long, genes)
    assert filtered.where("ensembl_id = 'ENSGXX'").count() == 0
    assert filtered.count() == 11


def test_wide_side_whitelist_prefilter_matches_postfilter(
    spark, wide, study_tree
):
    """The gene whitelist applied on the WIDE side (before the melt — the
    reference's row-oriented order, expression_processing.py:83-84) must
    admit exactly the rows the long-side semi-join admits, and its join
    must execute BELOW the Expand so only gene rows pay the probe."""
    genes = read_gene_filter(spark, str(study_tree["genes"]))
    post = filter_to_whitelist(
        expression_wide_to_long(wide, ["S1", "S2", "S3"], "GSE1"), genes
    )
    pre = expression_wide_to_long(
        wide, ["S1", "S2", "S3"], "GSE1", gene_whitelist=genes
    )
    key = ["ensembl_id", "gsm_accession", "expression_value"]
    assert sorted(map(tuple, pre.select(key).collect())) == sorted(
        map(tuple, post.select(key).collect())
    )
    plan = pre._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in plan and "BroadcastHashJoin" in plan
    # top-down tree: Expand printing before the join = join runs below it
    assert plan.index("Expand") < plan.index("BroadcastHashJoin")


def test_gene_filter_validation(spark, tmp_path):
    f = tmp_path / "genes.tsv"
    f.write_text("wrong_col\nX\n")
    with pytest.raises(InputFormatError):
        read_gene_filter(spark, str(f))
    f.write_text("ensembl_id\n\n   \n")
    with pytest.raises(InputFormatError):
        read_gene_filter(spark, str(f))


def test_quantile_normalize_bolstad_example(spark):
    """Classic worked example: after QN every sample carries the identical
    reference distribution (the per-rank cross-sample means), ragged
    samples average over present ranks only, and grouped matrices
    normalize within their group."""
    from etl_for_all_studies_spark.operators.expression import quantile_normalize

    rows = [  # samples A=(2,4,6) B=(1,2,3): ref dist = (1.5, 3.0, 4.5)
        ("A", "g1", 4.0), ("A", "g2", 2.0), ("A", "g3", 6.0),
        ("B", "g1", 3.0), ("B", "g2", 1.0), ("B", "g3", 2.0),
    ]
    df = spark.createDataFrame(rows, "gsm_accession string, ensembl_id string, expression_value double")
    out = {
        (r["gsm_accession"], r["ensembl_id"]): (r["qn_rank"], r["qn_value"])
        for r in quantile_normalize(df).collect()
    }
    assert out[("A", "g2")] == (1, 1.5) and out[("B", "g2")] == (1, 1.5)
    assert out[("A", "g1")] == (2, 3.0) and out[("B", "g3")] == (2, 3.0)
    assert out[("A", "g3")] == (3, 4.5) and out[("B", "g1")] == (3, 4.5)

    # ragged: sample C has only 1 value → rank-1 mean now over 3 samples
    ragged = spark.createDataFrame(
        rows + [("C", "g9", 7.5)],
        "gsm_accession string, ensembl_id string, expression_value double",
    )
    r1 = {
        (r["gsm_accession"], r["ensembl_id"]): r["qn_value"]
        for r in quantile_normalize(ragged).collect()
    }
    assert r1[("C", "g9")] == (2.0 + 1.0 + 7.5) / 3
    assert r1[("A", "g1")] == 3.0  # rank 2 untouched by the ragged sample

    # grouping: two studies normalize independently
    grouped = spark.createDataFrame(
        [("s1", *r) for r in rows] + [("s2", "A", "g1", 100.0), ("s2", "B", "g1", 50.0)],
        "study string, gsm_accession string, ensembl_id string, expression_value double",
    )
    g = {
        (r["study"], r["gsm_accession"], r["ensembl_id"]): r["qn_value"]
        for r in quantile_normalize(grouped, group_cols=["study"]).collect()
    }
    assert g[("s2", "A", "g1")] == 75.0 and g[("s2", "B", "g1")] == 75.0
    assert g[("s1", "A", "g2")] == 1.5  # s1 unchanged by s2's scale


def test_wide_tsv_beyond_univocity_default_column_cap(spark, tmp_path):
    """Spark's univocity parser rejects >20,480 columns unless maxColumns is
    raised — the reference's envelope is 10k-50k samples/study, so a wide
    read at 25k columns must parse (found by the 50k-sample probe)."""
    from etl_for_all_studies_spark.sources.study_io import read_expression_wide

    n = 25_000
    p = tmp_path / "wide.tsv"
    with p.open("w") as f:
        f.write("Gene\t" + "\t".join(f"S{i}" for i in range(n)) + "\n")
        f.write("ENSG01\t" + "\t".join("1.5" for _ in range(n)) + "\n")
    df = read_expression_wide(spark, str(p))
    assert len(df.columns) == n + 1
    row = df.select("ensembl_id", f"S{n - 1}").collect()
    assert row == [("ENSG01", "1.5")]


def _messy_tsv(tmp_path):
    """Fixture with every melt edge: bad cells, an unkept column, a missing
    metadata sample, whitespace-padded gene ids, an empty trailing field."""
    p = tmp_path / "messy.tsv"
    p.write_text(
        "Gene\tS1\tS2\tUNKEPT\tS3\n"
        "ENSG01\t1.5\tbad\t9\t2.5\n"
        " ENSG02 \t-3\t\t9\t4e2\n"      # padded id, empty cell
        "ENSG03\tNaN\t0\t9\t7\n"        # NaN parses as double NaN? no: try_cast -> NaN is valid
        "DROPME\t1\t2\t9\t3\n"
    )
    return str(p)


def test_text_melt_matches_wide_melt(spark, tmp_path):
    """expression_text_to_long is a bit-exact twin of expression_wide_to_long
    on the same file — O-13 whitelist, O-14 pruning, O-15 bad-cell drop."""
    from etl_for_all_studies_spark.operators.expression import (
        expression_text_to_long,
    )

    import math

    path = _messy_tsv(tmp_path)
    samples = ["S1", "S2", "S3", "SMISSING"]
    wl = spark.createDataFrame(
        [("ENSG01",), ("ENSG02",), ("ENSG03",)], "ensembl_id string"
    )

    def canon(df):  # NaN == NaN for the comparison (both paths keep "NaN")
        return sorted(
            tuple("NaN" if isinstance(v, float) and math.isnan(v) else v
                  for v in row)
            for row in df.collect()
        )

    wide_df = read_expression_wide(spark, path)
    via_wide = canon(
        expression_wide_to_long(wide_df, samples, "GSEX", gene_whitelist=wl)
    )
    via_text = canon(
        expression_text_to_long(spark, path, samples, "GSEX", gene_whitelist=wl)
    )
    assert via_text == via_wide
    genes_seen = {r[1] for r in via_text}
    assert "DROPME" not in genes_seen and "ENSG02" in genes_seen
    cols_seen = {r[2] for r in via_text}
    assert cols_seen == {"S1", "S2", "S3"}  # UNKEPT pruned positionally


def test_text_melt_validation_parity(spark, tmp_path):
    from etl_for_all_studies_spark.operators.expression import (
        expression_text_to_long,
    )

    bad = tmp_path / "bad.tsv"
    bad.write_text("notgene\tS1\nX\t1.0\n")
    with pytest.raises(InputFormatError):
        expression_text_to_long(spark, str(bad), ["S1"], "GSEX")
    ok = tmp_path / "ok.tsv"
    ok.write_text("Gene\tS1\nX\t1.0\n")
    with pytest.raises(ExpressionSchemaError):
        expression_text_to_long(spark, str(ok), ["ZZZ"], "GSEX")


def test_pipeline_routes_ultrawide_to_text_melt(spark, study_tree, monkeypatch):
    """Force the threshold to 1 so the fixture study takes the text path
    end-to-end through run_pipeline — identical warehouse facts."""
    import etl_for_all_studies_spark.plans.pipeline as pl
    from etl_for_all_studies_spark import run_pipeline
    from etl_for_all_studies_spark.config import config_from_dict

    cfg = config_from_dict(
        {
            "warehouse": {"path": str(study_tree["root"] / "wh_textmelt")},
            "processing": {
                "input_directory": str(study_tree["studies"]),
                "gene_filter_file": str(study_tree["genes"]),
            },
            "logging": {"log_level": "WARNING"},
        }
    )
    monkeypatch.setattr(pl, "_TEXT_MELT_THRESHOLD", 1)
    res = run_pipeline(cfg, spark=spark)
    assert not res.failures and res.fact_rows_written > 0
    facts = spark.read.parquet(
        str(study_tree["root"] / "wh_textmelt" / "fact_expression")
    )
    assert facts.count() == res.fact_rows_written


def test_quoted_ultrawide_stays_on_csv_path(spark, study_tree, monkeypatch):
    """A quoted expression TSV above the melt threshold must route to the
    CSV wide path (which unquotes cells), not the text melt (where '"1.5"'
    fails try_cast and is silently dropped). univocity strips quotes during
    parsing, so the guard must read the RAW header (ADVICE r9, medium)."""
    import etl_for_all_studies_spark.plans.pipeline as pl
    from etl_for_all_studies_spark import run_pipeline
    from etl_for_all_studies_spark.config import config_from_dict

    # re-write the fixture study fully quoted (header fields + cells)
    expr = study_tree["studies"] / "GSE1" / "expression_GSE1.tsv"
    quoted = "\n".join(
        "\t".join(f'"{c}"' for c in line.split("\t"))
        for line in expr.read_text().rstrip("\n").split("\n")
    )
    expr.write_text(quoted + "\n")

    cfg = config_from_dict(
        {
            "warehouse": {"path": str(study_tree["root"] / "wh_quoted")},
            "processing": {
                "input_directory": str(study_tree["studies"]),
                "gene_filter_file": str(study_tree["genes"]),
            },
            "logging": {"log_level": "WARNING"},
        }
    )
    monkeypatch.setattr(pl, "_TEXT_MELT_THRESHOLD", 1)
    res = run_pipeline(cfg, spark=spark)
    assert not res.failures
    facts = spark.read.parquet(
        str(study_tree["root"] / "wh_quoted" / "fact_expression")
    )
    # same 11 facts the unquoted fixture yields (4 whitelist genes × S1-S3,
    # ENSG04/S1 'NA' dropped) — quoted values parsed, nothing silently lost
    assert res.fact_rows_written == facts.count() == 11
    wh = study_tree["root"] / "wh_quoted"
    genes = spark.read.parquet(str(wh / "dim_gene"))
    samples = spark.read.parquet(str(wh / "dim_sample"))
    vals = {
        (r.ensembl_id, r.gsm_accession): r.expression_value
        for r in facts.join(genes, "gene_key")
        .join(samples, "sample_key")
        .select("ensembl_id", "gsm_accession", "expression_value")
        .collect()
    }
    assert vals[("ENSG02", "S2")] == pytest.approx(1.5)


def test_sniff_header_non_utf8_falls_back(tmp_path, spark):
    """A non-UTF-8 byte in the header returns None (ceiling fallback)
    instead of raising from every _read_tsv (ADVICE r9, low)."""
    from etl_for_all_studies_spark.sources.study_io import sniff_header

    p = tmp_path / "latin1.tsv"
    p.write_bytes(b"Gene\tS\xe9ries\nENSG01\t1.0\n")
    assert sniff_header(str(p)) is None
    # the Spark CSV scan still reads it leniently
    df = read_expression_wide(spark, str(p))
    assert df.count() == 1


def _inferred_columns(spark, path):
    """Spark's own header inference, for comparison with the sniffed schema."""
    return (
        spark.read.option("sep", "\t").option("header", True)
        .option("encoding", "UTF-8").csv(str(path)).columns
    )


def test_read_tsv_sniffed_schema_matches_spark_header_names(tmp_path, spark, count_jobs):
    """The schema declared from the sniffed header reproduces Spark's safe
    header names — exact duplicates, case-insensitive duplicates and empty
    cells — and opening the file runs no Spark job."""
    from etl_for_all_studies_spark.sources.study_io import _read_tsv

    p = tmp_path / "dups.tsv"
    p.write_text("Gene\tS1\tS1\ts2\tS2\t\tS3\t\nENSG01\t1\t2\t3\t4\t5\t6\t7\n")
    df, jobs = count_jobs(lambda: _read_tsv(spark, str(p)))
    assert jobs == 0
    assert df.columns == _inferred_columns(spark, p)
    assert df.columns == ["Gene", "S11", "S12", "s23", "S24", "_c5", "S3", "_c7"]
    assert [tuple(r) for r in df.collect()] == [("ENSG01", "1", "2", "3", "4", "5", "6", "7")]


def test_read_tsv_falls_back_to_inference(tmp_path, spark, count_jobs):
    """Headers the sniff cannot vouch for cell for cell — quoted, with a
    BOM, not UTF-8 — take Spark's header inference (one job at open)."""
    from etl_for_all_studies_spark.sources.study_io import _read_tsv

    cases = {
        "quoted.tsv": b'"Gene"\t"S1"\t"S 2"\nENSG01\t1\t2\n',
        "bom.tsv": "﻿Gene\tS1\tS2\nENSG01\t1\t2\n".encode("utf-8"),
        "latin1.tsv": b"Gene\tS\xe9ries\tS2\nENSG01\t1\t2\n",
    }
    for name, body in cases.items():
        p = tmp_path / name
        p.write_bytes(body)
        df, jobs = count_jobs(lambda: _read_tsv(spark, str(p)))
        assert jobs >= 1, f"{name}: expected the inference fallback"
        assert df.columns == _inferred_columns(spark, p), name
