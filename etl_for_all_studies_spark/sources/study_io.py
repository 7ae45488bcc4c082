"""TSV sources: metadata scan (O-3), wide expression scan (O-4), gene-filter
whitelist (O-5).

All three are plain ``spark.read.csv`` scans — header-driven, tab-delimited,
all-string schema (types are applied downstream so bad cells can be dropped
with DQ accounting rather than failing the scan; reference semantics
``expression_processing.py:93-102``). The all-string schema is declared from
the driver-side header sniff, so opening a file runs no Spark job; Spark's
own header inference is the fallback for headers the sniff cannot vouch for.
"""
from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .warehouse import local_frame


class InputFormatError(ValueError):
    """Raised when an input file violates its documented schema."""


# Spark's univocity CSV parser hard-fails past 20,480 columns by default
# (ArrayIndexOutOfBoundsException, found by the 50k-sample envelope probe —
# tools/bench_etl_wide.py). The reference's stated envelope is 10k-50k
# samples/study (docs/genomic-etl-requirements.md:35), i.e. up to a
# 50,001-column expression TSV. maxColumns is sized from the file's OWN
# header (+16 headroom) because univocity's per-row cost scales with the
# SETTING, not the actual width — a flat 200k ceiling measured +37% on the
# whole 10k-column ETL (174 s vs 127 s); the ceiling is only the fallback
# when the header can't be sniffed (non-local path).
_MAX_TSV_COLUMNS = 200_000
_HEADER_SNIFF_BYTES = 64 * 1024 * 1024  # loud guard: a header row this big
# is corrupt input, not a wide study (50k tab-separated GSM ids ≈ 0.5 MB)


def sniff_header(path: str) -> list[str] | None:
    """First-line column names via a driver-side read; None when the path
    isn't locally readable (object store / HDFS URI — callers fall back)."""
    try:
        with open(path, "rb") as f:
            head = f.readline(_HEADER_SNIFF_BYTES)
    except OSError:
        return None
    if not head.endswith(b"\n") and len(head) >= _HEADER_SNIFF_BYTES:
        raise InputFormatError(
            f"Header row exceeds {_HEADER_SNIFF_BYTES} bytes: {path}"
        )
    try:
        return head.decode("utf-8").rstrip("\r\n").split("\t")
    except UnicodeDecodeError:
        # non-UTF-8 first line: fall back to the _MAX_TSV_COLUMNS ceiling
        # rather than failing every _read_tsv at the driver-side sniff —
        # the Spark CSV scan handles the bytes with its own lenient decode
        return None


def spark_header_names(header: list[str], case_sensitive: bool = False) -> list[str]:
    """The column names Spark's CSV reader derives from a header row
    (``CSVDataSource.makeSafeHeader``): an empty cell becomes ``_c{i}``, and
    every cell of a duplicated name — compared case-insensitively unless
    ``spark.sql.caseSensitive`` — gets its index appended."""
    fold = (lambda name: name) if case_sensitive else str.lower
    seen = Counter(fold(name) for name in header if name)
    return [
        f"_c{i}" if not name else f"{name}{i}" if seen[fold(name)] > 1 else name
        for i, name in enumerate(header)
    ]


def _declarable(header: list[str] | None) -> bool:
    """Whether the sniffed first line is the row Spark would take as the
    header, cell for cell. Quotes (univocity unquotes them), a BOM (the line
    reader strips it), control characters (a bare CR is a line break to
    Hadoop) and a blank first line (Spark skips it and takes the next) all
    defer to Spark's inference."""
    if header is None:
        return False
    line = "\t".join(header)
    return bool(line.strip()) and not (
        line.startswith("\ufeff")
        or '"' in line
        or any(c < " " and c != "\t" for c in line)
    )


def _read_tsv(spark: SparkSession, path: str) -> DataFrame:
    header = sniff_header(path)
    reader = (
        spark.read.option("sep", "\t")
        .option("header", True)
        .option("inferSchema", False)  # all strings; casts are explicit downstream
        .option("encoding", "UTF-8")
        .option("maxColumns", len(header) + 16 if header else _MAX_TSV_COLUMNS)
    )
    if _declarable(header):
        case_sensitive = spark.conf.get("spark.sql.caseSensitive", "false") == "true"
        names = spark_header_names(header, case_sensitive)
        reader = reader.schema(T.StructType([T.StructField(n, T.StringType()) for n in names]))
    return reader.csv(path)


def read_metadata_raw(spark: SparkSession, path: str) -> DataFrame:
    """Metadata TSV scan (O-3; reference ``metadata_processing.py:116-117``).

    Returns the raw per-sample DataFrame with the study's dynamic columns;
    required-column validation (O-11) happens in the normalizer where the
    study accession is known for error messages.
    """
    return _read_tsv(spark, path)


def read_expression_wide(spark: SparkSession, path: str) -> DataFrame:
    """Wide gene × sample expression scan (O-4; ``expression_processing.py:38-52``).

    Validates the positional contract: ≥2 columns and first header in
    {``gene``, ``ensembl_id``} case-insensitively. The first column is renamed
    to ``ensembl_id`` so downstream operators are name-stable.
    """
    df = _read_tsv(spark, path)
    columns = df.columns
    if len(columns) < 2:
        raise InputFormatError(
            f"Expression file must have a gene column plus ≥1 sample column: {path}"
        )
    first = columns[0].strip()
    if first.casefold() not in {"gene", "ensembl_id"}:
        raise InputFormatError(
            f"Expression file's first column must be 'Gene' or 'ensembl_id', got {first!r}: {path}"
        )
    return df.withColumnRenamed(columns[0], "ensembl_id")


def read_gene_filter(spark: SparkSession, path: str) -> DataFrame:
    """Gene whitelist (O-5; reference ``gene_filter.py:12-28``).

    Only the ``ensembl_id`` column is read; blank ids are dropped; the file is
    invalid if the column is missing or yields zero ids. Returned as a
    single-column DataFrame intended for a **broadcast semi-join** (O-13) —
    the whitelist is tiny (143 ids in the shipped file) while the expression
    side is the 100 TB side, so the filter must never shuffle the big side.
    The ids are collected once (the validation needs that job anyway) into
    a driver-built local frame, so every broadcast of it is job-free.
    """
    df = _read_tsv(spark, path)
    if "ensembl_id" not in df.columns:
        raise InputFormatError(f"Gene filter file missing 'ensembl_id' column: {path}")
    ids = {r[0] for r in df.select(F.trim(F.col("ensembl_id"))).collect() if r[0]}
    if not ids:
        raise InputFormatError(f"Gene filter file yielded zero gene ids: {path}")
    schema = T.StructType([T.StructField("ensembl_id", T.StringType(), False)])
    return local_frame(spark, schema, [(i,) for i in sorted(ids)])


__all__ = [
    "InputFormatError",
    "read_expression_wide",
    "read_gene_filter",
    "read_metadata_raw",
]
