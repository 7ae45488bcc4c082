"""Dimension merges with deterministic, stable surrogate keys.

Replaces the reference's per-row get-or-create probes + in-memory dim caches
(``src/etl_for_all_studies/repositories.py:30-185``) with one get-or-create
merge per dimension and drop: existing rows keep their keys; only novel
natural keys get fresh keys, ``max(existing)+1…`` in ascending natural-key
order. Keys are **deterministic**, so oracle comparison is stable.

Two physical strategies, chosen by what bounds the dimension:

* **Small dims on the driver.** ``dim_study``, ``dim_illness``,
  ``dim_platform`` and ``dim_gene`` are bounded by the studies, the label
  vocabulary and the gene whitelist, and the fact build already broadcasts
  them. Their existing keys arrive in one collect (:func:`collect_dim_keys`)
  and their candidate natural keys come from collects the pipeline already
  runs, so the merge is a dict update. Ascending code-point order of Python
  strings is Spark's UTF-8 byte order, so the keys equal a ``row_number``
  over the natural key. The merged dim is an Arrow-backed ``LocalRelation``
  (broadcast with no job), and a dim whose natural keys are all known is
  reported unchanged and **not rewritten**.
* **dim_sample distributed.** It grows with the corpus (10k–50k
  samples/study × many studies), so it is a Spark plan: a full outer join of
  existing and incoming rows for enrichment, with novel keys assigned
  **per-study in parallel** — ``row_number`` partitioned by ``study_key``
  plus dense per-study offsets (a window over one row per study) plus the
  existing maximum as a broadcast one-row scalar. That is numerically a
  global sort by ``(study_key, gsm_accession)`` with no fact-scale
  single-partition Exchange and no driver-side probe of the table.

Per drop this costs one collect for the four small dims, one write per small
dim that gained keys or has no table yet, and one dim_sample rewrite.
"""
from __future__ import annotations

import dataclasses
import functools
from collections.abc import Iterable, Mapping

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..schemas import DIM_SAMPLE, TABLE_SCHEMAS, UNKNOWN
from ..sources.warehouse import local_frame

SMALL_DIMS = ("dim_study", "dim_illness", "dim_platform", "dim_gene")


@dataclasses.dataclass(frozen=True)
class SmallDim:
    """A merged small dimension: natural key → surrogate key, the same rows
    as a broadcastable frame, and whether any key is new (the table needs a
    rewrite only then)."""

    keys: dict[str, int]
    frame: DataFrame
    changed: bool


def collect_dim_keys(dims: Mapping[str, DataFrame | None]) -> dict[str, dict[str, int]]:
    """Existing natural key → surrogate key of each small dim, in ONE job
    (a union of the tables' two columns). A missing table maps to ``{}``."""
    keys: dict[str, dict[str, int]] = {table: {} for table in dims}
    parts = [
        df.select(
            F.lit(table).alias("t"),
            F.col(TABLE_SCHEMAS[table][1].name).alias("n"),
            F.col(TABLE_SCHEMAS[table][0].name).alias("k"),
        )
        for table, df in dims.items()
        if df is not None
    ]
    if parts:
        for table, natural, key in functools.reduce(DataFrame.unionByName, parts).collect():
            keys[table][natural] = key
    return keys


def merge_small_dim(
    spark: SparkSession, table: str, existing: Mapping[str, int], candidates: Iterable[str | None]
) -> SmallDim:
    """Get-or-create on the driver: novel non-NULL candidates get keys
    ``max(existing)+1…`` in ascending natural-key order."""
    novel = sorted({c for c in candidates if c is not None} - existing.keys())
    base = max(existing.values(), default=0)
    keys = {**existing, **{n: base + i for i, n in enumerate(novel, 1)}}
    rows = sorted((k, n) for n, k in keys.items())
    return SmallDim(keys, local_frame(spark, TABLE_SCHEMAS[table], rows), bool(novel))


def _labels(values: Iterable[str | None]) -> list[str | None]:
    """UNKNOWN / empty labels map to a NULL FK, never to a dim row
    (``repositories.py:148-173``)."""
    return [v for v in values if v not in (UNKNOWN, "")]


def build_dim_study(spark: SparkSession, existing: Mapping[str, int], accessions: Iterable[str]) -> SmallDim:
    """dim_study: 1 row per GSE accession (``models.py:24-31``)."""
    return merge_small_dim(spark, "dim_study", existing, accessions)


def build_dim_gene(spark: SparkSession, existing: Mapping[str, int], ensembl_ids: Iterable[str]) -> SmallDim:
    """dim_gene: 1 row per Ensembl id **seen in loaded facts** (``models.py:15-21``;
    the reference creates gene rows lazily per loaded expression row,
    ``pipeline.py:202``, so unexpressed whitelist genes never get dim rows)."""
    return merge_small_dim(spark, "dim_gene", existing, ensembl_ids)


def build_dim_illness(spark: SparkSession, existing: Mapping[str, int], labels: Iterable[str]) -> SmallDim:
    """dim_illness: 1 row per non-UNKNOWN label (``models.py:34-40``)."""
    return merge_small_dim(spark, "dim_illness", existing, _labels(labels))


def build_dim_platform(spark: SparkSession, existing: Mapping[str, int], accessions: Iterable[str]) -> SmallDim:
    """dim_platform: 1 row per non-UNKNOWN accession (``models.py:43-49``)."""
    return merge_small_dim(spark, "dim_platform", existing, _labels(accessions))


def _assign_sample_keys(incoming: DataFrame, base: int | Column) -> DataFrame:
    """Dense, deterministic sample keys without a global single-partition sort.

    key = ``base`` (a number or a column) + rank of (study_key,
    gsm_accession) — computed as a per-study ``row_number`` (parallel across
    studies) plus each study's cumulative row-count offset. The offset window is single-partition but
    runs over ONE row per study (the counts aggregate), never the samples
    themselves, so the plan stays parallel at any corpus size.
    """
    per_study = Window.partitionBy("study_key").orderBy("gsm_accession")
    counts = incoming.groupBy("study_key").agg(F.count(F.lit(1)).alias("__n"))
    off_w = Window.orderBy("study_key").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "study_key", F.coalesce(F.sum("__n").over(off_w), F.lit(0)).alias("__off")
    )
    return (
        incoming.withColumn("__rn", F.row_number().over(per_study))
        .join(F.broadcast(offsets), on="study_key")
        .withColumn(
            "sample_key",
            (F.col("__rn") + F.col("__off") + base).cast("long"),
        )
        .drop("__rn", "__off")
    )


def build_dim_sample(
    existing: DataFrame | None,
    metadata: DataFrame,
    dim_study: DataFrame,
    dim_illness: DataFrame,
    dim_platform: DataFrame,
) -> DataFrame:
    """dim_sample: 1 row per (gsm_accession, study_key) (``models.py:52-69``).

    * UNKNOWN platform/illness → NULL FK (O-17, ``repositories.py:148-173``);
    * enrichment on re-run (O-47, ``repositories.py:188-229``): an existing
      sample's UNKNOWN/NULL attributes are filled from new metadata, but a
      known value is never downgraded;
    * surrogate keys preserved for existing (gsm, study) pairs.

    All dim joins broadcast (dims ≪ broadcast threshold).
    """
    incoming = (
        metadata.join(F.broadcast(dim_study), on="gse_accession", how="inner")
        .join(
            F.broadcast(dim_illness),
            on=metadata["illness"] == dim_illness["illness_label"],
            how="left",
        )
        .join(
            F.broadcast(dim_platform),
            on=metadata["platform"] == dim_platform["platform_accession"],
            how="left",
        )
        .select(
            "gsm_accession",
            "study_key",
            F.col("platform_key"),
            F.col("illness_key"),
            F.col("age"),
            F.col("sex"),
        )
        .dropDuplicates(["gsm_accession", "study_key"])
    )
    if existing is None:
        existing = local_frame(metadata.sparkSession, DIM_SAMPLE, [])
    new = incoming.alias("new")
    old = existing.alias("old")
    joined = old.join(new, on=["gsm_accession", "study_key"], how="full_outer")

    def enrich_str(col: str):
        o, n = F.col(f"old.{col}"), F.col(f"new.{col}")
        return F.coalesce(F.nullif(o, F.lit(UNKNOWN)), n, o, F.lit(UNKNOWN))

    def enrich_key(col: str):
        return F.coalesce(F.col(f"old.{col}"), F.col(f"new.{col}"))

    merged = joined.select(
        F.col("old.sample_key").alias("sample_key"),
        "gsm_accession",
        "study_key",
        enrich_key("platform_key").alias("platform_key"),
        enrich_key("illness_key").alias("illness_key"),
        enrich_str("age").alias("age"),
        enrich_str("sex").alias("sex"),
    )
    # the key base stays in the plan: a one-row aggregate broadcast to the
    # novel rows, not a driver-side max() probe of a corpus-sized table
    base = existing.agg(F.coalesce(F.max("sample_key"), F.lit(0)).alias("__base"))
    novel = merged.where(F.col("sample_key").isNull()).drop("sample_key")
    novel_keys = _assign_sample_keys(
        novel.crossJoin(F.broadcast(base)), F.col("__base")
    ).select(*DIM_SAMPLE.fieldNames())
    return merged.where(F.col("sample_key").isNotNull()).unionByName(novel_keys)


__all__ = [
    "SMALL_DIMS",
    "SmallDim",
    "build_dim_gene",
    "build_dim_illness",
    "build_dim_platform",
    "build_dim_sample",
    "build_dim_study",
    "collect_dim_keys",
    "merge_small_dim",
]
