"""Standalone correlation refresh job (reference entry point #2,
``src/etl_for_all_studies/correlation_job.py:165-238``).

Loads the expression matrix **long-form** (fact_expression ⋈ dim_sample,
O-7a/O-20 — the reference's nested-dict pivot is a single-node artifact and is
not reproduced), resolves target studies (O-7b with the requested-vs-found
anti-diff O-26), computes all-pairs Spearman + BH per study in one plan, and
refreshes ``fact_gene_pair_corr`` via dynamic partition overwrite (O-9b).
Studies whose matrix is empty get their stale partitions cleared
(``correlation_job.py:62-82``).
"""
from __future__ import annotations

import dataclasses
import logging
import time
from collections.abc import Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..config import AppConfig
from ..session import get_spark
from ..sources.warehouse import Warehouse
from .correlation import compute_gene_pair_correlations

logger = logging.getLogger(__name__)


@dataclasses.dataclass
class CorrelationJobResult:
    studies_processed: list[str]
    studies_missing: list[str]
    pair_counts: dict[str, int]
    elapsed_seconds: float


def run_correlation_job(
    config: AppConfig,
    accessions: Sequence[str] | None = None,
    spark: SparkSession | None = None,
    *,
    mode: str = "auto",
    pvalue_dist: str = "normal",
) -> CorrelationJobResult:
    # mode="auto" default (round 9): results are identical in every mode —
    # the router sends ragged studies to the exact per-pair plan and dense
    # ones to the pre-ranked plan — but the default was "exact", which at
    # SAMPLE depth pays per-pair intersection ranking: measured 58.4 s
    # exact vs 7.8 s auto at 120 genes x 10,000 samples (the reference's
    # stated sample floor). The classification aggregation auto adds is
    # one bounded job (SCALE.md round 9).
    t0 = time.monotonic()
    spark = spark or get_spark(
        app_name=config.spark.app_name,
        master=config.spark.master,
        shuffle_partitions=config.spark.shuffle_partitions,
        extra_conf=dict(config.spark.extra_conf),
    )
    wh = Warehouse(spark, str(config.warehouse.path))
    fact = wh.read("fact_expression")
    dim_sample = wh.read("dim_sample")
    dim_study = wh.read("dim_study")
    if fact is None or dim_sample is None or dim_study is None:
        logger.warning("Warehouse has no expression data; nothing to do")
        return CorrelationJobResult([], list(accessions or []), {}, time.monotonic() - t0)

    # O-7b: studies that actually have expression facts (left-semi), ordered;
    # collected once — the requested-vs-found diff and the targets both
    # derive from this one result.
    with_data = (
        dim_study.join(fact.select("study_key"), on="study_key", how="left_semi")
        .orderBy("gse_accession")
    )
    if accessions:
        with_data = with_data.where(F.col("gse_accession").isin(sorted(set(accessions))))
    targets = [(r["study_key"], r["gse_accession"]) for r in with_data.collect()]
    missing = sorted(set(accessions or ()) - {acc for _, acc in targets})  # O-26
    if missing:
        logger.warning("Requested studies without expression data: %s", missing)
    if not targets:
        return CorrelationJobResult([], missing, {}, time.monotonic() - t0)
    target_keys = [k for k, _ in targets]

    # O-7a/O-20: per-study matrix, long form; partition pruning via study_key.
    expression = (
        fact.where(F.col("study_key").isin(target_keys))
        .join(
            F.broadcast(
                dim_sample.where(F.col("study_key").isin(target_keys))
                .select("sample_key", "gsm_accession")
            ),
            on="sample_key",
        )
        .select("study_key", "gene_key", "gsm_accession", "expression_value")
    )

    from ..caching import CacheScope

    with CacheScope() as scope:
        corr = scope.persist(
            compute_gene_pair_correlations(
                expression,
                min_samples=config.processing.min_samples,
                mode=mode,
                pvalue_dist=pvalue_dist,
                scope=scope,  # releases block-mode's BH barrier with the job
            )
        )  # computed once, used for both the count and the write

        counts = {
            row["study_key"]: row["cnt"]
            for row in corr.groupBy("study_key")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        empty = [k for k in target_keys if k not in counts]
        wh.overwrite_study_partitions("fact_gene_pair_corr", corr, empty_studies=empty)

    by_accession = {acc: counts.get(key, 0) for key, acc in targets}
    elapsed = time.monotonic() - t0
    if config.logging.log_processing_time:
        logger.info(
            "correlation job: %d studies, %d pairs, %.2fs",
            len(targets), sum(by_accession.values()), elapsed,
        )
    return CorrelationJobResult(
        [acc for _, acc in targets], missing, by_accession, elapsed
    )


__all__ = ["CorrelationJobResult", "run_correlation_job"]
