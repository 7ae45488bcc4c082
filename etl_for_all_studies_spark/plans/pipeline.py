"""Full ETL orchestration: study dirs → star schema warehouse.

Re-expresses the reference's entry point #1 (``src/etl_for_all_studies/
pipeline.py:310-356``) as **one Spark job over all studies** instead of a
thread pool of per-study transactions (O-42): study discovery stays driver-side
(O-1/O-2), each study contributes a normalized-metadata DataFrame and a long
expression DataFrame, all unioned and processed set-at-a-time with
``study_key`` as the partition column. Per-study error isolation (O-45) is a
driver-side quarantine during plan construction: a study whose files are
missing/malformed is reported and skipped without failing the run.

The reference's batch-commit + mid-file checkpoint resume machinery
(O-8/O-9c/O-19/O-43) is intentionally replaced by idempotent, rerun-safe
writes (anti-join dedup O-16 + atomic partition swaps) — same end state,
Spark-native mechanism (SURVEY §7.4.4).

Per-drop job budget. What a drop waits for is dominated by fixed per-job
cost, not data work, so the plan keeps Spark actions to the ones that move
data:

* opening a study runs no job — the TSV schema is declared from the
  driver-side header sniff, and warehouse reads declare the table schema;
* the unioned metadata is persisted before the one batched collect that
  feeds both the sample lists and the illness/platform dim candidates, so
  the metadata TSVs parse once;
* the small dims (study, illness, platform, gene) are driver-side
  get-or-create merges (``operators/dims.py``): one collect reads their
  existing keys, the distinct-gene collect that fills the expression cache
  supplies the gene candidates, and a dim whose natural keys are all known
  is **not rewritten** (an identical re-drop touches none of them);
* ``dim_sample`` stays a distributed merge (it grows with the corpus), and
  the fact append computes the fact plan once.

A two-study drop into an existing warehouse runs 44 Spark jobs on
``local[4]`` (``tests/test_drop_jobs.py`` pins the budget).
"""
from __future__ import annotations

import dataclasses
import functools
import logging
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..caching import CacheScope
from ..config import AppConfig
from ..operators.dims import (
    SMALL_DIMS,
    build_dim_gene,
    build_dim_illness,
    build_dim_platform,
    build_dim_sample,
    build_dim_study,
    collect_dim_keys,
)
from ..operators.expression import (
    _TEXT_MELT_THRESHOLD,
    expression_text_to_long,
    expression_wide_to_long,
)
from ..operators.metadata_norm import metadata_quality, normalize_metadata
from ..session import get_spark
from ..sources.discovery import discover_studies, discover_study_files
from ..sources.study_io import (
    read_expression_wide,
    read_gene_filter,
    read_metadata_raw,
    sniff_header,
)
from ..sources.warehouse import Warehouse

logger = logging.getLogger(__name__)


@dataclasses.dataclass
class StudyFailure:
    """One quarantined study (O-45)."""

    study_dir: str
    error: str


@dataclasses.dataclass
class PipelineResult:
    processed_studies: list[str]
    failures: list[StudyFailure]
    fact_rows_written: int
    quality: list[dict]
    elapsed_seconds: float


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    return functools.reduce(lambda a, b: a.unionByName(b), dfs)


def run_pipeline(
    config: AppConfig,
    spark: SparkSession | None = None,
    *,
    correlation_mode: str = "auto",
    with_correlations: bool = False,
) -> PipelineResult:
    """Run the full ETL over every study under ``processing.input_directory``."""
    t0 = time.monotonic()
    own_spark = spark is None
    spark = spark or get_spark(
        app_name=config.spark.app_name,
        master=config.spark.master,
        shuffle_partitions=config.spark.shuffle_partitions,
        extra_conf=dict(config.spark.extra_conf),
    )
    wh = Warehouse(spark, str(config.warehouse.path))
    genes = read_gene_filter(spark, str(config.processing.gene_filter_file))

    failures: list[StudyFailure] = []

    # Phase 1 — plan-time discovery: per study, build the normalized-metadata
    # frame and open the wide expression scan (header-only inference; no
    # data-scale job). A study with missing/malformed files is quarantined
    # (O-45).
    staged: list[tuple[str, str, DataFrame, DataFrame, str]] = []
    for study_dir in discover_studies(config.processing.input_directory):
        try:
            files = discover_study_files(study_dir)
            raw_md = read_metadata_raw(spark, str(files.metadata_path))
            md = normalize_metadata(raw_md, files.accession, config.field_mappings)
            wide = read_expression_wide(spark, str(files.expression_path))
            staged.append(
                (str(study_dir), files.accession, md, wide,
                 str(files.expression_path))
            )
        except Exception as exc:  # noqa: BLE001 — quarantine, don't kill the run
            logger.exception("Study %s failed; quarantined", study_dir)
            failures.append(StudyFailure(str(study_dir), f"{type(exc).__name__}: {exc}"))

    if not staged:
        return PipelineResult([], failures, 0, [], time.monotonic() - t0)

    # NOTE on scan splits (measured at the 10k-sample wide envelope,
    # SCALE.md round 9): shrinking spark.sql.files.maxPartitionBytes to add
    # parse parallelism does NOT help the 10k-column TSV read on local[32]
    # — 64/128/256 MiB all land at 55-67 s per 2x10^8-cell scan while
    # 20 MiB *regresses* 2.5x (per-task parser setup and row-width
    # allocation dominate at that column count). The engine therefore
    # leaves the split at the session default and attacks scan COUNT
    # instead: the persisted barriers below make each wide file parse once
    # per run, not once per downstream action.
    scope = CacheScope()
    try:
        # Phase 2 — ONE batched collect of every study's sample rows instead
        # of one job per study: the column-pruning driver metadata for O-14,
        # and the illness/platform candidates of the small-dim merges. The
        # union is persisted first, so this collect parses the metadata TSVs
        # once and every later consumer (dim_sample, the DQ report) reads
        # the cache. Cardinality is total samples (≤50k/study), the same
        # driver footprint as the per-study collects it replaces.
        all_md = scope.persist(_union_all([md for _, _, md, _, _ in staged]))
        md_rows = all_md.select("gse_accession", "gsm_accession", "illness", "platform").collect()
        samples_by_study: dict[str, list[str]] = {}
        for gse, gsm, _, _ in md_rows:
            samples_by_study.setdefault(gse, []).append(gsm)

        # Phase 3 — per-study unpivot plans against the collected sample lists;
        # a study whose expression header shares no columns with its metadata is
        # quarantined here (ExpressionSchemaError), after the batch job.
        expression_parts: list[DataFrame] = []
        processed: list[str] = []
        for study_dir, accession, md, wide, expr_path in staged:
            try:
                # whitelist applied on the WIDE side (O-13 before the melt, the
                # reference's own order): the semi-join probes gene rows, not
                # cells — Catalyst can't push it below the Expand itself.
                # Ultra-wide studies (>_TEXT_MELT_THRESHOLD sample columns,
                # plain-TSV header) melt from a TEXT scan instead: Spark's
                # wide-row CSV path is superlinear in column count (measured
                # 4x per-cell slowdown from 10k to 50k columns, SCALE.md r9).
                # Quote detection must read the RAW header: univocity strips
                # quotes during parsing, so wide.columns never contains '"'
                # even for a fully-quoted file — a quoted ultra-wide study
                # must stay on the CSV path (which unquotes data cells) or
                # '"1.5"' would fail try_cast in the text melt. The sniff is
                # a second driver-side header read, so only ultra-wide
                # candidates pay it (ADVICE r10).
                if len(wide.columns) - 1 > _TEXT_MELT_THRESHOLD and (
                    (raw_header := sniff_header(expr_path)) is not None
                    and not any('"' in c for c in raw_header)
                ):
                    long = expression_text_to_long(
                        spark,
                        expr_path,
                        samples_by_study.get(accession, []),
                        accession,
                        gene_whitelist=genes,
                    )
                else:
                    long = expression_wide_to_long(
                        wide,
                        samples_by_study.get(accession, []),
                        accession,
                        gene_whitelist=genes,
                    )
                expression_parts.append(long)
                processed.append(accession)
            except Exception as exc:  # noqa: BLE001
                logger.exception("Study %s failed; quarantined", study_dir)
                failures.append(StudyFailure(study_dir, f"{type(exc).__name__}: {exc}"))

        if not processed:
            return PipelineResult([], failures, 0, [], time.monotonic() - t0)

        # the expression frame has two consumers (the dim_gene candidates
        # and the fact build), each its own action — without a barrier
        # every action re-parses the wide TSVs (measured 60-80 s/scan at
        # the 10k-sample envelope). Its size is bounded by whitelist-kept
        # cells (MEMORY_AND_DISK spills rather than evicts).
        metadata = all_md.where(F.col("gse_accession").isin(processed))
        expression = scope.persist(_union_all(expression_parts))

        # per-phase walls at INFO (O-48): at the wide-sample envelope the
        # phase split is the first diagnostic question — log it always
        phase_t = time.monotonic()

        def _mark(name: str) -> None:
            nonlocal phase_t
            now = time.monotonic()
            if config.logging.log_processing_time:
                logger.info("phase %s: %.1fs", name, now - phase_t)
            phase_t = now

        # -- small-dimension merges on the driver (existing keys preserved;
        # O-46 get-or-create). One job reads the four dims' keys; the
        # distinct-gene collect also fills the expression cache. A dim
        # that gained no key is not rewritten, but a missing one is still
        # written (possibly empty), so every star-schema table exists.
        existing = collect_dim_keys({t: wh.read(t) for t in SMALL_DIMS})
        loaded = set(processed)
        rows = [r for r in md_rows if r[0] in loaded]
        gene_ids = [r[0] for r in expression.select("ensembl_id").distinct().collect()]
        dims = {
            "dim_study": build_dim_study(spark, existing["dim_study"], processed),
            "dim_illness": build_dim_illness(spark, existing["dim_illness"], (r[2] for r in rows)),
            "dim_platform": build_dim_platform(spark, existing["dim_platform"], (r[3] for r in rows)),
            "dim_gene": build_dim_gene(spark, existing["dim_gene"], gene_ids),
        }
        for table, dim in dims.items():
            if dim.changed or not wh.exists(table):
                # one Parquet file per dim (the local frame spans cores)
                wh.overwrite_dim(table, dim.frame.coalesce(1))
        dim_study, dim_gene = dims["dim_study"].frame, dims["dim_gene"].frame
        _mark("small_dims")

        # -- dim_sample: distributed merge, O-47 enrichment set-at-a-time --
        dim_sample = build_dim_sample(
            wh.read("dim_sample"), metadata, dim_study,
            dims["dim_illness"].frame, dims["dim_platform"].frame,
        )
        wh.overwrite_dim("dim_sample", dim_sample)
        study_keys = [dims["dim_study"].keys[a] for a in processed]
        dim_sample = wh.read("dim_sample").where(F.col("study_key").isin(study_keys))
        _mark("dim_sample")

        # -- fact build: long expression × dims (broadcast probes, O-22/O-23) --
        fact = (
            expression.join(F.broadcast(dim_study), on="gse_accession")
            .join(F.broadcast(dim_gene), on="ensembl_id")
            .join(
                F.broadcast(dim_sample.select("sample_key", "gsm_accession", "study_key")),
                on=["gsm_accession", "study_key"],
            )
            .select("sample_key", "gene_key", "expression_value", "study_key")
        )
        written = wh.append_fact(
            "fact_expression", fact, dedup_keys=["sample_key", "gene_key", "study_key"]
        )
        _mark("fact_expression")

        quality_rows = [r.asDict() for r in metadata_quality(metadata).collect()]
        _mark("dq")
        if config.logging.log_data_quality:
            for row in quality_rows:
                logger.info("DQ %s", row)
        if config.logging.log_record_counts:
            logger.info("fact_expression rows appended: %d", written)

        if with_correlations:
            from .correlation_job import run_correlation_job

            run_correlation_job(config, spark=spark, mode=correlation_mode)

        elapsed = time.monotonic() - t0
        if config.logging.log_processing_time:
            logger.info("pipeline finished in %.2fs", elapsed)
        _ = own_spark  # session lifetime is the caller's concern
        return PipelineResult(processed, failures, written, quality_rows, elapsed)
    finally:
        scope.release()


__all__ = ["PipelineResult", "StudyFailure", "run_pipeline"]
