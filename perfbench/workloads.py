"""The two benchmark workloads, each a closed loop of one client.

``study_drop``: a data engineer submits a drop of studies, waits for it to be
loaded and for its correlations to be refreshed, then submits the next. One
operation is ``run_pipeline`` followed by ``run_correlation_job`` on the
drop's accessions, into an identical copy of a preloaded base warehouse.

``curate_corpus``: one operation is one ``curate_corpus`` call on a fresh
seeded corpus, including the training-shard write.

Each workload prepares its inputs untimed, times only the public calls,
checks every output, and -- on traced operations -- turns spans and the
Spark event log into per-layer metrics.
"""
from __future__ import annotations

import contextlib
import dataclasses
import pathlib
import shutil
import time
from typing import Any

import numpy as np

from . import checks
from . import fixtures as fx
from .tracing import EventLog, Span, Tracer, self_times, stages_of, subtree, totals


@dataclasses.dataclass
class OpResult:
    """One timed operation: wall time per public call, its input and output
    sizes, and what the checks found."""

    calls: dict[str, float]
    input_bytes: int
    out_bytes: int = 0
    out_rows: int = 0
    errors: list[str] = dataclasses.field(default_factory=list)
    traced: bool = False
    extra: dict[str, Any] = dataclasses.field(default_factory=dict)

    @property
    def wall(self) -> float:
        return sum(self.calls.values())


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


def _data_files(root: pathlib.Path) -> dict[str, tuple[int, float]]:
    """Parquet data files under ``root``: relative path -> (bytes, mtime)."""
    out = {}
    for p in root.rglob("*.parquet"):
        st = p.stat()
        out[str(p.relative_to(root))] = (st.st_size, st.st_mtime)
    return out


def _written(before: dict, after: dict) -> tuple[int, int]:
    new = [k for k, v in after.items() if before.get(k) != v]
    return len(new), sum(after[k][0] for k in new)


def _sum_self(spans: list[Span], st: dict[int, float], name: str) -> float:
    return sum(st[s.sid] for s in spans if s.name == name)


def _sum_wall(spans: list[Span], name: str) -> float:
    return sum(s.duration for s in spans if s.name == name)


def spark_layer_metrics(log: EventLog, groups: set[str], wall: float, cores: int) -> dict[str, float]:
    t = totals(log, groups)
    peak = max((log.peak_cached_bytes.get(g, 0) for g in groups), default=0)
    return {
        "spark.jobs": t.jobs,
        "spark.stages": t.stages,
        "spark.tasks": t.tasks,
        "spark.tasks_failed": t.tasks_failed,
        "spark.executor_cpu_s": t.cpu_s,
        "spark.gc_s": t.gc_s,
        "spark.shuffle_write_mb": t.shuffle_write_bytes / 1e6,
        "spark.spill_mb": t.spill_bytes / 1e6,
        "spark.idle_core_share": max(0.0, 1.0 - t.run_s / (wall * cores)) if wall > 0 else 0.0,
        "caching.peak_cached_mb": peak / 1e6,
    }


def _is_tsv_scan(stage) -> bool:
    return bool(stage.scopes & {"Scan csv", "Scan text"}) and "Scan parquet" not in stage.scopes


class StudyDrop:
    name = "study_drop"
    #: operation wall time on 4 cores, for turning --seconds into a count
    nominal_op_s = 16.0

    def __init__(self, spark, work: pathlib.Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.genes_tsv = work / "genes.tsv"
        self.filler = fx.FillerRows(seed)
        self.rng = np.random.default_rng([seed, 7])
        self._oracle_cache: dict[str, dict] = {}

    def _config(self, warehouse: pathlib.Path, studies: pathlib.Path):
        from etl_for_all_studies_spark.config import config_from_dict

        return config_from_dict(
            {
                "warehouse": {"path": str(warehouse)},
                "processing": {
                    "input_directory": str(studies),
                    "gene_filter_file": str(self.genes_tsv),
                },
                "logging": {"log_level": "ERROR"},
            }
        )

    def _oracle(self, study: fx.Study) -> dict:
        if study.accession not in self._oracle_cache:
            self._oracle_cache[study.accession] = checks.study_pairs(study)
        return self._oracle_cache[study.accession]

    def setup(self) -> None:
        """Generate and load the base warehouse. Loading it is also the
        warm-up: it runs every plan a drop runs, on the same shapes."""
        from etl_for_all_studies_spark import run_correlation_job, run_pipeline

        fx.write_gene_filter(self.genes_tsv)
        self.base = fx.write_base_drop(self.work / "base_in", self.seed, self.filler)
        self.base_wh = self.work / "base_wh"
        cfg = self._config(self.base_wh, self.base.path)
        res = run_pipeline(cfg, spark=self.spark)
        corr = run_correlation_job(cfg, spark=self.spark)
        self.base_facts = {s.accession: s.expected_facts for s in self.base.new}
        with checks.connect() as con:
            errors = checks.check_facts(con, self.base_wh, self.base, {}, res.fact_rows_written)
            errors += checks.check_pairs(
                con, self.base_wh, self.base.new,
                {s.accession: self._oracle(s) for s in self.base.new},
                corr.pair_counts, self.rng,
            )
        if errors or res.failures:
            raise RuntimeError(f"base warehouse load is wrong: {errors or res.failures}")

    def prepare(self, i: int) -> dict:
        drop = fx.write_study_drop(self.work / f"drop{i}", self.seed, i, self.base, self.filler)
        wh = self.work / f"wh{i}"
        shutil.copytree(self.base_wh, wh)
        return {"drop": drop, "wh": wh, "cfg": self._config(wh, drop.path)}

    def run(self, prep: dict, tracer: Tracer | None) -> OpResult:
        from etl_for_all_studies_spark import run_correlation_job, run_pipeline

        drop: fx.Drop = prep["drop"]
        before = _data_files(prep["wh"])
        with _span(tracer, "pipeline"):
            t0 = time.perf_counter()
            res = run_pipeline(prep["cfg"], spark=self.spark)
            t1 = time.perf_counter()
        with _span(tracer, "correlation_job"):
            t2 = time.perf_counter()
            corr = run_correlation_job(prep["cfg"], accessions=drop.accessions, spark=self.spark)
            t3 = time.perf_counter()
        out = OpResult(
            {"ingest": t1 - t0, "refresh": t3 - t2},
            drop.tsv_bytes + self.genes_tsv.stat().st_size,
        )
        out.extra = {"pipeline": res, "corr": corr, "before": before}
        return out

    def check(self, prep: dict, out: OpResult) -> None:
        drop: fx.Drop = prep["drop"]
        res, corr = out.extra["pipeline"], out.extra["corr"]
        wh = prep["wh"]
        errors = [f"quarantined {f.study_dir}: {f.error}" for f in res.failures]
        if sorted(corr.studies_processed) != sorted(drop.accessions):
            errors.append(f"refreshed {corr.studies_processed}, expected {drop.accessions}")
        with checks.connect() as con:
            errors += checks.check_facts(con, wh, drop, self.base_facts, res.fact_rows_written)
            errors += checks.check_pairs(
                con, wh, drop.all_studies,
                {s.accession: self._oracle(s) for s in drop.all_studies},
                corr.pair_counts, self.rng,
            )
            rows = sum(
                con.execute(
                    f"SELECT count(*) FROM read_parquet('{wh}/{t}/*/*.parquet')"
                ).fetchone()[0]
                for t in ("fact_expression", "fact_gene_pair_corr")
            )
            kept_rows = con.execute(
                f"SELECT count(DISTINCT (study_key, gene_key)) FROM "
                f"read_parquet('{wh}/fact_expression/*/*.parquet', hive_partitioning = true) "
                f"WHERE study_key IN (SELECT study_key FROM read_parquet('{wh}/dim_study/*.parquet') "
                f"WHERE gse_accession IN ({','.join(repr(a) for a in drop.accessions)}))"
            ).fetchone()[0]
        for s in drop.new:
            self._oracle_cache.pop(s.accession, None)
        after = _data_files(wh)
        out.errors = errors
        out.out_rows = rows
        out.out_bytes = sum(size for size, _ in after.values())
        out.extra["files_written"], out.extra["bytes_written"] = _written(out.extra["before"], after)
        out.extra["kept_rows"] = kept_rows

    def count_traced(self, prep: dict, out: OpResult, spans: list[Span]) -> None:
        """Everything the genomic layer metrics need is captured by then."""

    def cleanup(self, prep: dict) -> None:
        shutil.rmtree(prep["drop"].path, ignore_errors=True)
        shutil.rmtree(prep["wh"], ignore_errors=True)

    def trace_targets(self) -> list[tuple[Any, str, str]]:
        import etl_for_all_studies_spark.plans.correlation as co
        import etl_for_all_studies_spark.plans.correlation_job as cj
        import etl_for_all_studies_spark.plans.pipeline as pl
        from etl_for_all_studies_spark.sources.warehouse import Warehouse

        return [
            (pl, "discover_studies", "discovery"),
            (pl, "discover_study_files", "discovery"),
            (pl, "read_gene_filter", "study_io.open"),
            (pl, "read_metadata_raw", "study_io.open"),
            (pl, "read_expression_wide", "study_io.open"),
            (pl, "normalize_metadata", "metadata_norm.plan"),
            (pl, "metadata_quality", "metadata_norm.plan"),
            (pl, "expression_wide_to_long", "expression.plan"),
            (pl, "expression_text_to_long", "expression.plan"),
            *[(pl, f"build_dim_{d}", "dims.plan") for d in ("study", "illness", "platform", "gene", "sample")],
            (Warehouse, "read", "warehouse.read"),
            (Warehouse, "overwrite_dim", "dims.write"),
            (Warehouse, "append_fact", "warehouse.append"),
            (Warehouse, "overwrite_study_partitions", "warehouse.partition_overwrite"),
            (cj, "compute_gene_pair_correlations", "correlation.plan"),
            (co, "_split_dense_studies", "correlation.route"),
        ]

    def layer_metrics(self, prep: dict, out: OpResult, spans: list[Span], log: EventLog, cores: int) -> dict[str, float]:
        drop: fx.Drop = prep["drop"]
        st = self_times(spans)
        root = {s.name: s for s in spans if s.parent is None}
        ingest, refresh = root["pipeline"], root["correlation_job"]
        ingest_groups = {spans[i].group for i in subtree(spans, ingest.sid)}
        refresh_groups = {spans[i].group for i in subtree(spans, refresh.sid)}
        studies = len(drop.all_studies)
        tsv_on_disk = drop.tsv_bytes + self.genes_tsv.stat().st_size
        scans = [s for s in stages_of(log, ingest_groups) if _is_tsv_scan(s)]
        tsv_read = sum(s.input_bytes for s in scans)
        scan_s = sum(s.wall for s in scans)
        pairs = sum(out.extra["corr"].pair_counts.values())
        refresh_stages = stages_of(log, refresh_groups)
        longest = max(refresh_stages, key=lambda s: s.wall, default=None)
        routes = [s.result for s in spans if s.name == "correlation.route" and s.result]
        appended = sum(s.result or 0 for s in spans if s.name == "warehouse.append")
        candidates = sum(s.expected_facts for s in drop.all_studies)
        refresh_t = totals(log, refresh_groups)
        m = {
            "study_io.tsv_mb_read": tsv_read / 1e6,
            "study_io.scans_per_file": tsv_read / tsv_on_disk,
            "study_io.scan_stage_s": scan_s,
            "expression.plan_s": _sum_self(spans, st, "expression.plan"),
            "expression.kept_row_share": out.extra["kept_rows"]
            / sum(s.tsv_cells / len(s.samples) for s in drop.all_studies),
            "expression.cells_per_s": drop.tsv_cells / scan_s if scan_s else 0.0,
            "discovery.self_s": _sum_self(spans, st, "discovery"),
            "metadata_norm.plan_s": _sum_self(spans, st, "metadata_norm.plan"),
            "pipeline.self_s": st[ingest.sid],
            "pipeline.jobs_per_study": totals(log, ingest_groups).jobs / studies,
            "dims.plan_s": _sum_self(spans, st, "dims.plan"),
            "dims.write_s": _sum_wall(spans, "dims.write"),
            "warehouse.append_s": _sum_wall(spans, "warehouse.append"),
            "warehouse.rows_appended": appended,
            "warehouse.append_useful_share": appended / candidates,
            "correlation.plan_s": _sum_wall(spans, "correlation.plan"),
            "correlation.exec_s": totals(log, {refresh.group}).job_s,
            "correlation.pairs_out": pairs,
            "correlation.pairs_per_s": pairs / out.calls["refresh"],
            "correlation.shuffle_mb_per_mpair": (refresh_t.shuffle_write_bytes / 1e6) / (pairs / 1e6)
            if pairs else 0.0,
            "correlation.max_task_share": longest.longest_task_s / longest.wall
            if longest and longest.wall > 0 else 0.0,
            "correlation.studies_dense": sum(len(r[0]) for r in routes),
            "correlation.studies_block": sum(len(r[1]) for r in routes),
            "correlation.studies_exact": sum(len(r[2]) for r in routes),
            "correlation_job.self_s": st[refresh.sid],
            "correlation_job.jobs": refresh_t.jobs,
            "warehouse.partition_overwrite_s": _sum_wall(spans, "warehouse.partition_overwrite"),
            "warehouse.files_written": out.extra["files_written"],
            "warehouse.mb_written": out.extra["bytes_written"] / 1e6,
        }
        m.update(spark_layer_metrics(log, ingest_groups | refresh_groups, out.wall, cores))
        return m


class CurateCorpus:
    name = "curate_corpus"
    nominal_op_s = 9.0

    def __init__(self, spark, work: pathlib.Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def setup(self) -> None:
        """Warm-up: one untimed, checked curation of a quarter-size corpus
        with the same planted proportions, which the router sends down the
        same dedup leg (operation index -1 never recurs in the timed loop)."""
        prep = self.prepare(-1, scale=0.25)
        try:
            out = self.run(prep, None)
            self.check(prep, out)
        finally:
            self.cleanup(prep)
        if out.errors:
            raise RuntimeError(f"warm-up curation is wrong: {out.errors}")

    def prepare(self, i: int, scale: float = 1.0) -> dict:
        from etl_for_all_studies_spark.caching import CacheScope

        corpus = fx.make_corpus(self.seed, i + 1, scale)
        d = self.work / f"corpus{i}"
        d.mkdir()
        fx.write_corpus(corpus, d / "docs.parquet", d / "eval.parquet")
        return {"corpus": corpus, "dir": d, "shards": d / "shards", "scope": CacheScope()}

    def run(self, prep: dict, tracer: Tracer | None) -> OpResult:
        from etl_for_all_studies_spark.plans.curation import curate_corpus

        d = prep["dir"]
        docs = self.spark.read.parquet(str(d / "docs.parquet"))
        eval_docs = self.spark.read.parquet(str(d / "eval.parquet"))
        with _span(tracer, "curation"):
            t0 = time.perf_counter()
            res = curate_corpus(
                docs, eval_docs=eval_docs, out_dir=str(prep["shards"]),
                n_shards=fx.N_SHARDS, scope=prep["scope"],
            )
            t1 = time.perf_counter()
        in_bytes = sum((d / f).stat().st_size for f in ("docs.parquet", "eval.parquet"))
        return OpResult({"curate": t1 - t0}, in_bytes, extra={"result": res})

    def check(self, prep: dict, out: OpResult) -> None:
        res = out.extra["result"]
        manifest = sum(r["n_docs"] for r in res.shard_manifest.collect())
        with checks.connect() as con:
            out.errors = checks.check_curation(con, prep["shards"], prep["corpus"], manifest)
        files = _data_files(prep["shards"])
        out.out_rows = manifest
        out.out_bytes = sum(size for size, _ in files.values())

    def count_traced(self, prep: dict, out: OpResult, spans: list[Span]) -> None:
        """Counts the curation layers do not return: candidate and verified
        pairs (from the frames the traced calls returned) and quality passes.
        Runs after the timed call, while its cached barriers are alive."""
        from pyspark.sql import functions as F

        cand_frames = [
            s.result[0] if isinstance(s.result, tuple) else s.result
            for s in spans if s.name == "dedup.candidates"
        ]
        out.extra["candidates"] = sum(df.count() for df in cand_frames)
        out.extra["verified"] = sum(s.result.count() for s in spans if s.name == "dedup")
        out.extra["passed"] = out.extra["result"].quality.where(F.col("keep") == 1).count()

    def cleanup(self, prep: dict) -> None:
        prep["scope"].release()
        shutil.rmtree(prep["dir"], ignore_errors=True)

    def trace_targets(self) -> list[tuple[Any, str, str]]:
        import etl_for_all_studies_spark.operators.dedup as dd
        import etl_for_all_studies_spark.operators.prefixjoin as pj
        import etl_for_all_studies_spark.plans.curation as cu

        return [
            (cu, "annotate_quality", "quality"),
            (cu, "decontaminate", "contamination"),
            (cu, "route_jaccard_join", "simjoin.route"),
            (cu, "jaccard_prefix_pairs", "dedup"),
            (cu, "minhash_dedup", "dedup"),
            (dd, "minhash_lsh_candidates", "dedup.candidates"),
            (pj, "prefix_candidates", "dedup.candidates"),
            (cu, "dedup_clusters", "dedup_graph"),
            (cu, "select_cluster_keepers", "dedup_graph"),
            (cu, "write_training_shards", "sharding.write"),
        ]

    def layer_metrics(self, prep: dict, out: OpResult, spans: list[Span], log: EventLog, cores: int) -> dict[str, float]:
        st = self_times(spans)
        root = next(s for s in spans if s.parent is None)
        groups = {spans[i].group for i in subtree(spans, root.sid)}
        candidates = out.extra["candidates"]
        m = {
            "quality.s": _sum_wall(spans, "quality"),
            "contamination.s": _sum_wall(spans, "contamination"),
            "simjoin.route_s": _sum_wall(spans, "simjoin.route"),
            "dedup.s": _sum_wall(spans, "dedup"),
            "dedup_graph.s": _sum_wall(spans, "dedup_graph"),
            "sharding.write_s": _sum_wall(spans, "sharding.write"),
            "curation.self_s": st[root.sid],
            "curation.quality_pass_share": out.extra["passed"] / len(prep["corpus"].docs),
            "curation.candidate_pairs": candidates,
            "curation.verified_share": out.extra["verified"] / candidates if candidates else 0.0,
            "curation.docs_kept": out.out_rows,
        }
        m.update(spark_layer_metrics(log, groups, out.wall, cores))
        return m


WORKLOADS = {w.name: w for w in (StudyDrop, CurateCorpus)}

#: The end-to-end metrics with their units (tracing off).
END_TO_END_UNITS: dict[str, str] = {
    "setup_s": "s",
    "op_p50_s": "s",
    "input_mb_per_s": "MB/s",
    "peak_rss_mb": "MB",
    "out_bytes_per_row": "B/row",
}

#: Every per-layer metric with its unit. A workload reports 0 for the layers
#: of the other workload: those layers do not run in it.
LAYER_UNITS: dict[str, str] = {
    "ingest_p50_s": "s",
    "refresh_p50_s": "s",
    "curate_p50_s": "s",
    "failed_op_share": "ratio",
    "trace.overhead_share": "ratio",
    "study_io.tsv_mb_read": "MB",
    "study_io.scans_per_file": "ratio",
    "study_io.scan_stage_s": "s",
    "expression.plan_s": "s",
    "expression.kept_row_share": "ratio",
    "expression.cells_per_s": "1/s",
    "discovery.self_s": "s",
    "metadata_norm.plan_s": "s",
    "pipeline.self_s": "s",
    "pipeline.jobs_per_study": "count",
    "dims.plan_s": "s",
    "dims.write_s": "s",
    "warehouse.append_s": "s",
    "warehouse.rows_appended": "count",
    "warehouse.append_useful_share": "ratio",
    "correlation.plan_s": "s",
    "correlation.exec_s": "s",
    "correlation.pairs_out": "count",
    "correlation.pairs_per_s": "1/s",
    "correlation.shuffle_mb_per_mpair": "MB/Mpair",
    "correlation.max_task_share": "ratio",
    "correlation.studies_dense": "count",
    "correlation.studies_block": "count",
    "correlation.studies_exact": "count",
    "correlation_job.self_s": "s",
    "correlation_job.jobs": "count",
    "warehouse.partition_overwrite_s": "s",
    "warehouse.files_written": "count",
    "warehouse.mb_written": "MB",
    "caching.peak_cached_mb": "MB",
    "quality.s": "s",
    "contamination.s": "s",
    "simjoin.route_s": "s",
    "dedup.s": "s",
    "dedup_graph.s": "s",
    "sharding.write_s": "s",
    "curation.self_s": "s",
    "curation.quality_pass_share": "ratio",
    "curation.candidate_pairs": "count",
    "curation.verified_share": "ratio",
    "curation.docs_kept": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.tasks_failed": "count",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.idle_core_share": "ratio",
}


def mean_metrics(rows: list[dict[str, float]]) -> dict[str, float]:
    keys = {k for r in rows for k in r}
    return {k: sum(r.get(k, 0.0) for r in rows) / len(rows) for k in keys}
