"""Self-tests of the benchmark's helpers; no Spark session is started.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""
from __future__ import annotations

import itertools
import json
import math
import pathlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import checks
from perfbench import fixtures as fx
from perfbench.tracing import (
    Span,
    median,
    parse_event_log,
    percentile,
    self_times,
    subtree,
    tail_percentile,
    totals,
)

# -- statistics -----------------------------------------------------------------


def test_percentile_matches_numpy_linear():
    rng = np.random.default_rng(0)
    xs = rng.normal(size=37).tolist()
    for q in (0, 10, 25, 50, 75, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 4.0]) == 2.5


def test_tail_percentile_leaves_ten_samples_beyond():
    assert tail_percentile(1) is None
    assert tail_percentile(10) is None
    assert tail_percentile(20) is None  # p50 is the median, not a tail
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99
    for n in range(21, 400):
        p = tail_percentile(n)
        if p is not None:
            assert n * (100 - p) / 100 >= 10


# -- spans and self time ------------------------------------------------------


def _span(sid, parent, start, end, name="x"):
    return Span(sid, parent, name, 0, start, end, f"g{sid}")


def test_self_time_subtracts_children_and_their_union():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps span 1: union is [1, 5]
        _span(3, 0, 7.0, 8.0),
        _span(4, 1, 1.5, 2.5),  # grandchild: only its parent loses it
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert st[1] == pytest.approx(2.0 - 1.0)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert subtree(spans, 1) == {1, 4}
    assert subtree(spans, 0) == {0, 1, 2, 3, 4}


# -- event log ----------------------------------------------------------------


def _task(stage, launch, finish, *, run=100, cpu=50_000_000, gc=5, read=0, shuffle=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Launch Time": launch, "Finish Time": finish, "Failed": failed},
        "Task Metrics": {
            "Executor Run Time": run,
            "Executor CPU Time": cpu,
            "JVM GC Time": gc,
            "Input Metrics": {"Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 7,
        },
    }


def _stage(stage, sub, done, scopes):
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {
            "Stage ID": stage,
            "Submission Time": sub,
            "Completion Time": done,
            "RDD Info": [{"Scope": json.dumps({"id": "1", "name": s})} for s in scopes],
        },
    }


def _block(name, mem, disk=0):
    return {
        "Event": "SparkListenerBlockUpdated",
        "Block Updated Info": {"Block ID": name, "Memory Size": mem, "Disk Size": disk},
    }


def test_event_log_folds_jobs_stages_tasks_and_cache():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "a"}},
        _task(0, 1000, 1400, read=300),
        _task(0, 1000, 1900, read=700, failed=True),
        _stage(0, 1000, 2000, ["Scan csv ", "Exchange"]),
        _block("rdd_3_0", 500),
        _block("broadcast_0", 10_000),  # not a cached RDD block
        _block("rdd_3_1", 250, 50),
        _task(1, 2000, 2100, shuffle=64),
        _stage(1, 2000, 2500, ["WholeStageCodegen (1)"]),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2600},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [1, 2], "Properties": {}},
        _block("rdd_3_0", 0),  # evicted
        _task(2, 3000, 3050),
        _stage(2, 3000, 3100, ["Scan parquet "]),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3200},
    ]
    log = parse_event_log(json.dumps(e) for e in events)
    assert log.stages[0].group == "a" and log.stages[1].group == "a"
    assert log.stages[2].group is None
    s0 = log.stages[0]
    assert s0.scopes == {"Scan csv", "Exchange"}
    assert (s0.tasks, s0.tasks_failed, s0.input_bytes) == (2, 1, 1000)
    assert s0.wall == pytest.approx(1.0)
    assert s0.longest_task_s == pytest.approx(0.9)
    assert s0.cpu_s == pytest.approx(0.1)
    assert s0.spill_bytes == 14
    t = totals(log, {"a"})
    assert (t.jobs, t.stages, t.tasks, t.shuffle_write_bytes) == (1, 2, 3, 64)
    assert t.job_s == pytest.approx(1.6)
    assert log.peak_cached_bytes["a"] == 800
    assert log.peak_cached_bytes[None] == 800  # the peak carried into job 1


# -- statistics oracle ----------------------------------------------------------


def test_average_ranks_share_tied_positions():
    x = np.array([3.0, 1.0, 3.0, 2.0, 3.0])
    assert checks.average_ranks(x).tolist() == [4.0, 1.0, 4.0, 2.0, 4.0]


def test_bh_q_matches_the_sequential_definition():
    rng = np.random.default_rng(1)
    p = np.round(rng.random(40), 2)  # rounding forces ties
    p[[3, 17]] = np.nan
    q, j = checks.bh_q(p)
    valid = [i for i in range(len(p)) if not math.isnan(p[i])]
    m = len(valid)
    for i in valid:
        expect = min(1.0, min(p[k] * m / sum(p[v] <= p[k] for v in valid) for k in valid if p[k] >= p[i]))
        assert q[i] == pytest.approx(expect)
    assert math.isnan(q[3]) and j[3] == 0
    assert sorted(j[valid]) == list(range(1, m + 1))


def test_normal_p_edges():
    assert math.isnan(checks.normal_p(0.5, 2))
    assert checks.normal_p(1.0, 10) == 0.0
    assert checks.normal_p(0.0, 10) == 1.0


# -- warehouse checks reject corrupted results ------------------------------------


def _tiny_study(na: bool) -> fx.Study:
    rng = np.random.default_rng([5, int(na)])
    genes = [fx.whitelist_id(i) for i in range(8)]
    m = np.round(rng.normal(size=(8, 12)) * 3 + 7, 3)
    if na:
        m[rng.random(m.shape) < 0.1] = np.nan
    acc = "GSE77" + ("R" if na else "D")
    return fx.Study(acc, [f"GSM{acc}{j}" for j in range(12)], genes, m)


def _write(table: pa.Table, path: pathlib.Path) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


def _warehouse(root: pathlib.Path, studies: list[fx.Study]) -> dict:
    """A warehouse laid out like the program's, with the oracle's values."""
    genes = sorted({g for s in studies for g in s.genes})
    gene_key = {g: k for k, g in enumerate(genes, start=1)}
    _write(pa.table({"gene_key": list(gene_key.values()), "ensembl_id": genes}), root / "dim_gene" / "p.parquet")
    _write(
        pa.table({"study_key": list(range(1, len(studies) + 1)), "gse_accession": [s.accession for s in studies]}),
        root / "dim_study" / "p.parquet",
    )
    oracle = {}
    for key, s in enumerate(studies, start=1):
        cells = [
            (j, gene_key[g], float(s.matrix[a, j]))
            for a, g in enumerate(s.genes) for j in range(len(s.samples))
            if not math.isnan(s.matrix[a, j])
        ]
        _write(
            pa.table({
                "sample_key": [c[0] for c in cells], "gene_key": [c[1] for c in cells],
                "expression_value": [c[2] for c in cells],
            }),
            root / "fact_expression" / f"study_key={key}" / "p.parquet",
        )
        oracle[s.accession] = checks.study_pairs(s)
        rows = [
            (gene_key[a], gene_key[b], rho, n, 1.0 if math.isnan(p) else p, None if math.isnan(q) else q)
            for (a, b), (rho, n, p, q, _) in oracle[s.accession].items()
        ]
        _write(
            pa.table({
                "gene_a_key": [r[0] for r in rows], "gene_b_key": [r[1] for r in rows],
                "rho_spearman": [r[2] for r in rows], "n_samples": pa.array([r[3] for r in rows], pa.int32()),
                "p_value": [r[4] for r in rows], "q_value": pa.array([r[5] for r in rows], pa.float64()),
            }),
            root / "fact_gene_pair_corr" / f"study_key={key}" / "p.parquet",
        )
    return oracle


def _run_checks(root, studies, oracle, reported=None, written=None):
    drop = fx.Drop(root, studies, None)
    reported = reported or {s.accession: len(oracle[s.accession]) for s in studies}
    written = sum(s.expected_facts for s in studies) if written is None else written
    with checks.connect() as con:
        return checks.check_facts(con, root, drop, {}, written) + checks.check_pairs(
            con, root, studies, oracle, reported, np.random.default_rng(0)
        )


@pytest.fixture()
def warehouse(tmp_path):
    studies = [_tiny_study(False), _tiny_study(True)]
    oracle = _warehouse(tmp_path, studies)
    return tmp_path, studies, oracle


def _rewrite(path: pathlib.Path, fn) -> None:
    t = pq.read_table(path).to_pandas()
    pq.write_table(pa.Table.from_pandas(fn(t), preserve_index=False), path)


def test_checks_accept_the_correct_warehouse(warehouse):
    assert _run_checks(*warehouse) == []


def test_checks_reject_a_flipped_rho_sign(warehouse):
    root, studies, oracle = warehouse

    def flip(t):
        t.loc[0, "rho_spearman"] = -t.loc[0, "rho_spearman"]
        return t

    _rewrite(root / "fact_gene_pair_corr" / "study_key=2" / "p.parquet", flip)
    errors = _run_checks(root, studies, oracle)
    assert len(errors) == 1 and "rho=" in errors[0]


def test_checks_reject_a_duplicated_fact_row(warehouse):
    root, studies, oracle = warehouse
    _rewrite(
        root / "fact_expression" / "study_key=1" / "p.parquet",
        lambda t: t.iloc[list(range(len(t))) + [0]],
    )
    errors = _run_checks(root, studies, oracle)
    assert any("duplicated" in e for e in errors)
    assert any("fact rows, expected" in e for e in errors)


def test_checks_reject_a_missing_pair(warehouse):
    root, studies, oracle = warehouse
    _rewrite(root / "fact_gene_pair_corr" / "study_key=1" / "p.parquet", lambda t: t.iloc[1:])
    errors = _run_checks(root, studies, oracle)
    assert any("pair rows stored" in e for e in errors)


def test_checks_reject_appends_for_a_redelivered_study(warehouse):
    root, studies, oracle = warehouse
    errors = _run_checks(root, studies, oracle, written=sum(s.expected_facts for s in studies) + 5)
    assert any("re-delivered study must append 0" in e for e in errors)


def test_pair_oracle_gates_short_and_constant_series():
    m = np.array([
        [1.0, 2.0, 3.0, np.nan],
        [np.nan, np.nan, 4.0, 5.0],  # shares one sample with gene 0
        [2.0, 2.0, 2.0, 2.0],        # constant
        [4.0, 3.0, 2.0, 1.0],
    ])
    s = fx.Study("GSE1", ["a", "b", "c", "d"], ["g0", "g1", "g2", "g3"], m)
    pairs = checks.study_pairs(s)
    assert set(pairs) == {("g0", "g3"), ("g1", "g3")}
    assert pairs[("g0", "g3")][0] == pytest.approx(-1.0)
    assert pairs[("g1", "g3")][1] == 2 and math.isnan(pairs[("g1", "g3")][2])


# -- curation checks --------------------------------------------------------------


def _shards(root: pathlib.Path, doc_ids: list[int]) -> pathlib.Path:
    for k in range(2):
        _write(pa.table({"doc_id": pa.array(doc_ids[k::2], pa.int64())}), root / f"shard={k}" / "p.parquet")
    return root


def test_planted_corpus_structure_is_what_the_reference_expects():
    corpus = fx.make_corpus(3, 0)
    kept = checks.expected_kept(corpus)
    for members in corpus.clusters:
        assert len(kept & set(members)) == 1
    assert not kept & set(corpus.contaminated)
    assert not kept & set(corpus.low_quality)
    assert len(kept) == fx.CORPUS_UNIQUE + fx.CORPUS_CLUSTERS


def test_curation_check_rejects_kept_duplicates_and_contamination(tmp_path):
    corpus = fx.make_corpus(3, 0)
    kept = sorted(checks.expected_kept(corpus))
    with checks.connect() as con:
        assert checks.check_curation(con, _shards(tmp_path / "ok", kept), corpus, len(kept)) == []
        bad = sorted(set(kept) | {corpus.contaminated[0], next(itertools.chain(*corpus.clusters))})
        errors = checks.check_curation(con, _shards(tmp_path / "bad", bad), corpus, len(bad))
    assert any("contaminated" in e for e in errors)
    assert any("planted cluster" in e for e in errors)


def test_benchmark_json_names_every_reported_metric():
    from perfbench.workloads import END_TO_END_UNITS, LAYER_UNITS

    spec = json.loads((pathlib.Path(__file__).resolve().parents[2] / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert {w["name"] for w in spec["workloads"]} == {"study_drop", "curate_corpus"}
