"""Output checks: an independent numpy/DuckDB oracle for each operation.

Every check returns a list of error strings; an empty list means the output
is correct. The genomic checks read the warehouse's Parquet files with
DuckDB and compare them with statistics recomputed from the generated
matrices; the curation check recomputes the expected surviving document set
from the planted corpus structure and reads the written shards.
"""
from __future__ import annotations

import math
import pathlib
import re

import duckdb
import numpy as np

from .fixtures import STOPWORDS, Corpus, Drop, Study

MIN_SAMPLES = 2  # the pipeline config's default processing.min_samples
RHO_TOL = 1e-9
# The program's normal CDF is the Abramowitz-Stegun 7.1.26 erf (absolute
# error <= 1.5e-7), so p may differ from the exact erfc by up to 1.5e-7 and
# a BH q of rank j in a family of m by up to 1.5e-7 * m / j.
P_TOL = 2e-7
Q_ABS_TOL = 1e-9
SAMPLED_PAIRS = 64


# -- statistics oracle ---------------------------------------------------------


def average_ranks(v: np.ndarray) -> np.ndarray:
    """1-based ranks along the last axis, ties sharing the mean of their
    positions; NaN entries are left out of the ranking and stay NaN."""
    less = (v[..., None, :] < v[..., :, None]).sum(-1)
    equal = (v[..., None, :] == v[..., :, None]).sum(-1)
    return np.where(np.isnan(v), np.nan, less + (equal + 1) / 2.0)


def normal_p(rho: float, n: int) -> float:
    """Two-sided p of Spearman rho through t and the normal approximation;
    NaN for n < 3 (stored as 1.0), 0 for |rho| = 1."""
    if n < 3:
        return math.nan
    if abs(rho) >= 1.0:
        return 0.0
    t = rho * math.sqrt((n - 2) / (1.0 - rho * rho))
    return min(1.0, max(0.0, math.erfc(abs(t) / math.sqrt(2.0))))


def bh_q(p: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Benjamini-Hochberg q for one family (NaN p excluded from m), plus each
    p's ascending rank j (1-based; 0 for NaN)."""
    q = np.full(len(p), np.nan)
    j = np.zeros(len(p), dtype=np.int64)
    valid = np.flatnonzero(~np.isnan(p))
    m = len(valid)
    if m == 0:
        return q, j
    order = valid[np.argsort(p[valid], kind="mergesort")]
    ps = p[order]
    raw = ps * m / np.arange(1, m + 1)
    qs = np.minimum(np.minimum.accumulate(raw[::-1])[::-1], 1.0)
    # tied p-values all take the running minimum from their tie group's
    # first position, which covers the whole group
    first = np.concatenate(([True], ps[1:] != ps[:-1]))
    qs = qs[np.flatnonzero(first)][np.cumsum(first) - 1]
    q[order] = qs
    j[order] = np.arange(1, m + 1)
    return q, j


def _rho(ra: np.ndarray, rb: np.ndarray, shared: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Pearson correlation of rank rows over their shared samples:
    (rho clipped to [-1, 1], shared count, both variances positive)."""
    n = shared.sum(-1)
    safe = np.maximum(n, 1)
    ca = np.where(shared, ra - np.where(shared, ra, 0).sum(-1, keepdims=True) / safe[..., None], 0)
    cb = np.where(shared, rb - np.where(shared, rb, 0).sum(-1, keepdims=True) / safe[..., None], 0)
    va, vb = (ca * ca).sum(-1), (cb * cb).sum(-1)
    ok = (va > 0) & (vb > 0)
    rho = np.clip((ca * cb).sum(-1) / np.sqrt(np.where(ok, va * vb, 1.0)), -1.0, 1.0)
    return rho, n, ok


def study_pairs(study: Study, min_samples: int = MIN_SAMPLES) -> dict[tuple[str, str], tuple[float, int, float, float, int]]:
    """(gene_a, gene_b) sorted by id -> (rho, n, p, q, j) for every pair the
    program must emit: >= min_samples shared samples and both series
    non-constant over them. Ranks are taken within each pair's shared
    samples, so ragged matrices are ranked per pair."""
    x = study.matrix
    present = ~np.isnan(x)
    # a dense matrix ranks every gene over the same samples for every pair
    dense_ranks = average_ranks(x) if present.all() else None
    keys: list[tuple[str, str]] = []
    rhos: list[np.ndarray] = []
    ns: list[np.ndarray] = []
    for a in range(len(study.genes) - 1):
        bs = np.arange(a + 1, len(study.genes))
        shared = present[a] & present[bs]
        if dense_ranks is not None:
            ra, rb = np.broadcast_to(dense_ranks[a], shared.shape), dense_ranks[bs]
        else:
            ra = average_ranks(np.where(shared, x[a], np.nan))
            rb = average_ranks(np.where(shared, x[bs], np.nan))
        rho, n, ok = _rho(ra, rb, shared)
        keep = ok & (n >= min_samples)
        keys += [tuple(sorted((study.genes[a], study.genes[b]))) for b in bs[keep]]
        rhos.append(rho[keep])
        ns.append(n[keep])
    rho_all = np.concatenate(rhos) if rhos else np.array([])
    n_all = np.concatenate(ns) if ns else np.array([], dtype=np.int64)
    p = np.array([normal_p(float(r), int(n)) for r, n in zip(rho_all, n_all)])
    q, j = bh_q(p)
    return {
        k: (float(rho_all[i]), int(n_all[i]), float(p[i]), float(q[i]), int(j[i]))
        for i, k in enumerate(keys)
    }


# -- genomic warehouse checks --------------------------------------------------


def _glob(wh: pathlib.Path, table: str) -> str:
    if table.startswith("fact_"):
        return str(wh / table / "*" / "*.parquet")
    return str(wh / table / "*.parquet")


def _study_keys(con, wh: pathlib.Path) -> dict[str, int]:
    rows = con.execute(
        f"SELECT gse_accession, study_key FROM read_parquet('{_glob(wh, 'dim_study')}')"
    ).fetchall()
    return dict(rows)


def check_facts(con, wh: pathlib.Path, drop: Drop, base_facts: dict[str, int], written: int) -> list[str]:
    """Fact rows per study equal kept genes x parseable cells; the
    re-delivered study appends nothing; no (sample, gene) cell repeats."""
    errors: list[str] = []
    keys = _study_keys(con, wh)
    counts = dict(
        con.execute(
            f"SELECT study_key, count(*) FROM read_parquet('{_glob(wh, 'fact_expression')}', "
            "hive_partitioning = true) GROUP BY study_key"
        ).fetchall()
    )
    dups = con.execute(
        f"SELECT count(*) - count(DISTINCT (study_key, sample_key, gene_key)) FROM "
        f"read_parquet('{_glob(wh, 'fact_expression')}', hive_partitioning = true)"
    ).fetchone()[0]
    if dups:
        errors.append(f"fact_expression holds {dups} duplicated (sample, gene) cells")
    expected_new = 0
    for study in drop.new:
        want = study.expected_facts
        expected_new += want
        got = counts.get(keys.get(study.accession), 0)
        if got != want:
            errors.append(f"{study.accession}: {got} fact rows, expected {want}")
    if drop.redelivered is not None:
        acc = drop.redelivered.accession
        got = counts.get(keys.get(acc), 0)
        if got != base_facts[acc]:
            errors.append(f"re-delivered {acc}: {got} fact rows, expected {base_facts[acc]}")
    if written != expected_new:
        errors.append(
            f"pipeline reported {written} rows appended, expected {expected_new} "
            "(the re-delivered study must append 0)"
        )
    return errors


def check_pairs(
    con,
    wh: pathlib.Path,
    studies: list[Study],
    oracle: dict[str, dict],
    reported: dict[str, int],
    rng: np.random.Generator,
) -> list[str]:
    """Pair rows per study equal C(g,2) minus gated pairs, and a seeded sample
    of pairs matches the oracle's rho, n, p and q."""
    errors: list[str] = []
    keys = _study_keys(con, wh)
    corr = f"read_parquet('{_glob(wh, 'fact_gene_pair_corr')}', hive_partitioning = true)"
    genes = f"read_parquet('{_glob(wh, 'dim_gene')}')"
    counts = dict(con.execute(f"SELECT study_key, count(*) FROM {corr} GROUP BY study_key").fetchall())
    for study in studies:
        expected = oracle[study.accession]
        key = keys.get(study.accession)
        got = counts.get(key, 0)
        if got != len(expected) or reported.get(study.accession) != len(expected):
            errors.append(
                f"{study.accession}: {got} pair rows stored, {reported.get(study.accession)} "
                f"reported, expected {len(expected)}"
            )
            continue
        names = sorted(expected)
        pick = [names[i] for i in rng.choice(len(names), size=min(SAMPLED_PAIRS, len(names)), replace=False)]
        con.execute("CREATE OR REPLACE TEMP TABLE pick (a VARCHAR, b VARCHAR)")
        con.executemany("INSERT INTO pick VALUES (?, ?)", pick)
        rows = con.execute(
            f"""
            SELECT least(ga.ensembl_id, gb.ensembl_id), greatest(ga.ensembl_id, gb.ensembl_id),
                   c.rho_spearman, c.n_samples, c.p_value, c.q_value
            FROM {corr} c
            JOIN {genes} ga ON ga.gene_key = c.gene_a_key
            JOIN {genes} gb ON gb.gene_key = c.gene_b_key
            JOIN pick ON pick.a = least(ga.ensembl_id, gb.ensembl_id)
                     AND pick.b = greatest(ga.ensembl_id, gb.ensembl_id)
            WHERE c.study_key = ?
            """,
            [key],
        ).fetchall()
        found = {(a, b): (rho, n, p, q) for a, b, rho, n, p, q in rows}
        if len(rows) != len(found) or set(found) != set(pick):
            errors.append(f"{study.accession}: sampled pairs missing or repeated in storage")
            continue
        m = sum(1 for v in expected.values() if not math.isnan(v[2]))
        for pair in pick:
            rho, n, p, q = found[pair]
            e_rho, e_n, e_p, e_q, e_j = expected[pair]
            stored_p = 1.0 if math.isnan(e_p) else e_p
            q_tol = Q_ABS_TOL + P_TOL * m / max(e_j, 1)
            if n != e_n or abs(rho - e_rho) > RHO_TOL or abs(p - stored_p) > P_TOL or (
                (q is None) != math.isnan(e_q) or (q is not None and abs(q - e_q) > q_tol)
            ):
                errors.append(
                    f"{study.accession} {pair}: stored rho={rho} n={n} p={p} q={q}, "
                    f"expected rho={e_rho} n={e_n} p={stored_p} q={e_q}"
                )
                break
    return errors


# -- curation checks -----------------------------------------------------------

_WS = re.compile(r"\s+")


def _tokens(text: str) -> list[str]:
    t = text.strip()
    return _WS.split(t) if t else []


def passes_quality(text: str) -> bool:
    """The default QualityRules: 30-90 words, mean word length 3.5-5.0,
    type-token ratio >= 0.3, stopword share >= 0.02."""
    toks = _tokens(text)
    n = len(toks)
    if n == 0:
        return False
    mean_len = sum(len(t) for t in toks) / n
    ttr = len(set(toks)) / n
    sw = sum(1 for t in _tokens(text.lower()) if t in STOPWORDS) / n
    return 30 <= n <= 90 and 3.5 <= mean_len <= 5.0 and ttr >= 0.3 and sw >= 0.02


def _grams(text: str, n: int = 3) -> set[str]:
    toks = _tokens(text.lower())
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def expected_kept(corpus: Corpus) -> set[int]:
    """Quality pass, minus documents sharing a word 3-gram with the eval set,
    minus every planted cluster member but the longest (ties: lowest id)."""
    eval_grams: set[str] = set()
    for t in corpus.eval_texts:
        eval_grams |= _grams(t)
    text = dict(corpus.docs)
    kept = {
        d for d, t in corpus.docs
        if passes_quality(t) and not (_grams(t) & eval_grams)
    }
    for members in corpus.clusters:
        alive = [d for d in members if d in kept]
        if alive:
            keeper = max(alive, key=lambda d: (len(_tokens(text[d])), -d))
            kept -= set(alive) - {keeper}
    return kept


def check_curation(con, shards: pathlib.Path, corpus: Corpus, manifest_docs: int) -> list[str]:
    errors: list[str] = []
    got = [
        r[0]
        for r in con.execute(
            f"SELECT doc_id FROM read_parquet('{shards}/*/*.parquet', hive_partitioning = true)"
        ).fetchall()
    ]
    kept = set(got)
    if len(got) != len(kept):
        errors.append(f"shards hold {len(got) - len(kept)} repeated documents")
    if manifest_docs != len(got):
        errors.append(f"shard manifest counts {manifest_docs} docs, shards hold {len(got)}")
    for members in corpus.clusters:
        if len(kept & set(members)) != 1:
            errors.append(f"planted cluster {members} kept {sorted(kept & set(members))}")
            break
    leaked = kept & set(corpus.contaminated)
    if leaked:
        errors.append(f"{len(leaked)} planted contaminated documents kept")
    low = kept & set(corpus.low_quality)
    if low:
        errors.append(f"{len(low)} planted low-quality documents kept")
    want = expected_kept(corpus)
    if kept != want:
        errors.append(
            f"kept {len(kept)} docs, expected {len(want)}: "
            f"{len(kept - want)} unexpected, {len(want - kept)} missing"
        )
    return errors


def connect():
    return duckdb.connect(config={"threads": 1})
