"""Seeded input generators for the two benchmark workloads.

Everything the program under test sees is written here: study directories
(metadata + wide expression TSVs), the gene whitelist, and the Parquet corpus
and evaluation set for curation. Each generator also returns what the output
checks need to know about its inputs (the kept expression matrices, the
planted duplicate clusters and contaminated documents), so the checks never
read the program's own intermediate state.

All randomness comes from ``numpy.random.default_rng`` seeded with
``(seed, stream, index)``: the same seed gives byte-identical inputs.
"""
from __future__ import annotations

import dataclasses
import pathlib
import shutil

import numpy as np

# -- genomic shapes -----------------------------------------------------------

#: The reference's whitelist: 143 ids, of which every study carries the
#: first 120.
WHITELIST_IDS = 143
KEPT_GENES = 120

#: GSE9006-shaped study: 163 samples over 20,000 gene rows of which the
#: whitelist keeps 120 (99.4% of rows dropped) -- the reference's envelope.
ENVELOPE_SAMPLES = 163
ENVELOPE_ROWS = 20_000

#: The base warehouse's envelope-shaped study is shorter: it is there to
#: warm the same plans, not to be scanned again.
BASE_ENVELOPE_ROWS = 2_000

#: Small ragged studies: about 5% of kept cells are ``NA``, so their matrices
#: are not dense and the router sends them to the exact per-pair plan.
RAGGED_STUDIES = 2
RAGGED_SAMPLES = 40
RAGGED_ROWS = 2_000
RAGGED_NA_SHARE = 0.05

METADATA_HEADER = (
    "refinebio_accession_code\texperiment_accession\trefinebio_age\t"
    "refinebio_sex\tcharacteristics_ch1_Illness\trefinebio_platform"
)
ILLNESSES = ("Healthy", "T1D", "T2D", "Sepsis")
PLATFORMS = ("GPL96", "GPL570")


def whitelist_id(i: int) -> str:
    return f"ENSG{i:011d}"


def _rng(seed: int, stream: int, index: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, index])


@dataclasses.dataclass
class Study:
    """One generated study: its accession, sample ids, kept gene ids and the
    kept matrix (genes x samples, NaN where the cell was written as ``NA``)."""

    accession: str
    samples: list[str]
    genes: list[str]
    matrix: np.ndarray
    tsv_bytes: int = 0  # metadata plus expression TSV
    tsv_cells: int = 0  # expression cells, kept and dropped rows alike

    @property
    def expected_facts(self) -> int:
        return int(np.count_nonzero(~np.isnan(self.matrix)))


def _values(rng: np.random.Generator, n_genes: int, n_samples: int) -> np.ndarray:
    """Correlated expression values on a 3-decimal grid: a few latent factors
    plus noise, so rho spreads over (-1, 1) instead of clustering at 0."""
    factors = rng.normal(size=(4, n_samples))
    loadings = rng.normal(scale=0.8, size=(n_genes, 4))
    x = 7.5 + loadings @ factors + rng.normal(size=(n_genes, n_samples))
    return np.round(x, 3)


def _format_rows(genes: list[str], matrix: np.ndarray) -> list[str]:
    if not genes:
        return []
    text = np.char.mod("%.3f", matrix)
    text[np.isnan(matrix)] = "NA"
    return [g + "\t" + "\t".join(row) for g, row in zip(genes, text.tolist())]


class FillerRows:
    """Gene rows that the whitelist drops. They only cost scan time, so their
    values cycle through a small pool formatted once per run; the kept rows,
    sample ids and accessions are fresh per study."""

    POOL = 512

    def __init__(self, seed: int):
        self._seed = seed
        self._pools: dict[int, list[str]] = {}

    def rows(self, n_rows: int, n_samples: int) -> list[str]:
        if n_samples not in self._pools:
            rng = _rng(self._seed, 99, n_samples)
            m = np.round(rng.uniform(0.0, 15.0, size=(self.POOL, n_samples)), 3)
            self._pools[n_samples] = [
                "\t".join(row) for row in np.char.mod("%.3f", m).tolist()
            ]
        pool = self._pools[n_samples]
        return [f"ENSGF{i:010d}\t{pool[i % self.POOL]}" for i in range(n_rows)]


def write_study(
    root: pathlib.Path,
    accession: str,
    rng: np.random.Generator,
    *,
    n_samples: int,
    genes: list[str],
    n_rows: int,
    na_share: float,
    filler: FillerRows,
) -> Study:
    """Write ``root/<accession>/{metadata,expression}_<accession>.tsv``."""
    d = root / accession
    d.mkdir(parents=True)
    samples = [f"GSM{accession[3:]}{j:04d}" for j in range(n_samples)]
    md = [METADATA_HEADER]
    for s in samples:
        md.append(
            f"{s}\t{accession}\t{int(rng.integers(1, 80))} yrs\t"
            f"{('male', 'female')[int(rng.integers(2))]}\t"
            f"{ILLNESSES[int(rng.integers(len(ILLNESSES)))]}\t"
            f"{PLATFORMS[int(rng.integers(len(PLATFORMS)))]}"
        )
    md_path = d / f"metadata_{accession}.tsv"
    md_path.write_text("\n".join(md) + "\n")

    matrix = _values(rng, len(genes), n_samples)
    if na_share:
        matrix[rng.random(matrix.shape) < na_share] = np.nan
    kept = _format_rows(genes, matrix)
    rows = kept + filler.rows(n_rows - len(genes), n_samples)
    order = rng.permutation(len(rows))
    path = d / f"expression_{accession}.tsv"
    with open(path, "w") as f:
        f.write("Gene\t" + "\t".join(samples) + "\n")
        f.write("\n".join(rows[i] for i in order))
        f.write("\n")
    return Study(
        accession, samples, list(genes), matrix,
        tsv_bytes=path.stat().st_size + md_path.stat().st_size,
        tsv_cells=n_rows * n_samples,
    )


def write_gene_filter(path: pathlib.Path) -> None:
    path.write_text(
        "gene_symbol\tensembl_id\n"
        + "\n".join(f"G{i}\t{whitelist_id(i)}" for i in range(WHITELIST_IDS))
        + "\n"
    )


@dataclasses.dataclass
class Drop:
    """A directory of studies as it lands, plus the generator's knowledge."""

    path: pathlib.Path
    new: list[Study]
    redelivered: Study | None

    @property
    def accessions(self) -> list[str]:
        extra = [self.redelivered.accession] if self.redelivered else []
        return [s.accession for s in self.new] + extra

    @property
    def tsv_bytes(self) -> int:
        return sum(s.tsv_bytes for s in self.all_studies)

    @property
    def tsv_cells(self) -> int:
        return sum(s.tsv_cells for s in self.all_studies)

    @property
    def all_studies(self) -> list[Study]:
        return self.new + ([self.redelivered] if self.redelivered else [])


def _drop_studies(
    root: pathlib.Path, tag: str, rng: np.random.Generator, filler: FillerRows,
    envelope_rows: int, n_ragged: int,
) -> list[Study]:
    """One envelope-shaped study and ``n_ragged`` ragged ones."""
    kept = [whitelist_id(i) for i in range(KEPT_GENES)]
    studies = [
        write_study(
            root, f"GSE1{tag}E", rng, n_samples=ENVELOPE_SAMPLES, genes=kept,
            n_rows=envelope_rows, na_share=0.0, filler=filler,
        )
    ]
    studies += [
        write_study(
            root, f"GSE2{tag}R{j:02d}", rng, n_samples=RAGGED_SAMPLES,
            genes=kept, n_rows=RAGGED_ROWS, na_share=RAGGED_NA_SHARE,
            filler=filler,
        )
        for j in range(n_ragged)
    ]
    return studies


def write_base_drop(root: pathlib.Path, seed: int, filler: FillerRows) -> Drop:
    """The studies preloaded into the base warehouse: one of each kind a drop
    holds, so loading them also warms every plan a drop runs."""
    studies = _drop_studies(
        root, f"{seed % 1000:03d}B", _rng(seed, 1, 0), filler, BASE_ENVELOPE_ROWS, 1
    )
    return Drop(root, studies, None)


def write_study_drop(
    root: pathlib.Path, seed: int, op: int, base: Drop, filler: FillerRows
) -> Drop:
    """One drop: a fresh envelope study and ragged studies, plus a
    byte-identical re-delivery of the base's ragged study."""
    new = _drop_studies(
        root, f"{seed % 1000:03d}{op:04d}", _rng(seed, 2, op), filler,
        ENVELOPE_ROWS, RAGGED_STUDIES,
    )
    again = base.new[1]
    shutil.copytree(base.path / again.accession, root / again.accession)
    return Drop(root, new, again)


# -- curation corpus ----------------------------------------------------------

CORPUS_UNIQUE = 1200
CORPUS_CLUSTERS = 80
CLUSTER_SIZE = 3
CORPUS_LOW_QUALITY = 80
CORPUS_CONTAMINATED = 40
EVAL_DOCS = 40
N_SHARDS = 8
STOPWORDS = ("the", "a", "and", "of", "to")
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclasses.dataclass
class Corpus:
    """Documents plus the planted structure the checks verify."""

    docs: list[tuple[int, str]]
    eval_texts: list[str]
    clusters: list[list[int]]
    contaminated: list[int]
    low_quality: list[int]


def _vocabulary(seed: int, n: int = 4000) -> list[str]:
    rng = _rng(seed, 3, 0)
    words: set[str] = set()
    while len(words) < n:
        k = int(rng.integers(3, 7))
        words.add("".join(rng.choice(_LETTERS, size=k)))
    return sorted(words - set(STOPWORDS))


def _sentence(rng: np.random.Generator, vocab: list[str], n_words: int) -> list[str]:
    """Vocabulary words with stopwords after roughly one word in six. Two
    stopwords are never adjacent, so every word 3-gram holds at least one
    vocabulary word and the stopword-free evaluation set cannot match a
    document by chance."""
    out: list[str] = []
    while len(out) < n_words:
        out.append(vocab[int(rng.integers(len(vocab)))])
        # the first gap always gets one, so no document lacks stopwords
        if len(out) < n_words and (len(out) == 1 or rng.random() < 0.18):
            out.append(STOPWORDS[int(rng.integers(len(STOPWORDS)))])
    return out


def make_corpus(seed: int, op: int, scale: float = 1.0) -> Corpus:
    """Mostly clean documents with planted near-duplicate clusters,
    low-quality documents and documents quoting the evaluation set; ``scale``
    shrinks every planted count alike (the warm-up corpus)."""
    n = lambda count: max(1, round(count * scale))  # noqa: E731
    vocab = _vocabulary(seed)
    rng = _rng(seed, 4, op)
    texts: list[list[str]] = []
    clusters: list[list[int]] = []
    contaminated: list[int] = []
    low_quality: list[int] = []

    for _ in range(n(CORPUS_UNIQUE)):
        texts.append(_sentence(rng, vocab, int(rng.integers(40, 80))))
    for _ in range(n(CORPUS_CLUSTERS)):
        base = _sentence(rng, vocab, int(rng.integers(50, 75)))
        members = []
        for m in range(CLUSTER_SIZE):
            words = list(base)
            # one or two substituted words keep 5-char-shingle Jaccard ~0.9;
            # member m gains m extra words, so the keeper is the last one
            for _ in range(1 + m % 2):
                pos = int(rng.integers(len(words)))
                words[pos] = vocab[int(rng.integers(len(vocab)))]
            words += [vocab[int(rng.integers(len(vocab)))] for _ in range(m)]
            members.append(len(texts))
            texts.append(words)
        clusters.append(members)
    for j in range(n(CORPUS_LOW_QUALITY)):
        kind = j % 3
        if kind == 0:  # too short
            words = _sentence(rng, vocab, int(rng.integers(8, 20)))
        elif kind == 1:  # too long
            words = _sentence(rng, vocab, int(rng.integers(120, 160)))
        else:  # low type-token ratio
            few = [vocab[int(rng.integers(len(vocab)))] for _ in range(4)]
            words = [few[int(rng.integers(4))] for _ in range(50)] + ["the"]
        low_quality.append(len(texts))
        texts.append(words)

    eval_words = [
        [vocab[int(rng.integers(len(vocab)))] for _ in range(40)]
        for _ in range(EVAL_DOCS)
    ]
    for j in range(n(CORPUS_CONTAMINATED)):
        words = _sentence(rng, vocab, int(rng.integers(45, 70)))
        src = eval_words[j % EVAL_DOCS]
        start = int(rng.integers(0, len(src) - 6))
        pos = int(rng.integers(0, len(words)))
        words[pos:pos] = src[start:start + 6]
        contaminated.append(len(texts))
        texts.append(words)

    # doc ids are a seeded permutation, so planted rows are not contiguous
    ids = (rng.permutation(len(texts)) + 1 + op * 100_000).tolist()
    docs = [(ids[i], " ".join(w)) for i, w in enumerate(texts)]
    remap = lambda idx: [ids[i] for i in idx]  # noqa: E731
    return Corpus(
        docs=docs,
        eval_texts=[" ".join(w) for w in eval_words],
        clusters=[remap(c) for c in clusters],
        contaminated=remap(contaminated),
        low_quality=remap(low_quality),
    )


def write_corpus(corpus: Corpus, docs_path: pathlib.Path, eval_path: pathlib.Path) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([d for d, _ in corpus.docs], pa.int64()),
                "text": pa.array([t for _, t in corpus.docs], pa.string()),
            }
        ),
        docs_path,
    )
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(len(corpus.eval_texts)), pa.int64()),
                "text": pa.array(corpus.eval_texts, pa.string()),
            }
        ),
        eval_path,
    )
