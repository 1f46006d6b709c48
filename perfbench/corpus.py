"""Seeded synthetic inputs for the benchmark workloads.

Everything here is plain NumPy/PyArrow: inputs are built before the
timed region, so the engine under test only ever receives files.

The corpus knobs are the properties the curation and tokenizer layers
react to: how many documents are planted exact duplicates, how many
are planted near-duplicates (the source text with its first word
dropped), the word distribution (Zipf over a fixed synthetic
vocabulary) and the document length range.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: high-frequency head of the vocabulary: real stopwords, so the
#: quality score's stopword term sees a natural-language-like ratio
_HEAD = ["the", "of", "and", "to", "in", "a", "is", "that", "for", "it"]
_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


@dataclass(frozen=True)
class CorpusSpec:
    n_docs: int
    min_words: int = 20
    max_words: int = 80
    exact_share: float = 0.10
    near_share: float = 0.10
    vocab_size: int = 4000
    zipf_s: float = 1.1


@dataclass
class Corpus:
    doc_ids: list[int]
    texts: list[str]
    #: (source doc_id, planted copy doc_id) pairs
    exact_pairs: list[tuple[int, int]] = field(default_factory=list)
    near_pairs: list[tuple[int, int]] = field(default_factory=list)

    def table(self) -> pa.Table:
        return pa.table(
            {
                "doc_id": pa.array(self.doc_ids, pa.int64()),
                "text": pa.array(self.texts, pa.string()),
            }
        )


def _vocabulary(rng: np.random.Generator, size: int) -> list[str]:
    words = list(_HEAD)
    seen = set(words)
    while len(words) < size:
        w = "".join(rng.choice(_LETTERS, int(rng.integers(3, 10))))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def make_corpus(spec: CorpusSpec, seed: int) -> Corpus:
    """Originals get ids ``0..n_orig-1``; planted copies get the ids
    after them, so a keep-the-smallest-id dedup drops the copy."""
    rng = np.random.default_rng(seed)
    vocab = np.array(_vocabulary(rng, spec.vocab_size))
    ranks = np.arange(1, spec.vocab_size + 1, dtype=np.float64)
    p = ranks ** -spec.zipf_s
    p /= p.sum()
    n_exact = int(round(spec.n_docs * spec.exact_share))
    n_near = int(round(spec.n_docs * spec.near_share))
    n_orig = spec.n_docs - n_exact - n_near
    lengths = rng.integers(spec.min_words, spec.max_words + 1, n_orig)
    words = vocab[rng.choice(spec.vocab_size, int(lengths.sum()), p=p)]
    cuts = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[cuts[i] : cuts[i + 1]]) for i in range(n_orig)]
    corpus = Corpus(doc_ids=list(range(n_orig)), texts=texts)
    sources = rng.choice(n_orig, n_exact + n_near, replace=False)
    for j, src in enumerate(sources.tolist()):
        new_id = n_orig + j
        if j < n_exact:
            corpus.texts.append(texts[src])
            corpus.exact_pairs.append((src, new_id))
        else:
            corpus.texts.append(texts[src].split(" ", 1)[1])
            corpus.near_pairs.append((src, new_id))
        corpus.doc_ids.append(new_id)
    return corpus


def write_parquet(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return path


@dataclass
class StreamInput:
    src_dir: str
    n_files: int
    rows: int
    distinct_keys: int


def stage_stream_files(
    corpus: Corpus, src_dir: str, *, n_files: int, resend_share: float,
    seed: int,
) -> StreamInput:
    """Split the corpus into ``n_files`` id-ordered parquet files with
    increasing mtimes (a file stream replays them in that order) and
    re-send ``resend_share`` of each file's keys in the next file, as
    an at-least-once upstream does after a retry."""
    rng = np.random.default_rng(seed + 1)
    table = corpus.table()
    bounds = np.linspace(0, table.num_rows, n_files + 1).astype(int)
    os.makedirs(src_dir, exist_ok=True)
    base = time.time() - 10 * n_files
    carry: pa.Table | None = None
    rows = 0
    for i in range(n_files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        out = part if carry is None else pa.concat_tables([part, carry])
        path = os.path.join(src_dir, f"part-{i:05d}.parquet")
        pq.write_table(out, path)
        os.utime(path, (base + 10 * i, base + 10 * i))
        rows += out.num_rows
        picks = np.sort(
            rng.choice(part.num_rows, int(part.num_rows * resend_share),
                       replace=False)
        )
        carry = part.take(pa.array(picks)) if i + 1 < n_files else None
    return StreamInput(src_dir, n_files, rows, table.num_rows)
