"""Seeded input generators for the benchmark workloads.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes parquet (and, for the MapReduce workload, plain
text) files into one directory. The same seed gives byte-identical
files: all randomness comes from the generator, rows are written in a
fixed order, and the parquet writer options are pinned.

Both corpora follow the tokenizer cases of the reference input (quirk
Q2 in the project survey): empty lines, words that differ only in case
("The"/"the") or by trailing punctuation ("Wilde"/"Wilde,"), and runs of
several spaces. Separators are ASCII whitespace only, so Python's
``str.split`` and the engine's ``\\s+`` tokenizer agree token for token.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 20_000
ZIPF_S = 1.1
PUNCT = list(",.;:!?")
LANGS = ["en", "de", "fr"]
SOURCES = [f"src{i}" for i in range(4)]


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def vocabulary(rng: np.random.Generator, must_have: tuple[str, ...] = ()) -> list[str]:
    """``VOCAB_SIZE`` distinct lowercase words, most frequent first. Word
    length depends only on the rank (3 letters for the most frequent,
    growing to 9), so every seed gives about the same bytes per token.
    ``must_have`` words are placed at fixed mid-frequency ranks so every
    corpus contains them (the grep job's needle)."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: list[str] = []
    seen = set(must_have)
    while len(words) < VOCAB_SIZE:
        n = 3 + len(words) * 7 // VOCAB_SIZE
        w = "".join(rng.choice(letters, size=n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    for i, w in enumerate(must_have):
        words[40 + 7 * i] = w
    return words


def _zipf_probs(s: float = ZIPF_S) -> np.ndarray:
    p = 1.0 / np.arange(1, VOCAB_SIZE + 1) ** s
    return p / p.sum()


def _decorate(rng: np.random.Generator, words: list[str], ids: np.ndarray) -> list[str]:
    """Token strings for vocabulary ids, with case and punctuation
    variants."""
    u = rng.random((len(ids), 2))
    punct = rng.choice(PUNCT, size=len(ids))
    out = []
    for i, wid in enumerate(ids.tolist()):
        w = words[wid]
        if u[i, 0] < 0.08:
            w = w.capitalize()
        elif u[i, 0] < 0.09:
            w = w.upper()
        if u[i, 1] < 0.08:
            w += punct[i]
        out.append(w)
    return out


def corpus_lines(
    rng: np.random.Generator, words: list[str], n_lines: int, max_tokens: int = 24
) -> list[str]:
    """``n_lines`` Zipf-distributed lines; about 5 % are empty and a few
    carry leading or doubled spaces."""
    lengths = rng.integers(1, max_tokens + 1, size=n_lines)
    lengths[rng.random(n_lines) < 0.05] = 0
    ids = rng.choice(VOCAB_SIZE, size=int(lengths.sum()), p=_zipf_probs())
    toks = _decorate(rng, words, ids)
    seps = np.where(rng.random(len(toks)) < 0.03, "  ", " ")
    lead = rng.random(n_lines) < 0.01
    lines = []
    pos = 0
    for i, n in enumerate(lengths.tolist()):
        parts = []
        for j in range(pos, pos + n):
            parts.append(toks[j])
            parts.append(seps[j])
        pos += n
        line = "".join(parts[:-1])
        lines.append((" " + line) if lead[i] and line else line)
    return lines


def _documents_table(texts: list[str], rng: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([SOURCES[i] for i in rng.integers(0, len(SOURCES), n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_corpus(
    rng: np.random.Generator, out_dir: str, n_docs: int, dup_frac: float = 0.1, n_files: int = 4
) -> None:
    """``documents.parquet``: docs of 30-60 tokens of which a ``dup_frac``
    share are near-copies of an earlier doc with one or two tokens
    replaced, placed at random positions. Tokens are separated by a
    space, or now and then by a newline, an empty line or two spaces.

    The word distribution is flatter than the text file's: under
    ``ZIPF_S`` the few most common words dominate every 32-bit simhash,
    and about 1 % of all unrelated pairs would pass as near-duplicates.
    The table is written as a directory of ``n_files`` part files, as a
    corpus collected from many sources would be: the engine reads a
    single small file with one task."""
    words = vocabulary(rng)
    n_dup = int(n_docs * dup_frac)
    n_orig = n_docs - n_dup
    lengths = rng.integers(30, 61, size=n_orig)
    ids = rng.choice(VOCAB_SIZE, size=int(lengths.sum()), p=_zipf_probs(0.8))
    toks = _decorate(rng, words, ids)
    docs: list[list[str]] = []
    pos = 0
    for n in lengths.tolist():
        docs.append(toks[pos : pos + n])
        pos += n
    for src in rng.integers(0, n_orig, size=n_dup).tolist():
        copy = list(docs[src])
        for _ in range(int(rng.integers(1, 3))):
            copy[int(rng.integers(0, len(copy)))] = words[int(rng.integers(0, VOCAB_SIZE))]
        docs.append(copy)
    texts = []
    for i in rng.permutation(n_docs).tolist():
        u = rng.random(len(docs[i]) - 1)
        seps = np.where(u < 0.08, "\n", np.where(u < 0.09, "\n\n", np.where(u < 0.12, "  ", " ")))
        parts = [docs[i][0]]
        for sep, tok in zip(seps.tolist(), docs[i][1:]):
            parts.append(sep)
            parts.append(tok)
        texts.append("".join(parts))
    table = _documents_table(texts, rng)
    path = os.path.join(out_dir, "documents.parquet")
    os.makedirs(path)
    step = -(-n_docs // n_files)
    for i in range(n_files):
        _write(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def gen_text(
    rng: np.random.Generator, out_dir: str, n_lines: int, must_have: tuple[str, ...]
) -> None:
    """``lines.txt``, one record per line (the reference's input format),
    and its parquet twin ``documents.parquet`` with ``doc_id`` = 0-based
    line number, so the corpus oracles apply to the MapReduce jobs."""
    words = vocabulary(rng, must_have)
    lines = corpus_lines(rng, words, n_lines)
    with open(os.path.join(out_dir, "lines.txt"), "w", encoding="ascii", newline="\n") as f:
        f.write("\n".join(lines))
        f.write("\n")
    _write(_documents_table(lines, rng), os.path.join(out_dir, "documents.parquet"))
