"""Seeded input generator: flat ``documents.parquet`` corpora.

The program reads ``<dir>/documents.parquet`` with the flat schema
(doc_id bigint, text string, lang string, source string, n_chars bigint)
and derives everything else from it (``corpus.documents_interleaved``).
Each workload gets its own corpus shape; the same (shape, seed) always
gives byte-identical rows.

Two rules keep the repository's oracle valid on generated text:

* no token of the base text is a word of a predicate phrase, so the only
  span that yields a triple is the injected sentence (the closed form
  ``oracle_sqls.triples_cte`` relies on);
* ``doc_id`` stays below 1,000,000, because ``corpus._doc_str`` pads ids
  to six digits and longer ids would collide.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MAX_DOC_ID = 1_000_000

FILLER = (
    "batch spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data "
    "vector customer the join dup shard cache index node page block file "
    "disk plan task stage job queue lock log field record bucket range "
    "tree graph edge path cost model rate load sample"
).split()

LANGS = ("en", "en", "de", "es", "fr", "zh")
N_SOURCES = 20


@dataclass(frozen=True)
class Shape:
    """Corpus shape: how many documents, how many words each (uniform in
    [min_words, max_words]) and the share of words drawn from the
    gazetteer."""
    n_docs: int
    min_words: int
    max_words: int
    gaz_share: float


def vocabularies(surfaces: list[str], phrases: list[str]
                 ) -> tuple[list[str], list[str]]:
    """(filler words, gazetteer surfaces) with every phrase word removed
    from both, so no predicate phrase can form in generated base text."""
    banned = {w for p in phrases for w in re.findall(r"\w+", p)}
    surf = [s for s in surfaces if not banned & set(re.findall(r"\w+", s))]
    surf_words = {w for s in surfaces for w in re.findall(r"\w+", s)}
    filler = [w for w in FILLER if w not in banned and w not in surf_words]
    return filler, surf


def documents(shape: Shape, seed: int | list[int], filler: list[str],
              surf: list[str]) -> pa.Table:
    """The flat corpus for (shape, seed), sorted by doc_id; `seed` is
    anything ``numpy.random.default_rng`` accepts."""
    if shape.n_docs > MAX_DOC_ID:
        raise ValueError(f"{shape.n_docs} documents exceed the doc_id space")
    rng = np.random.default_rng(seed)
    ids = np.sort(rng.choice(MAX_DOC_ID, shape.n_docs, replace=False))
    lens = rng.integers(shape.min_words, shape.max_words + 1, shape.n_docs)
    total = int(lens.sum())
    vocab = np.array(filler + surf, dtype=object)
    pick_gaz = rng.random(total) < shape.gaz_share
    idx = np.where(pick_gaz,
                   len(filler) + rng.integers(0, len(surf), total),
                   rng.integers(0, len(filler), total))
    words = vocab[idx]
    ends = np.cumsum(lens)
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lens)]
    langs = np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS),
                                                       shape.n_docs)]
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % N_SOURCES}"
                            for i in range(shape.n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write_documents(table: pa.Table, path: str, n_files: int) -> None:
    """Write `path` as a directory of `n_files` parquet part files, the
    layout a Spark job leaves behind; each file becomes its own scan
    task."""
    os.makedirs(path)
    size = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * size, size),
                       os.path.join(path, f"part-{i:05d}.parquet"))
