"""Seeded inputs of the three workloads, written in their parquet layouts.

Inputs are generated before any timing starts and depend only on the seed
(and on ``kgtm.synth`` for the two KG workloads, so a change to the
generator shows up as a changed input digest). The program under test only
ever sees the parquet files.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from kgtm.synth import SynthConfig, generate
from kgtm.textstats import STOPWORDS_EN


@dataclass(frozen=True)
class KgSize:
    n_turns: int
    n_convs: int
    n_ontologies: int
    n_files: int


@dataclass(frozen=True)
class DocSize:
    n_docs: int
    low_share: float = 0.03
    exact_share: float = 0.05
    near_share: float = 0.05
    span_share: float = 0.10
    span_copies: int = 4
    span_words: int = 25
    vocab: int = 20000


#: Run sizes. kg_build: the small project dictionary, few large files;
#: kg_stream: the Archivo-scale dictionary (1,816 ontologies), many small
#: files (the stream source admits 8 files per epoch).
SIZES = {
    "kg_build": KgSize(n_turns=20000, n_convs=1400, n_ontologies=120, n_files=8),
    "kg_stream": KgSize(n_turns=10000, n_convs=700, n_ontologies=1816, n_files=32),
    "doc_dedup": DocSize(n_docs=1000),
}

#: Tiny sizes for the benchmark's own smoke tests.
TINY = {
    "kg_build": KgSize(n_turns=800, n_convs=150, n_ontologies=40, n_files=2),
    "kg_stream": KgSize(n_turns=800, n_convs=150, n_ontologies=200, n_files=16),
    "doc_dedup": DocSize(n_docs=120, span_copies=3),
}


def digest(*frames: pd.DataFrame) -> str:
    """Content digest of the generated tables (row-order sensitive,
    independent of the parquet writer)."""
    h = hashlib.sha256()
    for df in frames:
        h.update(",".join(df.columns).encode())
        lists = [c for c in df.columns if len(df) and isinstance(df[c].iloc[0], (list, np.ndarray))]
        df = df.assign(**{c: df[c].map(repr) for c in lists})
        h.update(pd.util.hash_pandas_object(df, index=False).values.tobytes())
    return h.hexdigest()[:16]


def _write(df: pd.DataFrame, path: str, row_group_size: int | None = None) -> None:
    pq.write_table(
        pa.Table.from_pandas(df, preserve_index=False), path, row_group_size=row_group_size
    )


def _write_split(df: pd.DataFrame, out_dir: str, n_files: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for i, part in enumerate(np.array_split(np.arange(len(df)), n_files)):
        _write(df.iloc[part], os.path.join(out_dir, f"part-{i:05d}.parquet"))


def make_kg(seed: int, size: KgSize, out_dir: str) -> dict:
    """The kgtm.synth corpus cut to about ``n_turns`` turns, split into
    ``n_files`` parquet files, plus the ontology index, its snapshots and the
    planted gold.

    Conversation lengths are Zipf-skewed, so a fixed conversation count
    gives a corpus size that swings by seed; instead whole conversations
    are taken in id order while they fit the turn target (the gold follows
    them). A seed whose conversations fill less than 99% of the target is
    generated again with twice as many."""
    n_convs = size.n_convs
    while True:
        tr, index, snaps, gold = generate(
            SynthConfig(seed=seed, n_convs=n_convs, n_ontologies=size.n_ontologies)
        )
        keep, total = [], 0
        for conv, n in tr.groupby("conv_id").size().sort_index().items():
            if total + n <= size.n_turns:
                keep.append(conv)
                total += n
        if total >= 0.99 * size.n_turns:
            break
        n_convs *= 2
    tr = tr[tr["conv_id"].isin(keep)].reset_index(drop=True)
    gold = gold[gold["conv_id"].isin(keep)].reset_index(drop=True)
    paths = {k: os.path.join(out_dir, k) for k in ("transcripts", "index", "snapshots", "gold")}
    _write_split(tr, paths["transcripts"], size.n_files)
    for key, df in (("index", index), ("snapshots", snaps), ("gold", gold)):
        os.makedirs(paths[key], exist_ok=True)
        _write(df, os.path.join(paths[key], "part-00000.parquet"))
    return {
        "paths": paths,
        "digest": digest(tr, index, snaps, gold),
        "facts": {
            "turns": len(tr),
            "files": size.n_files,
            "gold_triples": len(gold),
            "dict_rows": len(index),
            "ontologies": size.n_ontologies,
            "max_rows_per_host": int(index["host"].value_counts().max()),
            "snapshots": len(snaps),
        },
    }


# --------------------------------------------------------------------------
# Document corpus with planted duplicates
# --------------------------------------------------------------------------

_SYLLABLES = "ka lo mi nu pe ra si tu ve zo ba de fi go hu ja ke li mo ny".split()


def _vocab(n: int) -> np.ndarray:
    """``n`` distinct pronounceable words (2-4 syllables), fixed order."""
    words, k = [], len(_SYLLABLES)
    for i in range(n):
        w, x = [], i + k
        while x:
            x, r = divmod(x, k)
            w.append(_SYLLABLES[r])
        words.append("".join(w))
    return np.array(words)


def _shingles(words: list[str], n: int = 3) -> set[str]:
    ws = [w.lower() for w in words]
    return {" ".join(ws[i : i + n]) for i in range(len(ws) - n + 1)}


def make_docs(seed: int, size: DocSize, out_dir: str) -> dict:
    """Documents with planted exact duplicates, near duplicates (3-gram
    Jaccard >= 0.6 to their original), low-quality junk and shared spans of
    ``span_words`` words, written as ONE parquet file with ONE row group.

    Truth is returned alongside: the expected curation ``drop_reason`` per
    planted doc (every other doc is kept) and the number of words span
    dedup must cut from each doc that carries a non-first span copy.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocab(size.vocab)
    zipf_p = 1.0 / (np.arange(size.vocab) + 20.0)
    zipf_p /= zipf_p.sum()

    def sentence(n: int) -> list[str]:
        ws = list(vocab[rng.choice(size.vocab, size=n, p=zipf_p)])
        stop = rng.random(n) < 0.2
        for i in np.flatnonzero(stop):
            ws[i] = STOPWORDS_EN[int(rng.integers(len(STOPWORDS_EN)))]
        return ws

    n = size.n_docs
    n_low = int(n * size.low_share)
    n_exact = int(n * size.exact_share)
    n_near = int(n * size.near_share)
    n_span_docs = int(n * size.span_share) // size.span_copies * size.span_copies
    n_base = n - n_low - n_exact - n_near
    if n_base < n_exact + n_near + n_span_docs:
        raise ValueError("document corpus too small for its planted shares")

    base = [sentence(int(rng.integers(60, 140))) for _ in range(n_base)]
    pick = rng.permutation(n_base)
    exact_src = pick[:n_exact]
    near_src = pick[n_exact : n_exact + n_near]
    span_docs = pick[n_exact + n_near : n_exact + n_near + n_span_docs]

    # shared spans: each span text goes into `span_copies` distinct base docs
    expect_cut: dict[int, int] = {}
    for g in range(n_span_docs // size.span_copies):
        span = sentence(size.span_words)
        carriers = sorted(span_docs[g * size.span_copies : (g + 1) * size.span_copies])
        for j, d in enumerate(carriers):
            # boundary words distinct per copy, so no copy's duplicate run
            # extends past the planted span into a coincidentally equal word
            edge = [f"{vocab[int(rng.integers(size.vocab))]}q{j}" for _ in range(2)]
            at = int(rng.integers(1, len(base[d])))
            base[d] = base[d][:at] + [edge[0], *span, edge[1]] + base[d][at:]
            if j:  # the lowest doc id keeps the first occurrence
                expect_cut[int(d)] = size.span_words

    texts = [" ".join(ws) for ws in base]
    reason: dict[int, str] = {}
    for src in exact_src:
        reason[len(texts)] = "exact-dup"
        texts.append(texts[src])
    for src in near_src:
        ws = list(base[src])
        for pos in rng.choice(len(ws), size=3, replace=False):
            ws[pos] = vocab[int(rng.integers(size.vocab))] + "x"
        if len(_shingles(ws) & _shingles(base[src])) / len(
            _shingles(ws) | _shingles(base[src])
        ) < 0.6:
            raise RuntimeError("planted near duplicate below 0.6 Jaccard")
        reason[len(texts)] = "near-dup"
        texts.append(" ".join(ws))
    punct = np.array(list("!?.,;:()-"))
    for _ in range(n_low):
        reason[len(texts)] = "low-quality"
        toks = ["".join(rng.choice(punct, size=4)) for _ in range(int(rng.integers(5, 12)))]
        texts.append(" ".join(toks))

    docs = pd.DataFrame({"doc_id": np.arange(len(texts), dtype="int64"), "text": texts})
    docs = docs.iloc[rng.permutation(len(docs))].reset_index(drop=True)
    path = os.path.join(out_dir, "documents")
    os.makedirs(path, exist_ok=True)
    _write(docs, os.path.join(path, "part-00000.parquet"), row_group_size=len(docs))
    return {
        "paths": {"documents": path},
        "digest": digest(docs),
        "truth": {"reason": reason, "cut": expect_cut},
        "facts": {
            "docs": len(docs),
            "low_quality_share": round(n_low / len(docs), 4),
            "exact_dup_share": round(n_exact / len(docs), 4),
            "near_dup_share": round(n_near / len(docs), 4),
            "span_doc_share": round(n_span_docs / len(docs), 4),
            "span_words": size.span_words,
            "words": int(sum(len(t.split()) for t in texts)),
        },
    }
