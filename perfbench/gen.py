"""Seeded input generator: corpora, query mixes and the ingest schedule.

Everything here is a pure function of the seed (and sizes).  The corpus
holds the rows of ``datagen.corpus(seed=...)``, made with its per-row
function ``datagen.gen_doc`` and written to parquet in the run's own
directory before the Spark session starts (regenerated every run, so every
run starts from the same state).  The query texts and the ingest schedule
come from the same counter-based document generator.  The program under
test only ever sees these generated inputs.

Query properties (``CLASSES``) vary term document frequency:

- ``rare``: tokens of one planted identifier (df ~1-2 %)
- ``common``: 1-5 tokens of one generated document (common vocabulary)
- ``skew``: the ~50 %-df skew term ``sharedBufferPool``, alone or with
  common tokens
- ``mixed``: a rare planted token plus common tokens
- ``stopword``: only stopwords (tokenizes to nothing)
- ``unknown``: terms that occur in no document
"""

from __future__ import annotations

import os
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from instructor_embedding_spark import datagen
from instructor_embedding_spark.functions.tokenize import tokenize_py

#: property → weight per block of 20 queries (stratified, so every seed
#: sees the same mix and only the concrete terms change)
CLASSES: dict[str, int] = {
    "rare": 5, "common": 5, "skew": 3, "mixed": 3, "stopword": 2,
    "unknown": 2,
}
#: the same weights in one fixed order, for the few calls a run times one
#: by one: every seed then times the same (op, property) sequence
CLASS_PATTERN = ("common", "rare", "skew", "mixed", "rare", "common",
                 "stopword", "rare", "common", "skew", "mixed", "rare",
                 "common", "unknown", "skew", "common", "rare", "mixed",
                 "stopword", "unknown")
#: single-query op types in a fixed repeating order (60 / 20 / 20 %): a
#: run only fits a handful of single-query calls, and a fixed order keeps
#: the mix of those few the same for every seed
OP_PATTERN = ("topk", "and", "topk", "phrase", "topk")

_STOPWORDS = [w for w in datagen._COMMENT_WORDS if not tokenize_py(w)]
_VOCAB = set(datagen._WORDS) | set(datagen._VERBS)
#: planted identifier → its tokens that the generated vocabulary never uses
_RARE_TOKENS = {
    ident: [t for t in tokenize_py(ident) if t not in _VOCAB]
    for ident, _mod, _res in datagen.PLANTED
}


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.Generator(np.random.Philox(key=[seed, stream]))


def _stratified(rng: np.random.Generator, weights: dict[str, int],
                n: int) -> list[str]:
    block = [name for name, w in weights.items() for _ in range(w)]
    out: list[str] = []
    while len(out) < n:
        out.extend(block[i] for i in rng.permutation(len(block)))
    return out[:n]


@dataclass(frozen=True)
class Query:
    qid: int
    prop: str
    text: str
    n_terms: int


class QueryGen:
    """Query texts of a given property over a corpus of ``n_docs``."""

    def __init__(self, seed: int, n_docs: int, stream: int):
        self.seed = seed
        self.n_docs = n_docs
        self.rng = _rng(seed, 1000 + stream)

    def _doc_tokens(self) -> list[str]:
        while True:
            i = int(self.rng.integers(self.n_docs))
            toks = tokenize_py(datagen.gen_doc(self.seed, i)["content"])
            if toks:
                return toks

    def _common(self, lo: int, hi: int) -> list[str]:
        toks = list(dict.fromkeys(self._doc_tokens()))
        n = int(self.rng.integers(lo, min(hi, len(toks)) + 1))
        return [toks[i] for i in sorted(self.rng.choice(len(toks), n,
                                                        replace=False))]

    def _planted(self) -> str:
        return datagen.PLANTED[int(self.rng.integers(len(datagen.PLANTED)))][0]

    def text(self, prop: str) -> str:
        r = self.rng
        if prop == "rare":
            toks = tokenize_py(self._planted())
            n = int(r.integers(1, len(toks) + 1))
            return " ".join(toks[:n] if r.random() < 0.5 else toks[-n:])
        if prop == "common":
            return " ".join(self._common(1, 5))
        if prop == "skew":
            extra = self._common(0, 2) if r.random() < 0.5 else []
            return " ".join([datagen.SKEW_TERM, *extra])
        if prop == "mixed":
            rare = _RARE_TOKENS[self._planted()]
            return " ".join([rare[int(r.integers(len(rare)))],
                             *self._common(1, 3)])
        if prop == "stopword":
            n = int(r.integers(1, 6))
            return " ".join(_STOPWORDS[int(i)]
                            for i in r.integers(len(_STOPWORDS), size=n))
        if prop == "unknown":
            n = int(r.integers(1, 3))
            return " ".join(f"zzq{int(v):06x}"
                            for v in r.integers(1 << 24, size=n))
        raise ValueError(prop)

    def phrase(self, prop: str) -> str:
        """Phrase text: adjacent tokens where the property allows a hit."""
        r = self.rng
        if prop == "rare":
            return " ".join(tokenize_py(self._planted()))
        if prop in ("common", "mixed"):
            toks = self._doc_tokens()
            n = int(r.integers(2, 4))
            start = int(r.integers(max(1, len(toks) - n + 1)))
            return " ".join(toks[start:start + n])
        if prop == "skew":
            return "shared buffer pool"
        return self.text(prop)

    def query(self, qid: int, prop: str, phrase: bool = False) -> Query:
        text = self.phrase(prop) if phrase else self.text(prop)
        return Query(qid, prop, text, len(set(tokenize_py(text))))


@dataclass(frozen=True)
class SingleOp:
    op: str          # topk | and | phrase
    query: Query


@dataclass
class SearchPlan:
    warm: SingleOp              # the set-up call, outside the measured ones
    singles: list[SingleOp]
    batch: list[Query]          # the batch-evaluation query set
    batch_sample: list[int]     # batch query ids re-checked against the oracle


#: batch ids 1..12 are datagen.QUERY_SET, whose qrels datagen.qrels_df
#: derives; generated batch queries follow, single-query ids start here
SINGLE_ID_BASE = 1_000_000


def search_plan(seed: int, n_docs: int, n_singles: int, batch_size: int,
                sample: int = 24) -> SearchPlan:
    g = QueryGen(seed, n_docs, stream=1)
    ops = [OP_PATTERN[i % len(OP_PATTERN)] for i in range(n_singles)]
    props = [CLASS_PATTERN[i % len(CLASS_PATTERN)] for i in range(n_singles)]
    singles = [
        SingleOp(op, g.query(SINGLE_ID_BASE + i, prop, phrase=op == "phrase"))
        for i, (op, prop) in enumerate(zip(ops, props))
    ]
    fixed = [
        Query(qid, "qrels", text, len(set(tokenize_py(text))))
        for qid, text, _ in datagen.QUERY_SET
    ]
    gb = QueryGen(seed, n_docs, stream=4)
    n_gen = max(0, batch_size - len(fixed))
    base = len(fixed) + 1
    batch = fixed + [
        gb.query(base + i, prop)
        for i, prop in enumerate(_stratified(_rng(seed, 5), CLASSES, n_gen))
    ]
    pick = _rng(seed, 6).choice(len(batch), min(sample, len(batch)),
                                replace=False)
    warm = SingleOp("topk", g.query(SINGLE_ID_BASE - 1, "common"))
    return SearchPlan(warm, singles, batch,
                      sorted(batch[int(i)].qid for i in pick))


def probe_queries(seed: int, n_docs: int, n: int = 12) -> list[Query]:
    """OR queries used to spot-check a freshly built index."""
    g = QueryGen(seed, n_docs, stream=7)
    return [g.query(i + 1, p)
            for i, p in enumerate(_stratified(_rng(seed, 8), CLASSES, n))]


def shares(labels: list[str]) -> dict[str, float]:
    """Measured share of each label, in a stable key order."""
    c = Counter(labels)
    n = max(1, len(labels))
    return {k: round(c[k] / n, 4) for k in sorted(c)}


@dataclass
class IngestPlan:
    """Disjoint doc_id micro-batches plus a seeded tombstone schedule.

    Cycle ``c`` ingests ``[base + c*batch, base + (c+1)*batch)`` and
    tombstones ``round(delete_share * batch)`` docs drawn uniformly from
    the docs that were live before the cycle."""

    seed: int
    base_docs: int
    batch_docs: int
    delete_share: float = 0.1
    alive: list[int] = field(default_factory=list)
    cycles_planned: int = 0

    def __post_init__(self) -> None:
        self.alive = list(range(self.base_docs))

    def batch_range(self, c: int) -> tuple[int, int]:
        lo = self.base_docs + c * self.batch_docs
        return lo, lo + self.batch_docs

    def next_cycle(self) -> tuple[tuple[int, int], list[int]]:
        """(doc_id range to ingest, doc_ids to tombstone) of the next cycle."""
        c = self.cycles_planned
        self.cycles_planned += 1
        rng = _rng(self.seed, 9000 + c)
        n_del = int(round(self.delete_share * self.batch_docs))
        pick = set(int(i) for i in rng.choice(len(self.alive), n_del,
                                               replace=False))
        deleted = sorted(self.alive[i] for i in pick)
        lo, hi = self.batch_range(c)
        self.alive = [d for i, d in enumerate(self.alive) if i not in pick]
        self.alive.extend(range(lo, hi))
        return (lo, hi), deleted

    def max_doc(self, cycles: int) -> int:
        return self.batch_range(cycles)[0]


def write_docs(path: str, docs: list[dict], files: int = 1) -> None:
    """Write document rows as ``files`` parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(docs) // files)
    for f in range(files):
        part = pd.DataFrame(docs[f * step:(f + 1) * step])
        part.to_parquet(os.path.join(path, f"part-{f:05d}.parquet"),
                        index=False)


def write_corpus(work_dir: str, seed: int, n_docs: int, files: int) -> dict:
    """The rows of ``datagen.corpus(n_docs, seed)`` -- each one
    ``datagen.gen_doc(seed, doc_id)`` -- written as ``files`` parquet files
    (one Spark partition each) without a Spark job; returns ``{"path",
    "n_docs", "content_bytes", "docs"}``."""
    docs = [datagen.gen_doc(seed, i) for i in range(n_docs)]
    path = os.path.join(work_dir, "inputs", f"corpus-s{seed}-n{n_docs}")
    write_docs(path, docs, files)
    return {"path": path, "n_docs": n_docs, "docs": docs,
            "content_bytes": sum(len(d["content"].encode()) for d in docs)}
