"""Output checks against the repository's brute-force oracles, in DuckDB.

``query.bm25.bm25_topk_sql`` is the DuckDB twin of ``query.bm25.bm25_topk``
and ``query.phrase.phrase_topk_sql`` the phrase oracle.  Both run over the
generated corpus parquet in-process, which keeps the check phase to about a
second per run instead of several Spark jobs.  Agreement follows the rule
the repository's own BM25 oracle test uses: (query_id, rank, doc_id)
identical and scores within 1e-6.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from instructor_embedding_spark.functions.tokenize import tokenize_py
from instructor_embedding_spark.query.bm25 import bm25_topk_sql
from instructor_embedding_spark.query.phrase import phrase_topk_sql

SCORE_TOL = 1e-6


def by_query(rows, key: str = "query_id",
             val: str = "score") -> dict[int, list[tuple]]:
    """Result rows grouped per query as sorted (rank, doc_id, value)."""
    out: dict[int, list[tuple]] = {}
    for r in rows:
        out.setdefault(int(r[key]), []).append(
            (int(r["rank"]), int(r["doc_id"]), r[val]))
    return {q: sorted(v) for q, v in out.items()}


def agree(got: list[tuple], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        g[:2] == w[:2] and abs(g[2] - w[2]) <= SCORE_TOL
        for g, w in zip(got, want))


class Oracle:
    """Brute-force answers over one corpus parquet directory."""

    def __init__(self, corpus_path: str):
        self.con = duckdb.connect()
        self.con.execute(
            "CREATE VIEW corpus AS SELECT doc_id, content FROM "
            f"read_parquet('{corpus_path}/*.parquet')")

    def close(self) -> None:
        self.con.close()

    def _restrict(self, name: str, ids: list[int] | None) -> str:
        """A view of the corpus limited to ``ids`` (all docs if None)."""
        if ids is None:
            return "corpus"
        self.con.register(f"{name}_ids", pd.DataFrame({"doc_id": ids}))
        self.con.execute(
            f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM corpus "
            f"WHERE doc_id IN (SELECT doc_id FROM {name}_ids)")
        return name

    def bad_topk(self, queries, got_rows, k: int, require_all: bool = False,
                 index_docs: list[int] | None = None,
                 live_docs: list[int] | None = None) -> list[int]:
        """Query ids whose top-k differs from ``bm25_topk`` over the docs the
        index holds (``index_docs``), ranked among ``live_docs`` only."""
        if not queries:
            return []
        table = self._restrict("indexed", index_docs)
        live = None
        if live_docs is not None:
            self._restrict("live", live_docs)
            live = "SELECT doc_id FROM live_ids"
        sql = bm25_topk_sql(table, [(q.qid, q.text) for q in queries], k=k,
                            text_col="content", candidate_filter_sql=live,
                            require_all=require_all)
        cols = ("query_id", "rank", "doc_id", "score")
        want = by_query(dict(zip(cols, r))
                        for r in self.con.execute(sql).fetchall())
        got = by_query(got_rows)
        return [q.qid for q in queries
                if not agree(got.get(q.qid, []), want.get(q.qid, []))]

    def bad_phrase(self, answered, k: int) -> list[int]:
        """Phrase ids whose (rank, doc_id, matches) differ from the oracle."""
        bad = []
        for q, rows in answered:
            got = by_query(rows, "phrase_id", "matches").get(q.qid, [])
            want = []
            if tokenize_py(q.text):
                sql = phrase_topk_sql("corpus", [(q.qid, q.text)], k=k,
                                      text_col="content")
                want = sorted((int(r[1]), int(r[2]), int(r[3]))
                              for r in self.con.execute(sql).fetchall())
            if got != want:
                bad.append(q.qid)
        return bad
