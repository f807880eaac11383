"""The output checks flag wrong answers and accept right ones."""

import pytest

from perfbench import gen
from perfbench.oracle import Oracle


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    docs = [gen.datagen.gen_doc(3, i) for i in range(300)]
    path = str(tmp_path_factory.mktemp("corpus"))
    gen.write_docs(path, docs, files=2)
    o = Oracle(path)
    yield o
    o.close()


def _answer(oracle, queries, **kw):
    """The oracle's own answer, as result rows."""
    from instructor_embedding_spark.query.bm25 import bm25_topk_sql

    live = None
    if kw.get("live_docs") is not None:
        oracle._restrict("live", kw["live_docs"])
        live = "SELECT doc_id FROM live_ids"
    sql = bm25_topk_sql("corpus", [(q.qid, q.text) for q in queries], k=10,
                        text_col="content", candidate_filter_sql=live)
    cols = ("query_id", "rank", "doc_id", "score")
    return [dict(zip(cols, r)) for r in oracle.con.execute(sql).fetchall()]


QUERIES = [gen.Query(1, "common", "buffer pool", 2),
           gen.Query(2, "rare", "merge posting segments", 3),
           gen.Query(3, "stopword", "the of and", 0)]


def test_right_answers_pass(oracle):
    rows = _answer(oracle, QUERIES)
    assert {r["query_id"] for r in rows} == {1, 2}
    assert oracle.bad_topk(QUERIES, rows, 10) == []


def test_wrong_answers_are_flagged(oracle):
    rows = _answer(oracle, QUERIES)
    first = [r for r in rows if r["query_id"] == 1]
    swapped = [dict(r) for r in rows]
    a, b = [r for r in swapped if r["query_id"] == 1][:2]
    a["doc_id"], b["doc_id"] = b["doc_id"], a["doc_id"]
    assert oracle.bad_topk(QUERIES, swapped, 10) == [1]

    off = [dict(r, score=r["score"] + 1e-5) if r is first[0] else r
           for r in rows]
    assert oracle.bad_topk(QUERIES, off, 10) == [1]

    missing = [r for r in rows if r is not first[-1]]
    assert oracle.bad_topk(QUERIES, missing, 10) == [1]

    extra = rows + [dict(query_id=3, rank=1, doc_id=0, score=1.0)]
    assert oracle.bad_topk(QUERIES, extra, 10) == [3]


def test_live_docs_rank_among_survivors(oracle):
    rows = _answer(oracle, QUERIES[:1])
    top = rows[0]["doc_id"]
    live = [d for d in range(300) if d != top]
    assert oracle.bad_topk(QUERIES[:1], rows, 10,
                           live_docs=live) == [1]
    survivors = _answer(oracle, QUERIES[:1], live_docs=live)
    assert top not in {r["doc_id"] for r in survivors}
    assert oracle.bad_topk(QUERIES[:1], survivors, 10, live_docs=live) == []


def test_phrase_check(oracle):
    q = gen.Query(7, "rare", "merge posting segments", 3)
    bad = oracle.bad_phrase([(q, [])], 10)
    assert bad == [7]                        # the planted phrase has hits
    empty = gen.Query(8, "stopword", "the of", 0)
    assert oracle.bad_phrase([(empty, [])], 10) == []
