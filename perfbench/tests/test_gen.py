"""The generator is a pure function of its seed."""

from perfbench import gen
from instructor_embedding_spark.functions.tokenize import tokenize_py


def test_search_plan_is_deterministic_per_seed():
    a = gen.search_plan(5, 1000, n_singles=40, batch_size=60)
    b = gen.search_plan(5, 1000, n_singles=40, batch_size=60)
    c = gen.search_plan(6, 1000, n_singles=40, batch_size=60)
    assert a == b
    assert [s.query.text for s in a.singles] != [s.query.text for s in c.singles]


def test_mix_shares_are_the_same_for_every_seed():
    for seed in (1, 2, 3):
        plan = gen.search_plan(seed, 1000, n_singles=100, batch_size=12)
        assert gen.shares([s.op for s in plan.singles]) == {
            "and": 0.2, "phrase": 0.2, "topk": 0.6}
        assert gen.shares([s.query.prop for s in plan.singles]) == {
            "common": 0.25, "mixed": 0.15, "rare": 0.25, "skew": 0.15,
            "stopword": 0.1, "unknown": 0.1}


def test_query_properties_hold():
    plan = gen.search_plan(9, 1000, n_singles=200, batch_size=12)
    for s in plan.singles:
        q = s.query
        if q.prop == "stopword":
            assert tokenize_py(q.text) == []
        elif q.prop == "unknown":
            assert all(t.startswith("zzq") for t in tokenize_py(q.text))
        elif s.op != "phrase":
            assert 1 <= q.n_terms <= 5
    ids = [s.query.qid for s in plan.singles] + [q.qid for q in plan.batch]
    assert len(ids) == len(set(ids))
    assert [q.qid for q in plan.batch] == list(range(1, 13))


def test_ingest_plan_is_deterministic_and_disjoint():
    def run(seed):
        p = gen.IngestPlan(seed, base_docs=100, batch_docs=20)
        return [p.next_cycle() for _ in range(4)], p.alive

    (cycles, alive), (again, alive2) = run(3), run(3)
    assert cycles == again and alive == alive2
    assert run(4)[0] != cycles
    seen_deleted = set()
    for c, ((lo, hi), deleted) in enumerate(cycles):
        assert (lo, hi) == (100 + 20 * c, 120 + 20 * c)
        assert len(deleted) == 2
        assert all(d < lo for d in deleted)          # only older docs
        assert not seen_deleted & set(deleted)       # never deleted twice
        seen_deleted |= set(deleted)
    assert len(alive) == 100 + 4 * 20 - 8
    assert not seen_deleted & set(alive)


def test_probe_queries_are_deterministic():
    assert gen.probe_queries(2, 500) == gen.probe_queries(2, 500)
