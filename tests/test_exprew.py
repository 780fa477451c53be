"""Expected-reward random-walk re-rank (operators.exprew): the Spark operator
must match a plain-numpy replay of the reference algorithm (ExpRew.h
ApproxTravProb), flag recurrent (too-central) docs, drop non-candidate
edges, and round decimal ties half away from zero like the SQL oracle."""

import numpy as np

from hadoopsearchengine_spark.operators.exprew import expected_reward


def _numpy_oracle(cand, edges, iters, threshold):
    act = sorted({u for u, v, _ in edges} | {v for _, v, _ in edges})
    idx = {d: i for i, d in enumerate(act)}
    w = {}
    for u, v, x in edges:
        w[(u, v)] = w.get((u, v), 0.0) + x
    out_sum = {}
    for (u, v), x in w.items():
        out_sum[u] = out_sum.get(u, 0.0) + x
    mat = np.zeros((len(act), len(act)))
    for (u, v), x in w.items():
        mat[idx[u], idx[v]] = round(x / out_sum[u], 9)
    p = np.ones(len(act))
    for _ in range(iters):
        p = p + mat.T @ p
        p = p / p.sum()
    probs = {d: round(float(p[idx[d]]), 6) for d in act}
    return probs


def test_expected_reward_matches_numpy_and_flags_recurrent(spark):
    # a hub (1) every other candidate links to -> hub mass concentrates ->
    # recurrent; a non-candidate doc (99) must be excluded entirely
    cand = spark.createDataFrame([(d,) for d in (1, 2, 3, 4)],
                                 "doc_id long")
    raw = [(2, 1, 1.0), (3, 1, 1.0), (4, 1, 1.0), (1, 2, 0.5),
           (2, 3, 0.25), (99, 1, 9.0), (1, 99, 9.0)]
    links = spark.createDataFrame(raw, "src long, dst long, weight double")
    got = {r["doc_id"]: r for r in
           expected_reward(cand, links, iterations=6,
                           threshold=0.4).collect()}
    want = _numpy_oracle(
        cand=[1, 2, 3, 4],
        edges=[(u, v, x) for u, v, x in raw if u != 99 and v != 99],
        iters=6, threshold=0.4)
    assert set(got) == set(want)          # 99 excluded, all actives present
    for d, pv in want.items():
        assert abs(got[d]["trav_prob"] - pv) < 1e-9, (d, got[d], pv)
    assert got[1]["recurrent"] and got[1]["rank"] is None
    ranked = sorted((r for r in got.values() if not r["recurrent"]),
                    key=lambda r: r["rank"])
    probs = [r["trav_prob"] for r in ranked]
    assert probs == sorted(probs, reverse=True)
    assert [r["rank"] for r in ranked] == list(range(1, len(ranked) + 1))


def test_numpy_fast_path_matches_relational(spark):
    """expected_reward_numpy (called in-process by the serving tier, r4
    verdict Next №9) must return exactly what the Spark operator returns —
    doc-by-doc trav_prob, recurrent flag and rank."""
    from hadoopsearchengine_spark.operators.exprew import (
        expected_reward_numpy)

    cand_ids = (1, 2, 3, 4)
    cand = spark.createDataFrame([(d,) for d in cand_ids], "doc_id long")
    raw = [(2, 1, 1.0), (3, 1, 1.0), (4, 1, 1.0), (1, 2, 0.5),
           (2, 3, 0.25), (2, 1, 0.5),              # parallel edge dedups
           (99, 1, 9.0), (1, 99, 9.0)]             # non-candidate edges
    links = spark.createDataFrame(raw, "src long, dst long, weight double")
    rel = {r["doc_id"]: (r["trav_prob"], r["recurrent"], r["rank"])
           for r in expected_reward(cand, links, iterations=6,
                                    threshold=0.4).collect()}
    src = np.array([u for u, _, _ in raw])
    dst = np.array([v for _, v, _ in raw])
    w = np.array([x for _, _, x in raw])
    got = {d: (tp, rec, rk) for d, tp, rec, rk in
           expected_reward_numpy(cand_ids, src, dst, w, iterations=6,
                                 threshold=0.4)}
    assert set(got) == set(rel)
    for d in rel:
        assert abs(got[d][0] - rel[d][0]) < 1e-12, (d, got[d], rel[d])
        assert got[d][1:] == rel[d][1:], (d, got[d], rel[d])
    assert expected_reward_numpy([], src, dst, w) == []
    assert expected_reward_numpy([7], src, dst, w) == []  # no cand-cand edge
    lone = spark.createDataFrame([(7,)], "doc_id long")
    assert expected_reward(lone, links).collect() == []


def test_decimal_tie_rounds_half_up(spark):
    """On 2->1, 3->1, 4->3, 1->3 after 5 cycles docs 2 and 4 hold exactly
    p = 0.0078125: SQL round() (Spark F.round, the DuckDB oracle) gives
    0.007813, half-to-even would give 0.007812. Both forms must round like
    SQL, so the serving re-rank agrees with the oracle on the tie."""
    from hadoopsearchengine_spark.operators.exprew import (
        expected_reward_numpy)

    raw = [(2, 1, 1.0), (3, 1, 1.0), (4, 3, 1.0), (1, 3, 1.0)]
    cand = spark.createDataFrame([(d,) for d in (1, 2, 3, 4)],
                                 "doc_id long")
    links = spark.createDataFrame(raw, "src long, dst long, weight double")
    want = {1: (0.492188, True, None), 3: (0.492188, True, None),
            2: (0.007813, False, 1), 4: (0.007813, False, 2)}
    got = {d: (tp, rec, rk) for d, tp, rec, rk in expected_reward_numpy(
        (1, 2, 3, 4), *zip(*raw), iterations=5)}
    assert got == want
    rel = {r["doc_id"]: (r["trav_prob"], r["recurrent"], r["rank"])
           for r in expected_reward(cand, links, iterations=5).collect()}
    assert rel == want


def test_engine_rerank_expected_reward(index_dir):
    """QueryEngine.rerank_expected_reward: in-process ExpRew over a real
    search result using the index's links table — survivors come back in
    walk order, linkless candidates append in original order, recurrent
    docs drop."""
    from hadoopsearchengine_spark.operators.wand import QueryEngine
    from hadoopsearchengine_spark.sources.pages import REFERENCE_QUERIES

    eng = QueryEngine(index_dir)
    for q in REFERENCE_QUERIES[:3]:
        ranked = eng.search(q, k=20)
        if not ranked:
            continue
        out = eng.rerank_expected_reward(ranked, threshold=1.1)
        docs = [d for d, _ in out]
        assert len(docs) == len(set(docs))
        # trav_prob <= 1.0 always, so threshold > 1 flags nothing -> no
        # candidate drops (a hub can concentrate mass arbitrarily close to
        # 1, so any threshold < 1 may legitimately cut docs)
        assert set(docs) == {d for d, _ in ranked}
        # and a cutting threshold only ever removes docs, never invents
        cut = eng.rerank_expected_reward(ranked, threshold=0.05)
        assert {d for d, _ in cut} <= {d for d, _ in ranked}
    assert eng.rerank_expected_reward([]) == []

