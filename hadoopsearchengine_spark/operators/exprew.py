"""Expected-reward random-walk re-rank (reference DyableRequest/
ExpectedReward/ExpRew.h:1-304 — the last §2.3 behavior without an analog,
VERDICT r3 Missing #3).

The reference builds the link subgraph over the query's candidate documents,
normalizes each node's outgoing link weights (``NormalizeLinkSet``,
ExpRew.h:286-302), seeds every node with traversal probability 1.0
(``AddNeighbourNode``, ExpRew.h:174-188), then iterates
``ApproxTravProb`` (ExpRew.h:221-246):

    back[dst] += w(src, dst) * p[src]   for every link
    p += back;  p /= sum(p)             per iteration

— an approximation to the walk's limiting distribution. Documents whose
stationary mass exceeds a threshold (0.01 in ``NextNode``, ExpRew.h:264-283)
are flagged RECURRENT — too central / too similar to documents already
selected — and excluded from the final ranking; the rest rank by traversal
probability.

Spark-first shape: the candidate set is query-sized, so Spark only narrows
the corpus-sized ``links`` to candidate-candidate edges (two broadcast
semi-joins) and hands that subgraph to ONE grouped map (``applyInPandas`` on
a constant key), which runs ``expected_reward_numpy`` over it in one Python
call — the reference's in-process ``ApproxTravProb`` over its query-sized
active doc buffer (ExpRew.h:198-246). Batch re-ranking keys the same grouped
map by query id. The serving tier (``QueryEngine.rerank_expected_reward``)
calls the same function, so the recurrence has one implementation; the
DuckDB oracle replays it as unrolled CTEs (the graph_pagerank pattern).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..kernel import round_half_up

ITERATIONS = 25          # reference ApproxTravProb(25), ExpRew.h:268
RECURRENT_THRESHOLD = 0.01   # reference NextNode, ExpRew.h:278
WEIGHT_DP = 9            # normalized link weights (the oracle rounds alike)
TRAV_PROB_DP = 6         # reported trav_prob, also the threshold/rank key

OUT_SCHEMA = "doc_id long, trav_prob double, recurrent boolean, rank int"


def expected_reward(candidates: DataFrame, links: DataFrame,
                    iterations: int = ITERATIONS,
                    threshold: float = RECURRENT_THRESHOLD) -> DataFrame:
    """candidates(doc_id, ...), links(src, dst, weight) ->
    (doc_id, trav_prob, recurrent, rank), computed by
    ``expected_reward_numpy`` over the candidate-candidate links."""
    # checkpoint the (query-sized) candidate set — it is consumed by TWO
    # broadcast builds below, and each would otherwise recompute the whole
    # upstream candidate query (for the entry op: the BM25 chain)
    cand = candidates.select("doc_id").distinct().localCheckpoint(eager=True)
    e = (links.select("src", "dst", "weight")
         .join(F.broadcast(cand.withColumnRenamed("doc_id", "src")), "src",
               "left_semi")
         .join(F.broadcast(cand.withColumnRenamed("doc_id", "dst")), "dst",
               "left_semi"))

    def walk(pdf: pd.DataFrame) -> pd.DataFrame:
        src, dst = pdf["src"].to_numpy(), pdf["dst"].to_numpy()
        rows = expected_reward_numpy(np.concatenate([src, dst]), src, dst,
                                     pdf["weight"].to_numpy(), iterations,
                                     threshold)
        doc, prob, rec, rank = zip(*rows)
        return pd.DataFrame({"doc_id": doc, "trav_prob": prob,
                             "recurrent": rec,
                             "rank": pd.array(rank, dtype="Int32")})

    # one group: the whole candidate subgraph is one query's
    return e.groupBy(F.lit(0).alias("query")).applyInPandas(walk, OUT_SCHEMA)


def expected_reward_numpy(cand_ids, src, dst, weight,
                          iterations: int = ITERATIONS,
                          threshold: float = RECURRENT_THRESHOLD):
    """The recurrence over one query's candidate set, in numpy: candidate-
    candidate edge restriction, parallel-edge dedup-sum, per-src
    normalization rounded to 9dp (so the iteration starts from the floats
    the SQL oracle uses), ``iterations`` of back-propagate/renormalize, 6dp
    rounding, recurrent cut and survivor rank. ``recurrent`` and the rank
    both use the ROUNDED trav_prob; both roundings are half away from zero,
    like the oracle's SQL round().

    -> list of (doc_id, trav_prob, recurrent, rank_or_None) in
    (trav_prob desc, doc_id asc) order over active docs — the endpoints of
    candidate-candidate links (the reference's m_active_doc_buff,
    ExpRew.h:198-216); a candidate with no such link is absent. Recurrent
    docs carry rank None (the reference removes them from its result)."""
    cand = np.unique(np.asarray(cand_ids, dtype=np.int64))
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    weight = np.asarray(weight, dtype=np.float64)
    m = np.isin(src, cand) & np.isin(dst, cand)
    src, dst, weight = src[m], dst[m], weight[m]
    if not len(src):
        return []
    pairs = np.stack([src, dst], axis=1)
    uniq, inv = np.unique(pairs, axis=0, return_inverse=True)
    w = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(w, inv, weight)
    src, dst = uniq[:, 0], uniq[:, 1]
    su, sinv = np.unique(src, return_inverse=True)
    tot = np.zeros(len(su), dtype=np.float64)
    np.add.at(tot, sinv, w)
    w = round_half_up(w / tot[sinv], WEIGHT_DP)
    active = np.unique(np.concatenate([src, dst]))
    si = np.searchsorted(active, src)
    di = np.searchsorted(active, dst)
    p = np.ones(len(active), dtype=np.float64)
    for _ in range(iterations):
        back = np.zeros(len(active), dtype=np.float64)
        np.add.at(back, di, w * p[si])
        p = p + back
        p /= p.sum()
    trav = round_half_up(p, TRAV_PROB_DP)
    recurrent = trav > threshold
    order = np.lexsort((active, -trav))
    out, rank = [], 0
    for i in order:
        if recurrent[i]:
            out.append((int(active[i]), float(trav[i]), True, None))
        else:
            rank += 1
            out.append((int(active[i]), float(trav[i]), False, rank))
    return out
