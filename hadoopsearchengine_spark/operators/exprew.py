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

Spark-first shape: the candidate set is query-sized, so the link restriction
is two broadcast semi-joins; each iteration is one tiny join + aggregate
with the mass total folded in as a 1-row cross join (the pagerank dangling
pattern) and per-iteration ``localCheckpoint`` lineage truncation. The
whole recurrence is relational, so the DuckDB oracle replays it exactly as
unrolled CTEs (the graph_pagerank pattern).

Scale: this is a PER-QUERY re-rank over tens-to-thousands of candidates —
the distributed form exists so the SAME operator can batch-re-rank every
query's candidate set in one job (queries are rows, candidate subgraphs are
partitions); a serving tier would run the identical recurrence in-process.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

ITERATIONS = 25          # reference ApproxTravProb(25), ExpRew.h:268
RECURRENT_THRESHOLD = 0.01   # reference NextNode, ExpRew.h:278


def expected_reward(candidates: DataFrame, links: DataFrame,
                    iterations: int = ITERATIONS,
                    threshold: float = RECURRENT_THRESHOLD,
                    round_to: int = 6) -> DataFrame:
    """candidates(doc_id, ...), links(src, dst, weight) ->
    (doc_id, trav_prob, recurrent, rank).

    Active docs are the endpoints of candidate-candidate links (the
    reference's m_active_doc_buff — nodes with at least one link,
    ExpRew.h:198-216); parallel edges dedup-sum, weights normalize per src
    (rounded to 9dp so the iterated recurrence starts from identical floats
    in Spark and the SQL oracle). ``recurrent`` and the ranking both use the
    ROUNDED trav_prob so the threshold/tiebreak comparisons are
    engine-consistent; recurrent docs carry rank NULL (they are removed
    from the result set the reference would return)."""
    # r6: checkpoint the (query-sized) candidate set — it is consumed by
    # TWO broadcast builds below, and each would otherwise recompute the
    # whole upstream candidate query (for the entry op: the BM25 chain)
    cand = candidates.select("doc_id").distinct().localCheckpoint(eager=True)
    e = (links
         .join(F.broadcast(cand.withColumnRenamed("doc_id", "src")), "src")
         .join(F.broadcast(cand.withColumnRenamed("doc_id", "dst")), "dst")
         .groupBy("src", "dst").agg(F.sum("weight").alias("w")))
    e = e.select(
        "src", "dst",
        F.round(F.col("w") / F.sum("w").over(W.partitionBy("src")), 9)
         .alias("w")).persist()
    active = (e.select(F.col("src").alias("doc_id"))
              .union(e.select(F.col("dst").alias("doc_id"))).distinct())
    # fixed-shape candidate-sized iteration: AQE's per-stage re-planning
    # only adds scheduler latency x iterations, and session-sized shuffle
    # partition counts mean 32 tasks for a <=candidate-sized exchange —
    # the operators/pagerank.py pattern (restored after the loop; every
    # cycle is localCheckpoint-materialized, so restoring cannot change
    # results)
    spark = candidates.sparkSession
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = active.withColumn("p", F.lit(1.0)).localCheckpoint()
        for _ in range(iterations):
            back = (e.join(p.select(F.col("doc_id").alias("src"),
                                    F.col("p").alias("ps")), "src")
                    .groupBy("dst")
                    .agg(F.sum(F.col("w") * F.col("ps")).alias("back")))
            bumped = (p.join(back.withColumnRenamed("dst", "doc_id"),
                             "doc_id", "left")
                      .select("doc_id",
                              (F.col("p") + F.coalesce("back", F.lit(0.0)))
                              .alias("p")))
            tot = bumped.agg(F.sum("p").alias("s"))
            p = (bumped.crossJoin(F.broadcast(tot))
                 .select("doc_id", (F.col("p") / F.col("s")).alias("p"))
                 .localCheckpoint())
    finally:
        # p is checkpointed — the edge cache has no consumers left; release
        # it so repeated invocations don't accumulate session-lifetime cache
        # entries (the q_txt_spell_suggest leak pattern). The session conf
        # is restored whether the loop finished or raised.
        e.unpersist()
        spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
    fin = p.select("doc_id", F.round("p", round_to).alias("trav_prob"))
    fin = fin.withColumn("recurrent", F.col("trav_prob") > threshold)
    # the candidate set is query-sized: a single-partition rank window here
    # is the reference's CLimitedPQ, not a distributed bottleneck
    win = W.orderBy(F.col("trav_prob").desc(), F.col("doc_id").asc())
    ranked = (fin.filter(~F.col("recurrent"))
              .withColumn("rank", F.row_number().over(win)))
    # checkpointed inputs carry no stats, so hint the (candidate-sized)
    # rank side explicitly rather than letting it fall to a sort-merge join
    return (fin.join(F.broadcast(ranked.select("doc_id", "rank")),
                     "doc_id", "left")
            .select("doc_id", "trav_prob", "recurrent", "rank"))


def expected_reward_numpy(cand_ids, src, dst, weight,
                          iterations: int = ITERATIONS,
                          threshold: float = RECURRENT_THRESHOLD,
                          round_to: int = 6):
    """The IN-PROCESS serving form of the identical recurrence (the module
    docstring's "a serving tier would run the identical recurrence
    in-process" — r4 verdict Next №9): candidate-candidate edge
    restriction, parallel-edge dedup-sum, per-src normalization rounded to
    9dp, ``iterations`` of back-propagate/renormalize, 6dp rounding,
    recurrent cut and survivor rank — all numpy over the query-sized
    candidate set. Pinned equal to the relational ``expected_reward`` by
    tests/test_exprew.py.

    -> list of (doc_id, trav_prob, recurrent, rank_or_None) in
    (trav_prob desc, doc_id asc) order over active docs; candidates with no
    candidate-candidate link are inactive and absent (the relational form's
    ``active`` contract)."""
    import numpy as np

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
    w = np.round(w / tot[sinv], 9)
    active = np.unique(np.concatenate([src, dst]))
    si = np.searchsorted(active, src)
    di = np.searchsorted(active, dst)
    p = np.ones(len(active), dtype=np.float64)
    for _ in range(iterations):
        back = np.zeros(len(active), dtype=np.float64)
        np.add.at(back, di, w * p[si])
        p = p + back
        p /= p.sum()
    trav = np.round(p, round_to)
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
