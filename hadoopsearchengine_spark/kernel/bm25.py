"""BM25 scoring math — the single source of truth for both the Spark engine
and the oracle, per the north rule (rank-identical top-k).

The reference's proximity-class scorer (reference
DyableRequest/SearchHitItems/HitScore.h:139-233) is replaced by BM25 with a
document-prior multiplier; the PageRank ("PulseRank") prior enters the score
exactly as the reference's pulse score enters its spatial ranking
(DyableRequest/WordDivision.h:51-197 block scores).

    idf(t)      = ln( (N - df + 0.5) / (df + 0.5) + 1 )        (Lucene form,
                  always > 0 — required for block-max upper bounds)
    contrib(t,d)= idf(t) * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))
    score(d)    = prior(d) * sum_t contrib(t,d)

Ties broken by ascending doc_id (SURVEY.md §7.4). float64 throughout.
"""

from __future__ import annotations

import math

import numpy as np

K1 = 1.2
B = 0.75


def idf(df: int | np.ndarray, n_docs: int) -> float | np.ndarray:
    return np.log((n_docs - df + 0.5) / (df + 0.5) + 1.0)


def contrib(tf: np.ndarray, doc_len: np.ndarray, avgdl: float,
            term_idf: float) -> np.ndarray:
    """Vectorized per-(term,doc) BM25 contribution (prior not applied)."""
    tf = tf.astype(np.float64)
    norm = K1 * (1.0 - B + B * (doc_len.astype(np.float64) / avgdl))
    return term_idf * tf * (K1 + 1.0) / (tf + norm)


def contrib_scalar(tf: float, doc_len: float, avgdl: float,
                   term_idf: float) -> float:
    norm = K1 * (1.0 - B + B * (doc_len / avgdl))
    return term_idf * tf * (K1 + 1.0) / (tf + norm)


def max_contrib_bound(term_idf: float) -> float:
    """tf->inf, dl->0 upper bound for a term: idf * (k1+1) / ... <= idf*(k1+1).
    Used only as a sanity cap; real block maxima are exact per block."""
    return term_idf * (K1 + 1.0)


def ln(x: float) -> float:
    return math.log(x)


# -- optional proximity boost (re-expression of the reference's proximity
#    runs, DyableRequest/SearchHitItems/HitScore.h:139-233: runs of nearby
#    distinct query terms score higher). Opt-in; the verified default
#    contract stays pure BM25. --

PROX_ALPHA = 0.25

# opt-in title-field weight (BM25F-lite): weighted tf = tf + (W_TITLE-1) *
# title_tf. Since contrib is concave in tf with contrib(0)=0 and
# weighted_tf <= W_TITLE * tf, contrib(weighted) <= W_TITLE * contrib(tf) —
# so block-max bounds scale by W_TITLE for rank-exact pruning.
W_TITLE = 2.0

# full field-weight set, mirroring the reference's per-hit weight bonuses
# (Webpage.h:139-176: base 1, meta +3, anchor +2, image +2, cap [1,7]).
# title/img-alt hits are SUBSETS of the body stream (their text is indexed
# body text), so they add (W-1)*field_tf on top of tf; meta-keyword and
# anchor hits are NOT in the body stream (meta content is never body text;
# anchor text belongs to the SOURCE page, the hit is keyed to the TARGET
# doc, CompileHitList.h:316-319), so they add the full W*field_tf — and a
# doc with body tf = 0 but anchor/meta hits is still retrievable, exactly
# the reference's anchor-hit behavior.
W_META = 4.0
W_ANCHOR = 3.0
W_IMG = 3.0


def weighted_tf(tf, title_tf, anchor_tf, meta_tf, alt_tf):
    """BM25F-lite weighted tf (works on scalars or numpy arrays)."""
    return (tf + (W_TITLE - 1.0) * title_tf + W_ANCHOR * anchor_tf
            + W_META * meta_tf + (W_IMG - 1.0) * alt_tf)


# query-time spam cut (reference HitScore.h:250-253: documents whose hit
# count for a term exceeds ~45 occurrences are zeroed as keyword stuffing)
SPAM_TF_CAP = 45


def min_span(term_positions: list) -> int | None:
    """Smallest slack of a window containing >= 1 occurrence of EVERY term:
    span = (window_max - window_min) - (m - 1), 0 = perfectly adjacent.
    term_positions: list (one entry per distinct matched term) of ascending
    position arrays. None when fewer than two terms matched."""
    m = len(term_positions)
    if m < 2:
        return None
    import heapq
    heads = [(int(p[0]), i, 0) for i, p in enumerate(term_positions)]
    heapq.heapify(heads)
    cur_max = max(h[0] for h in heads)
    best = None
    while True:
        pos, i, j = heapq.heappop(heads)
        span = (cur_max - pos) - (m - 1)
        if best is None or span < best:
            best = span
        if j + 1 >= len(term_positions[i]):
            return max(best, 0)
        nxt = int(term_positions[i][j + 1])
        cur_max = max(cur_max, nxt)
        heapq.heappush(heads, (nxt, i, j + 1))


def proximity_multiplier(term_positions: list) -> float:
    """1 + alpha/(1+span); 1.0 when <2 distinct terms matched."""
    s = min_span(term_positions)
    if s is None:
        return 1.0
    return 1.0 + PROX_ALPHA / (1.0 + s)
