"""BM25 top-k retrieval over the posting-block index.

Two paths, both rank-identical to the oracle:

- ``QueryEngine`` (warm local library): loads only the query terms' blocks
  via parquet predicate pushdown (pyarrow ``filters=[("term_id","in",...)]``)
  and scores with **block-max pruning**: the doc-id space is processed in
  block-aligned ranges; a range whose summed per-term block-max scores cannot
  beat the current k-th score is skipped without decoding. This re-expresses
  the reference's best-first bisection pruning over ≤1 MB hit segments with
  doc-id bounds (reference DyableRequest/SearchHitItems/SearchHitItems.h:
  131-254, segment metadata DyableSort/CompileLookupIndex/
  HitTypeWordDivision.h:10-21) — same upper-bound idea, vectorized. Pruning
  is rank-exact: only ranges provably below the k-th score are skipped, and
  the stored block max is ``max(prior * contrib)`` which upper-bounds every
  doc's per-term share of ``prior * Σ contrib``.

  One scoring core, ``wand_topk``, ranks for the single and the sharded
  engine (operators/sharded.py): it merges the query handles of one or
  more engines (``QueryEngine.open_scatter``) into one range sweep and
  asks each engine's ``score_range`` for the ranges it admits; the single
  engine is the one-handle case. The running top-k is two sorted numpy
  arrays, and each range's per-doc totals (``prior_totals``) merge into it
  in one vectorized select (``merge_topk``). Proximity queries stop a
  range's candidates at the first whose bound misses the k-th score.

- ``bm25_topk_df`` (distributed): plain DataFrame join/agg scoring for
  driver-verifiable parity and for batch query workloads.

The per-query engine is what the p95-latency benchmark measures (SURVEY §3.2:
"for p95-latency benchmarking the same kernels run as a warm local library").
"""

from __future__ import annotations

from functools import partial

import numpy as np

from ..kernel import bm25
from ..kernel.codec import decode_deltas, decode_tfs
from ..kernel.tokenize import tokenize

# 1e-9 slack absorbs float ulp differences between a score upper bound and
# the actual score (different summation orders), keeping every prune
# rank-exact including ties
EPS = 1e-9
# score_range's (doc_ids, contribs, raw_tfs) for a range with no match
_NONE = (np.empty(0, dtype=np.int64), np.empty(0), np.empty(0))


class _LRU:
    """Minimal bounded LRU cache with dict-like get/set; cap 0 keeps
    nothing."""

    def __init__(self, cap: int):
        import collections
        self.cap = int(cap)
        self._d: "collections.OrderedDict" = collections.OrderedDict()

    def get(self, key):
        got = self._d.get(key)
        if got is not None:
            self._d.move_to_end(key)
        return got

    def __setitem__(self, key, value):
        self._d[key] = value
        self._d.move_to_end(key)
        if len(self._d) > self.cap:
            self._d.popitem(last=False)

    def __len__(self):
        return len(self._d)


def sweep_range_bounds(blk_min: np.ndarray, blk_max: np.ndarray,
                       blk_ms: np.ndarray):
    """-> (bounds, range_ub): block-aligned range boundaries and the summed
    per-term block-max upper bound of every range [bounds[i], bounds[i+1]),
    in O(B log B) via a difference array (each block covers a contiguous
    run of ranges, since bounds contains both of its endpoints). Replaces
    the r1-r3 per-range O(B) mask — O(B²) total, which at head-term block
    counts (~1e4 blocks at 100× corpus scale) cost seconds before scoring
    a single block."""
    bounds = np.unique(np.concatenate([blk_min, blk_max + 1]))
    diff = np.zeros(len(bounds), dtype=np.longdouble)
    np.add.at(diff, np.searchsorted(bounds, blk_min), blk_ms)
    np.add.at(diff, np.searchsorted(bounds, blk_max + 1), -blk_ms)
    # extended-precision running sum: a float64 cumsum over the +/-
    # difference stream accumulates cancellation error ~ n_bounds * 2^-52 *
    # running_sum, which approaches the prune's 1e-9 EPS at the 1e5-1e6
    # block counts this sweep exists for; longdouble (>= 64-bit mantissa)
    # keeps the error ~2e3x below EPS at 1e6 bounds, preserving the
    # rank-exact pruning guarantee
    return bounds, np.cumsum(diff[:-1]).astype(np.float64)


def blocks_in_range(t_begin: np.ndarray, t_end: np.ndarray,
                    blk_min: np.ndarray, blk_max: np.ndarray,
                    lo: int, hi: int) -> np.ndarray:
    """Ascending block indices overlapping [lo, hi), O(T log B): each term's
    blocks (rows [t_begin[i], t_end[i])) are disjoint and min_doc-sorted
    (block_no is row_number over min_doc per term, plans/build_index.py:764),
    so the overlap set per term is one contiguous run."""
    runs = []
    for s, e in zip(t_begin, t_end):
        l = s + int(np.searchsorted(blk_max[s:e], lo))
        r = s + int(np.searchsorted(blk_min[s:e], hi))
        if l < r:
            runs.append(np.arange(l, r))
    return (np.concatenate(runs) if runs
            else np.empty(0, dtype=np.int64))


def merge_topk(top_d: np.ndarray, top_s: np.ndarray, d: np.ndarray,
               s: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    """-> (doc_ids, scores): the best ``k`` of the running top-k
    ``(top_d, top_s)`` and the candidates ``(d, s)``, ordered by (score
    desc, doc_id asc); ``k >= 1``. The two must share no doc id (callers
    merge disjoint doc ranges), so the result is the exact top-k of their
    union. A partition first keeps only entries scoring at least the k-th
    score, ties included, so the full sort runs on about k entries."""
    d = np.concatenate((top_d, d))
    s = np.concatenate((top_s, s))
    if s.size > k:
        keep = s >= np.partition(s, s.size - k)[s.size - k]
        d, s = d[keep], s[keep]
    order = np.lexsort((d, -s))[:k]
    return d[order], s[order]


def _cat(arrays: list) -> np.ndarray:
    """np.concatenate, passing a lone array through without a copy."""
    return arrays[0] if len(arrays) == 1 else np.concatenate(arrays)


def prior_totals(d: np.ndarray, c: np.ndarray, prior: np.ndarray,
                 base: int, raw: np.ndarray | None = None) \
        -> tuple[np.ndarray, np.ndarray]:
    """-> (unique doc ids, prior * summed contribs) of the contributions
    ``(d, c)``; ``prior`` is dense over doc ids from ``base``. Given the
    matched rows' body tfs ``raw``, docs where any of them exceeds
    SPAM_TF_CAP score 0 (keyword stuffing, HitScore.h:250-253)."""
    uniq, inv = np.unique(d, return_inverse=True)
    tot = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(tot, inv, c)
    tot *= prior[uniq - base]
    if raw is not None:
        mx = np.zeros(len(uniq), dtype=np.float64)
        np.maximum.at(mx, inv, raw)
        tot[mx > bm25.SPAM_TF_CAP] = 0.0
    return uniq, tot


def dedup_cut(top_d, top_s, fps, k: int) -> list[tuple[int, float]]:
    """The first ``k`` checksum-distinct entries of a ranked list, given
    its content checksums ``fps`` (CompileRankedList.h:206-242). Both
    engines cut the same 4k+8 over-fetch window, so they agree even when
    more than 4k+8 checksum-identical docs outrank the distinct ones."""
    out, seen = [], set()
    for did, sc, fp in zip(top_d, top_s, fps):
        fp = int(fp)
        if fp in seen:
            continue
        seen.add(fp)
        out.append((int(did), float(sc)))
        if len(out) == k:
            break
    return out


def wand_topk(parts: list, totals, k: int, prune: bool = True,
              boost_cap: float = 1.0, positions=None) \
        -> tuple[np.ndarray, np.ndarray]:
    """-> (doc_ids, scores): the exact top ``k >= 1`` (score desc, doc_id
    asc) over the scatter handles ``parts = [(engine, handle)]``.

    All handles' block bounds go into one range sweep, visited in
    descending upper bound (ties in doc order) so theta, the live k-th
    score, rises fast. Unless ``prune`` is False, a range whose bound times
    ``boost_cap`` (the largest boost factor) misses theta is skipped. Every
    engine's ``score_range`` scores an admitted range, and ``totals(doc_ids,
    contribs, raw_tfs) -> (uniq, tot)`` reduces it to prior-weighted
    per-doc scores. Given ``positions(doc, lo, hi)``, each total is scaled
    by the proximity multiplier, in descending total until the bound
    misses theta."""
    top_d = np.empty(0, dtype=np.int64)
    top_s = np.empty(0, dtype=np.float64)
    if not parts:
        return top_d, top_s
    hs = [h for _, h in parts]
    bounds, range_ub = sweep_range_bounds(
        _cat([h["blk_min"] for h in hs]), _cat([h["blk_max"] for h in hs]),
        _cat([h["blk_ms"] for h in hs]))
    for ri in np.argsort(-range_ub, kind="stable"):
        ub, lo, hi = (float(range_ub[ri]), int(bounds[ri]),
                      int(bounds[ri + 1]))
        theta = top_s[-1] if top_s.size == k else -np.inf
        if prune and ub * boost_cap < theta - EPS:
            continue  # no doc in this range can beat/tie the k-th score
        got = []
        for e, h in parts:
            g = e.score_range(h, lo, hi)
            if g[0].size:
                got.append(g)
        if not got:
            continue
        d, c, r = (got[0] if len(got) == 1 else
                   (np.concatenate(x) for x in zip(*got)))
        uniq, tot = totals(d, c, r)
        if positions is None:
            top_d, top_s = merge_topk(top_d, top_s, uniq, tot, k)
            continue
        # tot is the exact score before the multiplier, which is at most
        # 1 + PROX_ALPHA: in descending tot order, the first candidate
        # whose bound misses the live k-th score ends the range for every
        # candidate after it
        bound = tot * (1.0 + bm25.PROX_ALPHA)
        for j in np.argsort(-tot, kind="stable"):
            if prune and top_s.size == k and bound[j] < top_s[-1] - EPS:
                break
            score = float(tot[j]) * bm25.proximity_multiplier(
                positions(int(uniq[j]), lo, hi))
            top_d, top_s = merge_topk(top_d, top_s, uniq[j:j + 1],
                                      np.array([score]), k)
    return top_d, top_s


class QueryEngine:
    """Warm local query path over a built index directory.

    preload=True (default) pins the posting-block table in memory at init
    with a term_id -> row-range index — the moral equivalent of the
    reference's in-memory lookup tables + decompressed-block cache
    (DyableRequest/WordDivision.h:133-160, CompBlockCache.h). preload=False
    falls back to per-query parquet reads with term_id predicate pushdown
    (for indexes larger than RAM; at web scale this tier is sharded by
    term_id % N across query servers, each shard preloading its slice)."""

    # plain-BM25 needs only the core columns; the field-tf streams, the
    # field-weighted block max and the position payloads load LAZILY on the
    # first query that uses them, so plain-BM25 never pays for them
    _CORE_COLS = ["term_id", "block_no", "min_doc", "max_doc", "n_docs",
                  "max_score", "doc_gaps", "tfs"]
    _EXTRA_COLS = ["max_wscore", "positions", "title_tfs", "anchor_tfs",
                   "meta_tfs", "alt_tfs"]

    def __init__(self, index_dir: str, preload: bool = True,
                 result_cache: int = 256, decode_cache: int = 16384,
                 shard: tuple[int, int] | None = None):
        """``shard=(i, n)`` makes this engine a TERM SHARD owning only
        term_id % n == i — the reference's per-division word servers
        (DyableRequest/WordDivision.h:133-160). A shard loads 1/n of the
        terms dictionary, 1/n of the posting blocks, and doc stats bounded
        to the doc-id span its blocks actually touch, so no single process
        ever holds the full dictionaries (at 10^12 docs neither table fits
        one server). operators.sharded.ShardedQueryEngine composes shards
        into a search rank-identical to the single engine."""
        import pyarrow.parquet as pq
        self.index_dir = index_dir
        self.shard = shard
        # query-result LRU (the reference's per-server result cache tier,
        # DyableRequest/** — r1 shipped only the decoded-block cache).
        # Keyed by the full scoring configuration; 0 disables.
        self._res_cache = _LRU(result_cache)
        self.result_cache_hits = 0
        t = pq.read_table(f"{index_dir}/terms").to_pandas()
        if shard is not None:
            # in-process slice; a real deployment writes terms/postings
            # bucketed by term_id % n so each server reads only its files
            t = t[t["term_id"].to_numpy() % shard[1] == shard[0]]
        self.term_id = dict(zip(t["term"], t["term_id"]))
        self.term_df = dict(zip(t["term"], t["df"]))
        self._df_by_id = dict(zip(t["term_id"], t["df"]))
        self._assoc = None  # term_id -> [(assoc_term_id, strength)], lazy
        s = pq.read_table(f"{index_dir}/stats").to_pylist()[0]
        self.n_docs, self.avgdl = int(s["n_docs"]), float(s["avgdl"])
        # columnar block store: dict[col -> numpy array] sorted by
        # (term_id, block_no) — a query touches column arrays by row index,
        # never a pandas row object, so per-query cost does not scale with
        # how many payload streams the index carries
        self._blocks: dict[str, np.ndarray] | None = None
        self._extra_loaded = False
        # engine-level decode caches (preload mode only): decoded gap/tf and
        # position arrays survive across queries, so repeated terms skip
        # payload decode. LRU-capped (decoded arrays are ~2-3x the payload).
        self._dec_plain = _LRU(decode_cache)
        self._dec_title = _LRU(decode_cache)
        self._dec_fields = _LRU(decode_cache)
        self._dec_positions = _LRU(decode_cache)
        if preload:
            self._blocks = self._read_block_cols(self._CORE_COLS)
            tids = self._blocks["term_id"]
            starts = np.flatnonzero(np.diff(tids, prepend=-1))
            ends = np.append(starts[1:], len(tids))
            self._ranges = {int(tids[s]): (int(s), int(e))
                            for s, e in zip(starts, ends)}
        # doc stats: full range for the single-engine form; bounded to the
        # doc span this shard's blocks can reference for the sharded form
        doc_bounds = None
        if shard is not None:
            if self._blocks is not None:
                mn, mx = self._blocks["min_doc"], self._blocks["max_doc"]
            else:
                meta = self._read_block_cols(["min_doc", "max_doc"])
                mn, mx = meta["min_doc"], meta["max_doc"]
            doc_bounds = ((int(mn.min()), int(mx.max())) if len(mn)
                          else (0, -1))
        self._load_doc_stats(doc_bounds)

    def _load_doc_stats(self, bounds: tuple[int, int] | None):
        """Dense doc_len/prior/text_fp arrays over [base, hi]; the single
        engine uses base=0 over all docs, a term shard only the span its
        posting blocks reference (predicate-pushdown parquet read)."""
        import pyarrow.parquet as pq
        filters = None
        base, hi = 0, -1
        if bounds is not None:
            base, hi = bounds
            filters = ([("doc_id", ">=", base), ("doc_id", "<=", hi)]
                       if hi >= base else [("doc_id", "<", 0)])
        d = pq.read_table(
            f"{self.index_dir}/docs",
            columns=["doc_id", "doc_len", "prior", "text_fp"],
            filters=filters).to_pandas()
        if bounds is None:
            hi = int(d["doc_id"].max()) if len(d) else -1
        self._doc_base = base
        size = max(hi - base + 1, 0)
        self.doc_len = np.zeros(size, dtype=np.float64)
        self.prior = np.zeros(size, dtype=np.float64)
        # content checksums for the query-time duplicate cut
        self.text_fp = np.zeros(size, dtype=np.int64)
        if len(d):
            at = d["doc_id"].to_numpy() - base
            self.doc_len[at] = d["doc_len"].to_numpy()
            self.prior[at] = d["prior"].to_numpy()
            self.text_fp[at] = d["text_fp"].to_numpy()

    def _read_block_cols(self, cols: list[str]) -> dict:
        """Read a column subset of the postings table into numpy arrays in
        the canonical (term_id, block_no) order. (term_id, block_no) is a
        unique key, so two reads with different column subsets align
        row-for-row."""
        import pyarrow.parquet as pq
        want = ["term_id", "block_no"] + [
            c for c in cols if c not in ("term_id", "block_no")]
        df = pq.read_table(f"{self.index_dir}/postings",
                           columns=want).to_pandas()
        if self.shard is not None:
            i, n = self.shard
            df = df[df["term_id"].to_numpy() % n == i]
        df.sort_values(["term_id", "block_no"], kind="mergesort",
                       inplace=True, ignore_index=True)
        return {c: df[c].to_numpy() for c in df.columns}

    def _ensure_extra(self):
        """Lazily attach the field/position columns to the preloaded store
        on the first field_boost/title_boost/proximity query."""
        if self._blocks is None or self._extra_loaded:
            return
        extra = self._read_block_cols(self._EXTRA_COLS)
        for c in self._EXTRA_COLS:
            self._blocks[c] = extra[c]
        self._extra_loaded = True

    def _load_blocks(self, term_ids: list[int], need_extra: bool):
        """-> (cols, rows, preloaded): ``rows`` index the query's blocks in
        ``cols`` (dict[col -> np.ndarray]); when ``preloaded`` that is the
        pinned block store, so rows are stable cross-query cache keys."""
        if self._blocks is not None:
            if need_extra:
                self._ensure_extra()
            spans = [np.arange(s, e) for s, e in
                     (self._ranges[t] for t in term_ids
                      if t in self._ranges)]
            rows = (np.concatenate(spans) if spans
                    else np.empty(0, dtype=np.int64))
            return self._blocks, rows, True
        import pyarrow.parquet as pq
        cols = self._CORE_COLS + (self._EXTRA_COLS if need_extra else [])
        df = pq.read_table(
            f"{self.index_dir}/postings",
            filters=[("term_id", "in", term_ids)],
            columns=cols).to_pandas()
        # canonical order (preload mode gets it from _read_block_cols): the
        # range sweep needs each term's blocks contiguous and min_doc-sorted
        df.sort_values(["term_id", "block_no"], kind="mergesort",
                       inplace=True, ignore_index=True)
        V = {c: df[c].to_numpy() for c in df.columns}
        return V, np.arange(len(df), dtype=np.int64), False

    def _load_assoc(self) -> dict:
        if self._assoc is None:
            import os
            import pyarrow.parquet as pq
            path = f"{self.index_dir}/associations"
            if not os.path.exists(path):
                raise FileNotFoundError(
                    "expand>0 needs the associations table — run "
                    "plans.associations.build_associations(spark, index_dir)"
                    " once after the build")
            a = pq.read_table(path).to_pandas()
            a.sort_values(["term_id", "strength", "assoc_term_id"],
                          ascending=[True, False, True], inplace=True,
                          kind="mergesort")
            assoc: dict[int, list] = {}
            for tid, atid, s in zip(a["term_id"], a["assoc_term_id"],
                                    a["strength"]):
                assoc.setdefault(int(tid), []).append((int(atid), float(s)))
            self._assoc = assoc
        return self._assoc

    def _expanded_terms(self, orig_tids: list[int], n: int,
                        damp: float) -> dict[int, float]:
        """Top-``n`` associated terms per original term (skipping terms
        already in the query), weight = damp * co-occurrence strength; a
        term reached from several query terms keeps its max weight."""
        assoc = self._load_assoc()
        orig = set(orig_tids)
        out: dict[int, float] = {}
        for t in sorted(orig):
            kept = 0
            for atid, s in assoc.get(t, ()):
                if atid in orig:
                    continue
                if kept >= n:
                    break
                out[atid] = max(out.get(atid, 0.0), damp * s)
                kept += 1
        return out

    def search(self, query: str, k: int = 10, prune: bool = True,
               proximity: bool = False, title_boost: bool = False,
               field_boost: bool = False, spam_cap: bool = False,
               dedup: bool = False, expand: int = 0,
               expand_damp: float = 0.3) -> list[tuple[int, float]]:
        """-> [(doc_id, score)] score desc, doc_id asc; len <= k.

        proximity=True applies the opt-in min-span boost
        (kernel.bm25.proximity_multiplier — re-expressing the reference's
        proximity runs, HitScore.h:139-233) using the positions stored in
        the posting blocks. title_boost=True scores with the weighted tf
        (tf + (W_TITLE-1)*title_tf — the reference's title-hit type bits,
        FileStorage.h:205-274, as BM25F-lite). Both scale the pruning bounds
        by their max factor, staying rank-exact vs the oracle variants.

        field_boost=True scores with the FULL field-weighted tf
        (kernel.bm25.weighted_tf: title/anchor/meta/img-alt streams, the
        reference's hit weights Webpage.h:139-176 — anchor hits keyed to the
        target doc are first-class, so anchor-only docs are retrievable).
        Pruning stays rank-exact via the stored per-block max_wscore bound.
        Supersedes title_boost (mutually exclusive).

        spam_cap=True zeroes documents where any matched term's body tf
        exceeds SPAM_TF_CAP (keyword stuffing, HitScore.h:250-253).
        dedup=True removes checksum-identical lower-ranked documents from
        the ranked list (CompileRankedList.h:206-242).

        expand=N adds each query term's top-N associated terms (the
        reference's query-time association/synonym expansion,
        TextStringServer.h:118-192) as extra scoring terms with weight
        ``expand_damp * strength`` — damped so original terms dominate;
        expand=0 (default) is byte-identical to no expansion. Needs the
        ``associations`` table (plans.associations.build_associations).
        Pruning stays rank-exact: each block's upper bound carries its
        term's weight.

        The ranking is ``wand_topk`` over this engine's one scatter handle,
        the core the sharded engine runs over its term shards. prune=False
        skips neither ranges nor proximity candidates: it scores every
        matching doc exactly and is the reference the pruned path is tested
        against."""
        if title_boost and field_boost:
            raise ValueError("field_boost already includes the title field")
        if k < 1:
            return []
        ck = (query, k, prune, proximity, title_boost, field_boost,
              spam_cap, dedup, expand, expand_damp)
        got = self._res_cache.get(ck)
        if got is not None:
            self.result_cache_hits += 1
            return list(got)
        res = []
        if dedup:
            # over-fetch, cut checksum-dups keeping the best-ranked, truncate
            inner = self.search(query, k=4 * k + 8, prune=prune,
                                proximity=proximity, title_boost=title_boost,
                                field_boost=field_boost, spam_cap=spam_cap,
                                expand=expand, expand_damp=expand_damp)
            res = dedup_cut([d for d, _ in inner], [s for _, s in inner],
                            (self.text_fp[d - self._doc_base]
                             for d, _ in inner), k)
        elif (h := self.open_scatter(query, title_boost, field_boost,
                                     proximity, expand,
                                     expand_damp)) is not None:
            boost_cap = 1.0 + (bm25.PROX_ALPHA if proximity else 0.0)
            if title_boost:
                boost_cap *= bm25.W_TITLE  # contrib(weighted tf) <= W * contrib
            # (field_boost needs no cap: its bound is the weighted max)
            top_d, top_s = wand_topk(
                [(self, h)],
                lambda d, c, r: prior_totals(d, c, self.prior,
                                             self._doc_base,
                                             r if spam_cap else None),
                k, prune, boost_cap,
                partial(self.doc_positions, h) if proximity else None)
            # instrumentation for prune-rate tests
            self.blocks_scored = h["blocks_scored"]
            self.blocks_total = int(h["rows"].size)
            res = [(int(d), float(s)) for d, s in zip(top_d, top_s)]
        self._res_cache[ck] = list(res)
        return res

    def did_you_mean(self, query: str, max_dist: int = 2,
                     topn: int = 1) -> dict[str, list[tuple[str, int, int]]]:
        """Close-spelling suggestions for the query terms NOT in the term
        dictionary: {unknown_term: [(suggestion, dist, df)]} ranked
        (edit distance, df desc, term) — the reference's close-spellings
        tier (DyableRequest/DyableQuery/TextStringServer.h:118-192). Known
        terms are never 'corrected'. Backed by the vectorized in-memory
        Levenshtein over the dictionary the engine already holds
        (operators.spell.SpellIndex, built lazily on first call)."""
        from .spell import SpellIndex
        if getattr(self, "_spell", None) is None:
            self._spell = SpellIndex(self.term_df)
        return {t: self._spell.suggest(t, max_dist, topn)
                for t in sorted(set(tokenize(query)))
                if t not in self.term_id}

    def _query_tids(self, query: str) -> tuple[list[int], dict[int, float]]:
        """(term_ids, {term_id: idf}) for the query terms THIS engine's
        dictionary slice holds."""
        qterms = sorted(set(tokenize(query)))
        tids = [int(self.term_id[t]) for t in qterms if t in self.term_id]
        idfs = {int(self.term_id[t]): float(bm25.idf(int(self.term_df[t]),
                                                     self.n_docs))
                for t in qterms if t in self.term_id}
        return tids, idfs

    def open_scatter(self, query: str, title_boost: bool = False,
                     field_boost: bool = False, proximity: bool = False,
                     expand: int = 0, expand_damp: float = 0.3):
        """The query's scatter handle on this engine (options as in
        ``search``), or None when no query block lands here: block METADATA
        (min_doc/max_doc and the block max times the term's weight — the
        segment bounds the reference ships to the query server,
        SearchHitItems.h:131-254), term ids, idfs and weights, the decode
        caches of the scoring mode (the engine's LRUs when preloaded, else
        per-query dicts) and a ``blocks_scored`` counter."""
        tids, idfs = self._query_tids(query)
        if not tids:
            return None
        weight = {t: 1.0 for t in tids}
        if expand > 0:
            for atid, w in sorted(
                    self._expanded_terms(tids, expand, expand_damp).items()):
                weight[atid] = w
                idfs[atid] = float(bm25.idf(
                    int(self._df_by_id.get(atid, 0)), self.n_docs))
                tids.append(atid)
        V, rows, preloaded = self._load_blocks(
            tids, field_boost or title_boost or proximity)
        if rows.size == 0:
            return None
        term_ids = V["term_id"][rows]
        # block max = max(prior * contrib) (plans/build_index.py); field-
        # weighted queries need the weighted one: body max_score does NOT
        # bound anchor-/meta-only docs (tf=0 rows)
        blk_ms = V["max_wscore" if field_boost else "max_score"][rows]
        if expand > 0:
            # expanded terms contribute damped scores; their block bounds
            # carry the same weight, so pruning stays rank-exact
            blk_ms = blk_ms * np.array([weight[int(t)] for t in term_ids])
        # per-term contiguous runs in rows-coordinates
        t_begin = np.flatnonzero(np.r_[True, term_ids[1:] != term_ids[:-1]])
        if not preloaded:
            dec, pos = {}, {}
        else:
            dec = (self._dec_fields if field_boost else
                   self._dec_title if title_boost else self._dec_plain)
            pos = self._dec_positions
        return {
            "V": V, "rows": rows, "term_ids": term_ids, "idfs": idfs,
            "weight": weight, "t_begin": t_begin,
            "t_end": np.append(t_begin[1:], term_ids.size),
            "blk_min": V["min_doc"][rows], "blk_max": V["max_doc"][rows],
            "blk_ms": blk_ms, "field_boost": field_boost,
            "title_boost": title_boost, "dec": dec, "pos": pos,
            "range": (None, None), "blocks_scored": 0,
        }

    def score_range(self, h: dict, lo: int, hi: int) \
            -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(doc_ids, contribs, raw body tfs) of the handle's blocks over doc
        range [lo, hi): weighted BM25 contributions, NO prior. Rows of body
        tf 0 (anchor-/meta-only hits) match only under field_boost. Each
        block that contributes counts in ``h["blocks_scored"]``."""
        idx = blocks_in_range(h["t_begin"], h["t_end"], h["blk_min"],
                              h["blk_max"], lo, hi)
        h["range"] = (lo, idx)  # the proximity cut reads it per candidate
        dec, rows = h["dec"], h["rows"]
        all_d, all_c, all_r = [], [], []
        for bi in idx:
            g = int(rows[bi])
            ids, tfs, raw = dec.get(g) or self._decode(h, g)
            l = int(np.searchsorted(ids, lo))
            r = int(np.searchsorted(ids, hi))
            if l == r:
                continue
            dids, btfs, braw = ids[l:r], tfs[l:r], raw[l:r]
            if not h["field_boost"]:
                nz = np.flatnonzero(braw > 0)
                if len(nz) == 0:
                    continue
                if len(nz) < len(dids):
                    dids, btfs, braw = dids[nz], btfs[nz], braw[nz]
            all_d.append(dids)
            all_r.append(braw)
            tid = int(h["term_ids"][bi])
            c = bm25.contrib(btfs, self.doc_len[dids - self._doc_base],
                             self.avgdl, h["idfs"][tid])
            w = h["weight"][tid]
            all_c.append(c if w == 1.0 else c * w)
        h["blocks_scored"] += len(all_d)
        if len(all_d) == 1:  # pass a lone block's rows through uncopied
            return all_d[0], all_c[0], all_r[0]
        if not all_d:
            return _NONE
        return (np.concatenate(all_d), np.concatenate(all_c),
                np.concatenate(all_r))

    def _decode(self, h: dict, g: int):
        """-> (doc_ids, scoring tfs, raw body tfs) of block row ``g``,
        decoded into the handle's decode cache."""
        V = h["V"]
        ids = decode_deltas(V["doc_gaps"][g])
        raw = decode_tfs(V["tfs"][g]).astype(np.float64)
        if h["field_boost"]:
            tfs = bm25.weighted_tf(raw, *(
                decode_tfs(V[c][g]).astype(np.float64)
                for c in ("title_tfs", "anchor_tfs", "meta_tfs", "alt_tfs")))
        elif h["title_boost"]:
            ttfs = decode_tfs(V["title_tfs"][g]).astype(np.float64)
            tfs = raw + (bm25.W_TITLE - 1.0) * ttfs
        else:
            tfs = raw
        got = h["dec"][g] = (ids, tfs, raw)
        return got

    def _positions(self, h: dict, g: int, raw_tfs: np.ndarray):
        """-> (positions, per-doc offsets) of block row ``g``; ``raw_tfs``
        is its decoded body tf array (raw tf counts, NOT the title-weighted
        tfs, frame positions)."""
        got = h["pos"].get(g)
        if got is None:
            from ..kernel.codec import decode_positions
            pos = decode_positions(h["V"]["positions"][g], raw_tfs)
            offsets = np.concatenate(([0], np.cumsum(raw_tfs))).astype(
                np.int64)
            got = h["pos"][g] = (pos, offsets)
        return got

    def doc_positions(self, h: dict, doc_id: int, lo: int, hi: int) -> list:
        """Per matched term, the ascending positions of ``doc_id``, a doc
        of range [lo, hi)."""
        rlo, idx = h["range"]
        if rlo != lo:  # not the range score_range read last
            idx = blocks_in_range(h["t_begin"], h["t_end"], h["blk_min"],
                                  h["blk_max"], lo, hi)
        out = []
        for bi in idx:
            g = int(h["rows"][bi])
            ids, _tfs, raw = h["dec"].get(g) or self._decode(h, g)
            j = int(np.searchsorted(ids, doc_id))
            if j < len(ids) and ids[j] == doc_id:
                pos, offs = self._positions(h, g, raw)
                seg = pos[offs[j]:offs[j + 1]]
                if len(seg):  # tf=0 (anchor-only) rows have no positions
                    out.append(seg)
        return out

    def rerank_expected_reward(self, ranked: list[tuple[int, float]],
                               iterations: int | None = None,
                               threshold: float | None = None) \
            -> list[tuple[int, float]]:
        """ExpectedReward re-rank of a search() result IN-PROCESS (reference
        ExpRew.h; the serving form of operators.exprew — r4 verdict Next
        №9): the candidate-candidate subgraph of the index's ``links``
        table is fetched by src-predicate pushdown (candidate-sized, never
        a corpus scan) and the identical recurrence runs in numpy
        (operators.exprew.expected_reward_numpy, pinned equal to the
        relational form by pytest). Returns the surviving candidates as
        [(doc_id, trav_prob)] in final rank order; candidates with no
        candidate-candidate link are unaffected by the walk and append
        after the ranked survivors in their original order (the reference
        re-ranks only its active doc buffer, ExpRew.h:198-216)."""
        from .exprew import (ITERATIONS, RECURRENT_THRESHOLD,
                             expected_reward_numpy)
        import pyarrow.parquet as pq
        if not ranked:
            return []
        cand = [int(d) for d, _ in ranked]
        t = pq.read_table(f"{self.index_dir}/links",
                          filters=[("src", "in", cand)],
                          columns=["src", "dst", "weight"])
        res = expected_reward_numpy(
            cand, t["src"].to_numpy(), t["dst"].to_numpy(),
            t["weight"].to_numpy(),
            iterations=ITERATIONS if iterations is None else iterations,
            threshold=(RECURRENT_THRESHOLD if threshold is None
                       else threshold))
        active = {d for d, _, _, _ in res}
        out = [(d, tp) for d, tp, rec, _ in res if not rec]
        out += [(d, s) for d, s in ranked if d not in active]
        return out

    def memory_bytes(self) -> int:
        """Resident bytes of everything this engine pinned at init: doc-stat
        arrays, term dictionaries, and (preload mode) the block store
        including actual payload bytes — the number the shard-memory test
        checks (each term shard must hold a fraction of the full engine)."""
        total = self.doc_len.nbytes + self.prior.nbytes + self.text_fp.nbytes
        total += sum(len(t) + 24 for t in self.term_id)       # term -> id
        total += sum(len(t) + 24 for t in self.term_df)       # term -> df
        total += 48 * len(self._df_by_id)
        if self._blocks is not None:
            for arr in self._blocks.values():
                if arr.dtype == object:  # payload columns hold bytes objects
                    total += int(sum(len(x) for x in arr)) + 8 * len(arr)
                else:
                    total += arr.nbytes
        return int(total)

    def snippets(self, doc_ids: list[int]) -> dict[int, str]:
        """Display text per doc: the FIRST excerpt record, falling back to
        the title when the document is too short to carry excerpts — the
        reference's titles->excerpts retrieval fallback
        (SearchHitItems.h:449-474). `extracted` is url-keyed (r3 layout), so
        the result ids resolve to urls through `docs` first; both reads are
        predicate-pushdown point lookups over result docs only, never a
        corpus scan."""
        rows = _fetch_doc_texts(self.index_dir, doc_ids,
                                ("title", "excerpts"))
        out = {}
        for did, row in rows.items():
            ex = row["excerpts"] or []
            out[did] = ex[0] if ex else (row["title"] or "")
        return out

    def summaries(self, doc_ids: list[int], query: str,
                  max_excerpts: int = 3) -> dict[int, list[str]]:
        """Query-aware MULTI-excerpt summaries per result doc — the
        reference's document-summary compilation with overlap removal
        (DocumentQuery/CompileSummary.h + SummaryOverlap.h; semantics in
        operators/summary.py). Docs where no non-stopword query term
        occurs fall back to the snippets() single-excerpt/title display
        text. Candidate-sized: runs over the top-k result docs, text
        fetched by predicate pushdown."""
        from .summary import summarize
        rows = _fetch_doc_texts(self.index_dir, doc_ids, ("title", "text"))
        out = {}
        fallback = None
        for did, row in rows.items():
            got = summarize(row["text"] or "", query,
                            max_excerpts=max_excerpts)
            if not got:
                if fallback is None:
                    fallback = self.snippets(list(doc_ids))
                got = [fallback[did]] if fallback.get(did) else []
            out[did] = got
        return out


def _fetch_doc_texts(index_dir: str, doc_ids: list[int],
                     columns: tuple[str, ...]) -> dict[int, dict]:
    """Per-doc rows of the url-keyed ``extracted`` table for result docs
    only — both reads are predicate-pushdown point lookups, never a corpus
    scan (shared by snippets() and summaries())."""
    import pyarrow.parquet as pq
    if not doc_ids:
        return {}
    urls = pq.read_table(f"{index_dir}/docs",
                         filters=[("doc_id", "in", list(doc_ids))],
                         columns=["doc_id", "url"]).to_pylist()
    by_url = {r["url"]: int(r["doc_id"]) for r in urls}
    tbl = pq.read_table(f"{index_dir}/extracted",
                        filters=[("url", "in", list(by_url))],
                        columns=["url"] + list(columns))
    return {by_url[row["url"]]: row for row in tbl.to_pylist()}


def bm25_topk_df(spark, index_dir: str, query: str, k: int = 10):
    """Distributed BM25 top-k as a declarative DataFrame plan (no WAND): the
    posting scan is pruned to the query's term_ids (parquet predicate
    pushdown), blocks decode in one Arrow pass, and the global top-k is a
    TakeOrderedAndProject. Rank-identical to QueryEngine.search."""
    import pandas as pd
    from pyspark.sql import functions as F

    qterms = sorted(set(tokenize(query)))
    terms = spark.read.parquet(f"{index_dir}/terms").filter(
        F.col("term").isin(qterms)).select("term", "term_id", "df").collect()
    if not terms:
        return spark.createDataFrame([], "doc_id long, score double")
    s = spark.read.parquet(f"{index_dir}/stats").collect()[0]
    n_docs, avgdl = int(s["n_docs"]), float(s["avgdl"])
    idf_by_tid = {int(r["term_id"]): float(bm25.idf(int(r["df"]), n_docs))
                  for r in terms}
    tids = list(idf_by_tid)
    idf_df = spark.createDataFrame(
        [(t, v) for t, v in idf_by_tid.items()], "term_id long, idf double")

    blocks = (spark.read.parquet(f"{index_dir}/postings")
              .filter(F.col("term_id").isin(tids))
              .select("term_id", "doc_gaps", "tfs"))

    def decode(iterator):
        for pdf in iterator:
            outs = []
            for tid, gaps, tfs in zip(pdf["term_id"], pdf["doc_gaps"],
                                      pdf["tfs"]):
                ids = decode_deltas(gaps)
                tf = decode_tfs(tfs).astype(np.int64)
                outs.append(pd.DataFrame(
                    {"term_id": int(tid), "doc_id": ids, "tf": tf}))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    posts = (blocks.mapInPandas(
        decode, schema="term_id long, doc_id long, tf long")
        .filter(F.col("tf") > 0))  # anchor-/meta-only rows: not body matches
    docs = spark.read.parquet(f"{index_dir}/docs").select(
        "doc_id", "doc_len", "prior")

    scored = (
        posts.join(F.broadcast(idf_df), "term_id").join(docs, "doc_id")
        .withColumn("contrib", F.col("idf") * F.col("tf")
                    * F.lit(bm25.K1 + 1.0)
                    / (F.col("tf") + F.lit(bm25.K1)
                       * (F.lit(1.0 - bm25.B)
                          + F.lit(bm25.B) * F.col("doc_len") / F.lit(avgdl))))
        .groupBy("doc_id", "prior")
        .agg(F.sum("contrib").alias("c"))
        .select("doc_id", (F.col("prior") * F.col("c")).alias("score")))
    return scored.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(k)

