"""Sharded serving topology (r3 verdict Missing №1): term-shard engines +
scatter-gather must be rank-identical to the single engine, and each shard
must hold a strict fraction of the full engine's memory."""

from __future__ import annotations

import numpy as np
import pytest

from hadoopsearchengine_spark.operators.sharded import ShardedQueryEngine
from hadoopsearchengine_spark.operators.wand import QueryEngine
from hadoopsearchengine_spark.sources.pages import REFERENCE_QUERIES

FUZZ = ["climate and energy news", "science theory history",
        "market economy growth rate", "health medicine", "nosuchterm",
        "the of and", "global global global warming", ""]


@pytest.fixture(scope="module")
def single(index_dir):
    return QueryEngine(index_dir)


@pytest.fixture(scope="module")
def sharded(index_dir):
    return ShardedQueryEngine(index_dir, n_shards=4)


def test_sharded_rank_identical(single, sharded):
    for q in REFERENCE_QUERIES + FUZZ:
        want = single.search(q, k=10)
        got = sharded.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        np.testing.assert_allclose([s for _, s in got],
                                   [s for _, s in want], rtol=1e-9)


def test_sharded_dedup_matches(single, sharded):
    for q in REFERENCE_QUERIES[:4]:
        want = single.search(q, k=10, dedup=True)
        got = sharded.search(q, k=10, dedup=True)
        assert [d for d, _ in got] == [d for d, _ in want], q


def test_shard_term_partition(sharded):
    """Every term lands in exactly the shard its id hashes to; the union
    covers the full dictionary."""
    full = QueryEngine(sharded.index_dir).term_id
    seen = {}
    for i, s in enumerate(sharded.shards):
        for term, tid in s.term_id.items():
            assert int(tid) % sharded.n_shards == i, term
            seen[term] = tid
    assert seen == full


def test_shard_memory_fraction(single, sharded):
    """The point of sharding: no shard holds the whole engine. Each term
    shard must stay under half the single engine's resident bytes (blocks
    scale ~1/n; doc stats are span-bounded)."""
    full = single.memory_bytes()
    per = sharded.memory_bytes_per_shard()
    assert len(per) == 4
    for b in per:
        assert b < full / 2, (b, full)
    # and the shards together carry the block store's payload (sanity that
    # memory_bytes is measuring real content, not a trivial zero)
    assert sum(per) > full / 4


def test_sharded_empty_and_unknown(sharded):
    assert sharded.search("") == []
    assert sharded.search("zzzzqqqq") == []


def test_shard_nonpreload_matches(index_dir, single):
    """shard + preload=False: per-query parquet reads with the shard's term
    filter — same ranking, exhaustive and pruned. Non-preloaded handles
    decode into per-query dicts: no entry lands in a shard's cross-query
    decode cache, where no later query could ever hit it."""
    sh = ShardedQueryEngine(index_dir, n_shards=3, preload=False)
    for q in REFERENCE_QUERIES[:4]:
        want = single.search(q, k=10)
        for prune in (False, True):
            got = sh.search(q, k=10, prune=prune)
            assert [d for d, _ in got] == [d for d, _ in want], (q, prune)
            np.testing.assert_allclose([s for _, s in got],
                                       [s for _, s in want], rtol=1e-9)
    assert [len(s._dec_plain) for s in sh.shards] == [0, 0, 0]


# -- r5: doc-range-partitioned gather tier + gather-fed-theta pruning ------


@pytest.fixture(scope="module")
def doc_sharded(index_dir):
    """4 term shards x 3 doc shards — the full two-tier topology."""
    return ShardedQueryEngine(index_dir, n_shards=4, n_doc_shards=3)


def test_doc_sharded_rank_identical(single, doc_sharded):
    """(term-sharded x doc-sharded) search must be rank-identical to the
    single engine on the reference suite + fuzz (r4 verdict Next №3)."""
    for q in REFERENCE_QUERIES + FUZZ:
        want = single.search(q, k=10)
        got = doc_sharded.search(q, k=10)
        assert [d for d, _ in got] == [d for d, _ in want], q
        np.testing.assert_allclose([s for _, s in got],
                                   [s for _, s in want], rtol=1e-9)


def test_doc_sharded_dedup_matches(single, doc_sharded):
    for q in REFERENCE_QUERIES[:4]:
        assert doc_sharded.search(q, k=10, dedup=True) == \
            single.search(q, k=10, dedup=True), q


def test_doc_shards_partition_corpus(single, doc_sharded):
    """Doc shards tile the id space with no gaps/overlap, each holding only
    its slice — NO process array is sized by the full corpus."""
    n_docs = len(single.prior)
    edges = doc_sharded.doc_edges
    assert edges[0] == 0 and edges[-1] == n_docs
    total = 0
    for sh in doc_sharded.doc_shards:
        assert len(sh.prior) == sh.hi - sh.lo < n_docs
        np.testing.assert_array_equal(sh.prior,
                                      single.prior[sh.lo:sh.hi])
        np.testing.assert_array_equal(sh.text_fp,
                                      single.text_fp[sh.lo:sh.hi])
        total += len(sh.prior)
    assert total == n_docs
    # and the memory accounting reflects the split
    per = doc_sharded.memory_bytes_per_doc_shard()
    assert len(per) == 3 and all(b > 0 for b in per)


def test_pruned_scatter_rank_identical(single, doc_sharded, sharded):
    """Term-sharded search, pruned or not, over 1 and 3 doc shards, with
    and without dedup, must match the single engine's exhaustive
    (prune=False) ranking (r4 verdict Next №4)."""
    for q in REFERENCE_QUERIES + FUZZ:
        for k in (1, 3, 10, 100):
            for dedup in (False, True):
                want = single.search(q, k=k, dedup=dedup, prune=False)
                for eng in (sharded, doc_sharded):
                    for prune in (True, False):
                        got = eng.search(q, k=k, dedup=dedup, prune=prune)
                        case = (q, k, dedup, eng.n_doc_shards, prune)
                        assert [d for d, _ in got] == \
                            [d for d, _ in want], case
                        np.testing.assert_allclose(
                            [s for _, s in got], [s for _, s in want],
                            rtol=1e-9, err_msg=str(case))


def test_pruned_scatter_skips_blocks(index_dir):
    """The point of the theta feed: per-shard decoded-block counts drop vs
    exhaustive scoring on a prunable query (mirrors the single engine's
    test_prune_skips_blocks). Result caches off so instrumentation is
    never stale."""
    from hadoopsearchengine_spark.operators.wand import QueryEngine
    sq = ShardedQueryEngine(index_dir, n_shards=4, n_doc_shards=2,
                            result_cache=0, decode_cache=0)
    eng = QueryEngine(index_dir, result_cache=0)
    q = "cold war"
    eng.search(q, k=10, prune=False)
    exhaustive_blocks = eng.blocks_scored
    sq.search(q, k=10, prune=True)
    pruned_total = sum(sq.last_blocks_scored)
    assert 0 < pruned_total < exhaustive_blocks
    # sanity: the prune never scores MORE than the single-engine WAND
    eng.search(q, k=10, prune=True)
    assert pruned_total <= eng.blocks_scored
