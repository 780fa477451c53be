"""Index-equivalence tests: the Spark-built index decodes to exactly the
oracle's postings, dictionaries, doc stats, link weights and priors.

Mirrors the reference's serial-oracle test pattern (TestHitList.h,
TestIndexing.h, TestSortHitList.h sortedness invariant, TestPulseRank.h
1e-5 tolerance — we hold PageRank to 1e-9 since both sides are float64
power iteration)."""

import numpy as np
import pytest

from hadoopsearchengine_spark.kernel.codec import (
    decode_deltas, decode_positions, decode_tfs)
from tests import codec_reference as ref


@pytest.fixture(scope="module")
def tables(spark, index_dir):
    return {
        "docs": spark.read.parquet(f"{index_dir}/docs").toPandas(),
        "terms": spark.read.parquet(f"{index_dir}/terms").toPandas(),
        "postings": spark.read.parquet(f"{index_dir}/postings").toPandas(),
        "links": spark.read.parquet(f"{index_dir}/links").toPandas(),
        "extracted": spark.read.parquet(f"{index_dir}/extracted").toPandas(),
        "stats": spark.read.parquet(f"{index_dir}/stats").toPandas(),
    }


def test_extraction_byte_identical(tables, spark, pages_path, oracle_index):
    """The per-row invariant from BASELINE.json input_hint: extracted text
    byte-identical to the text the corpus table carries, per url."""
    pages = spark.read.parquet(pages_path).select("url", "text").toPandas()
    got = tables["extracted"].set_index("url")["text"]
    want = pages.set_index("url")["text"]
    assert len(got) == len(want)
    for url in want.index:
        assert got[url] == want[url], url


def test_doc_ids_and_lengths(tables, oracle_index):
    docs = tables["docs"].sort_values("doc_id")
    assert list(docs["url"]) == oracle_index.urls
    assert list(docs["doc_id"]) == list(range(oracle_index.n_docs))
    np.testing.assert_array_equal(
        docs["doc_len"].to_numpy(), oracle_index.doc_len)


def test_term_dictionary(tables, oracle_index):
    terms = tables["terms"].sort_values("term_id")
    assert list(terms["term"]) == oracle_index.terms
    assert list(terms["term_id"]) == list(range(len(oracle_index.terms)))
    for _, r in terms.iterrows():
        assert r["df"] == oracle_index.df[r["term"]], r["term"]
        assert r["cf"] == oracle_index.cf[r["term"]], r["term"]


def test_stats(tables, oracle_index):
    s = tables["stats"].iloc[0]
    assert int(s["n_docs"]) == oracle_index.n_docs
    assert abs(float(s["avgdl"]) - oracle_index.avgdl) < 1e-9


def test_postings_decode_to_oracle(tables, oracle_index):
    """Every term's blocks concatenate to exactly the oracle posting list
    (doc ids, tfs, positions), doc-sorted — the TestSortHitList invariant
    plus full content equality. Body rows are the tf>0 entries; tf=0 rows
    are anchor-/meta-only hits checked in test_field_streams_decode."""
    terms = tables["terms"]
    tid_to_term = dict(zip(terms["term_id"], terms["term"]))
    blocks = tables["postings"].sort_values(["term_id", "block_no"])
    seen_terms = set()
    for term_id, grp in blocks.groupby("term_id"):
        term = tid_to_term[term_id]
        seen_terms.add(term)
        ids, tfs, poss = [], [], []
        prev_max = -1
        for _, b in grp.iterrows():
            bids = decode_deltas(b["doc_gaps"])
            btfs = decode_tfs(b["tfs"]).astype(np.int64)
            bpos = decode_positions(b["positions"], btfs)
            assert int(b["min_doc"]) == bids[0]
            assert int(b["max_doc"]) == bids[-1]
            assert int(b["n_docs"]) == len(bids)
            assert bids[0] > prev_max  # blocks strictly ordered, no overlap
            prev_max = int(bids[-1])
            assert np.all(np.diff(bids) > 0)  # sortedness invariant
            ids.append(bids)
            tfs.append(btfs)
            poss.append(bpos)
        ids = np.concatenate(ids)
        tfs = np.concatenate(tfs)
        poss = np.concatenate(poss)
        body = tfs > 0
        want = oracle_index.postings.get(term, [])
        want_ids = np.array([d for d, _, _ in want], dtype=np.int64)
        want_tfs = np.array([t for _, t, _ in want], dtype=np.int64)
        want_pos = (np.concatenate([p for _, _, p in want])
                    if want else np.array([], dtype=np.int64))
        np.testing.assert_array_equal(ids[body], want_ids, err_msg=term)
        np.testing.assert_array_equal(tfs[body], want_tfs, err_msg=term)
        np.testing.assert_array_equal(poss, want_pos, err_msg=term)
    assert seen_terms == set(oracle_index.terms)


def test_blocks_decode_identical_to_reference(tables):
    """Every block's doc-gap, tf, field-tf and position streams decode to
    the same arrays with the shipped decoders as with the reference ones
    (tests/codec_reference.py), on real builder output of both codecs."""
    p = tables["postings"]
    tf_cols = ("tfs", "title_tfs", "anchor_tfs", "meta_tfs", "alt_tfs")
    tags = set()
    for row in zip(p["doc_gaps"], p["positions"], *(p[c] for c in tf_cols)):
        gaps, positions, tf_bufs = row[0], row[1], row[2:]
        for got, want in [(decode_deltas(gaps), ref.decode_deltas(gaps))] + [
                (decode_tfs(buf), ref.decode_tfs(buf)) for buf in tf_bufs]:
            assert got.dtype == want.dtype
            np.testing.assert_array_equal(got, want)
        counts = ref.decode_tfs(tf_bufs[0]).astype(np.int64)
        np.testing.assert_array_equal(
            decode_positions(positions, counts),
            ref.decode_positions(positions, counts))
        tags.update(buf[0] for buf in row if buf)
    assert tags == {0x42, 0x56}, "index should hold bitpack and varint streams"


def test_field_streams_decode(tables, oracle_index):
    """title/anchor/meta/img-alt per-posting streams decode to exactly the
    oracle's field tf maps (anchor hits keyed to the TARGET doc,
    CompileHitList.h:316-319; weight fields Webpage.h:139-176)."""
    terms = tables["terms"]
    tid_to_term = dict(zip(terms["term_id"], terms["term"]))
    blocks = tables["postings"].sort_values(["term_id", "block_no"])
    got = {f: {} for f in ("title", "anchor", "meta", "alt")}
    for _, b in blocks.iterrows():
        term = tid_to_term[b["term_id"]]
        bids = decode_deltas(b["doc_gaps"])
        for f, col in (("title", "title_tfs"), ("anchor", "anchor_tfs"),
                       ("meta", "meta_tfs"), ("alt", "alt_tfs")):
            vals = decode_tfs(b[col]).astype(np.int64)
            for did, v in zip(bids, vals):
                if v:
                    got[f][(term, int(did))] = int(v)
    assert got["title"] == oracle_index.title_tf
    assert got["anchor"] == oracle_index.anchor_tf
    assert got["meta"] == oracle_index.meta_tf
    assert got["alt"] == oracle_index.alt_tf


def test_block_max_scores(tables, oracle_index):
    """max_score = max over block docs of prior * BM25 contrib (the WAND
    upper bound), recomputed independently here."""
    from hadoopsearchengine_spark.kernel import bm25
    terms = tables["terms"]
    tid_to = dict(zip(terms["term_id"], zip(terms["term"], terms["df"])))
    oi = oracle_index
    for _, b in tables["postings"].sample(
            n=min(300, len(tables["postings"])), random_state=1).iterrows():
        term, df = tid_to[b["term_id"]]
        bids = decode_deltas(b["doc_gaps"])
        btfs = decode_tfs(b["tfs"]).astype(np.int64)
        t_idf = float(bm25.idf(int(df), oi.n_docs))
        c = bm25.contrib(btfs, oi.doc_len[bids].astype(np.float64),
                         oi.avgdl, t_idf)
        want = float((oi.prior[bids] * c).max())
        assert abs(b["max_score"] - want) < 1e-9


def test_head_term_salting_produced_multiple_groups(tables):
    """Head terms (df > threshold) must have range-bucketed blocks: at least
    one term with several blocks whose boundaries align to bucket spans."""
    terms = tables["terms"]
    head = terms[terms["df"] > 200]
    assert len(head) > 0, "fixture should contain head terms (stopwords)"
    blocks = tables["postings"]
    for _, t in head.head(3).iterrows():
        grp = blocks[blocks["term_id"] == t["term_id"]]
        assert len(grp) >= 2  # salted + block_docs=64 → multiple blocks


def test_links_match_oracle(tables, oracle_index):
    got = {(int(r["src"]), int(r["dst"])): float(r["weight"])
           for _, r in tables["links"].iterrows()}
    want = oracle_index.links
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-12, k


def test_priors_match_oracle(tables, oracle_index):
    docs = tables["docs"].sort_values("doc_id")
    np.testing.assert_allclose(
        docs["prior"].to_numpy(), oracle_index.prior, rtol=0, atol=1e-9)


def test_head_term_salting_bounds_group_sizes(tables):
    """Skew evidence: with range-bucket salting, no (term,bucket) group that
    fed applyInPandas can exceed ~df/n_buckets for head terms — the largest
    contiguous block run per head term must span multiple buckets rather
    than one giant group (the reference ignores skew entirely, SURVEY §4)."""
    terms = tables["terms"]
    blocks = tables["postings"]
    head = terms[terms["df"] > 200]
    assert len(head) > 0
    n_buckets = 4  # conftest knob
    for _, t in head.iterrows():
        grp = blocks[blocks["term_id"] == t["term_id"]]
        # each bucket's run was cut into ceil(bucket_df/block_docs) blocks of
        # <= block_docs(=64) docs; a single unsalted group would emit runs of
        # consecutive full blocks ending in ONE partial block — salted builds
        # show >= 2 partial blocks (one per non-empty bucket) for terms with
        # df spread over the doc space
        partial = (grp["n_docs"] < 64).sum()
        assert partial >= 2, (t["term"], int(t["df"]), len(grp))


def test_doc_terms_kernel_matches_declarative_groupby(spark, index_dir):
    """The map-only Arrow kernel (zero-shuffle doc_terms) is row-for-row
    identical to the declarative formulation it replaced: union of the four
    exploded field streams + groupBy(doc_id, term). The kernel is the scale
    path (doc-local grouping must not pay an exchange); the groupBy shape
    stays here as the Catalyst-checked oracle of its semantics."""
    from pyspark.sql import functions as F

    from hadoopsearchengine_spark.functions.text import tokens_col
    from hadoopsearchengine_spark.plans.build_index import (
        DOC_TERMS_SCHEMA, _doc_terms_grouped_arrow)

    # extracted is url-keyed (r3); attach doc ids the way the build does
    ex = spark.read.parquet(f"{index_dir}/extracted").join(
        spark.read.parquet(f"{index_dir}/docs_ids"), "url")

    def chunk_tokens(col):
        return F.flatten(F.transform(col, lambda c: tokens_col(c)))

    def field_rows(col_expr, tag, with_pos=False):
        if with_pos:
            return ex.select("doc_id",
                             F.posexplode(col_expr).alias("pos", "term"),
                             F.lit(tag).alias("fld"))
        return ex.select("doc_id", F.explode(col_expr).alias("term"),
                         F.lit(None).cast("int").alias("pos"),
                         F.lit(tag).alias("fld"))

    rows = (field_rows(tokens_col(F.col("text")), "b", with_pos=True)
            .select("doc_id", "term", "pos", "fld")
            .unionByName(field_rows(tokens_col(F.col("title")), "t"))
            .unionByName(field_rows(chunk_tokens(F.col("img_alts")), "a"))
            .unionByName(field_rows(chunk_tokens(F.col("meta_keywords")),
                                    "m")))
    oracle = (rows.groupBy("doc_id", "term")
              .agg(F.count(F.when(F.col("fld") == "b", 1))
                   .cast("int").alias("tf"),
                   F.sort_array(F.collect_list(
                       F.when(F.col("fld") == "b", F.col("pos"))))
                   .alias("positions"),
                   F.count(F.when(F.col("fld") == "t", 1))
                   .cast("int").alias("title_tf"),
                   F.count(F.when(F.col("fld") == "m", 1))
                   .cast("int").alias("meta_tf"),
                   F.count(F.when(F.col("fld") == "a", 1))
                   .cast("int").alias("alt_tf")))
    kernel = (ex.select("doc_id",
                        tokens_col(F.col("text")).alias("b"),
                        tokens_col(F.col("title")).alias("t"),
                        chunk_tokens(F.col("img_alts")).alias("a"),
                        chunk_tokens(F.col("meta_keywords")).alias("m"))
              .mapInArrow(_doc_terms_grouped_arrow, schema=DOC_TERMS_SCHEMA))

    def rows_of(df):
        return sorted((r.doc_id, r.term, r.tf, tuple(r.positions),
                       r.title_tf, r.meta_tf, r.alt_tf)
                      for r in df.collect())

    got, want = rows_of(kernel), rows_of(oracle)
    assert len(got) > 0
    assert got == want
