"""Physical-plan audits: the optimizations we rely on at 100 TB must be
visible in .explain() output — predicate pushdown to parquet, column pruning,
broadcast joins for small dims, and no row-at-a-time Python in JVM-only ops.
(SURVEY §4: Catalyst gives these free ONLY if the plan stays declarative.)"""

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    """Physical plan only (the logical plans list the full relation schema,
    which would false-positive column-pruning checks)."""
    return df._jdf.queryExecution().executedPlan().toString()


SF = "/root/testdata/sf0.001"


def test_posting_scan_pushes_term_filter(spark, index_dir):
    from hadoopsearchengine_spark.operators.wand import bm25_topk_df
    df = bm25_topk_df(spark, index_dir, "cold war", k=10)
    plan = _plan(df)
    assert "PushedFilters" in plan
    # the term_id IN (...) filter must reach the parquet scan
    assert "term_id" in plan.split("PushedFilters")[1][:400], plan[:2000]


def test_docs_scan_prunes_columns(spark, index_dir):
    df = spark.read.parquet(f"{index_dir}/docs").select("doc_id", "prior")
    plan = _plan(df)
    read_schema = plan.split("ReadSchema")[1][:200]
    assert "doc_len" not in read_schema
    assert "url" not in read_schema


def test_small_dim_join_broadcasts(spark):
    import __spark_entry__ as E
    plan = _plan(E.queries()["rel_hash_join"](spark, SF))
    assert "BroadcastHashJoin" in plan


def test_jvm_ops_have_no_python_eval(spark):
    """Ops claimed JVM-only must not contain Python evals in the plan."""
    import __spark_entry__ as E
    qs = E.queries()
    jvm_only = ["rel_tpch_q1", "rel_topk_per_group", "rel_merge_set",
                "txt_token_counts", "txt_dedup_exact", "txt_langid",
                "txt_quality", "txt_minhash_sig", "txt_simhash",
                "sim_ann_cosine", "txt_ngram_jaccard", "txt_cooccur",
                "txt_anchor_terms", "txt_keywords_phrases", "evt_asof_join"]
    for name in jvm_only:
        plan = _plan(qs[name](spark, SF))
        for marker in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas",
                       "MapInPandas"):
            assert marker not in plan, (name, marker)


def test_no_cartesian_in_pair_ops(spark):
    """The r1 O(n^2) shapes (VERDICT): sim_neardup must run as the blocked
    tile join and txt_cooccur as the JVM windowed-pair explode — neither may
    contain a CartesianProduct/BroadcastNestedLoop node, and txt_cooccur
    must contain no join at all."""
    import __spark_entry__ as E
    qs = E.queries()
    for name in ("sim_neardup", "txt_cooccur"):
        plan = _plan(qs[name](spark, SF))
        for marker in ("CartesianProduct", "BroadcastNestedLoop"):
            assert marker not in plan, (name, marker)
    assert "Join" not in _plan(qs["txt_cooccur"](spark, SF))


def test_winnow_fp_is_map_only(spark):
    """Winnowing is doc-local; the r3 plan must carry NO exchange (the r2
    shape shuffled one md5 row per corpus character through a doc_id
    window + distinct) and no Python eval."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["txt_winnow_fp"](spark, SF))
    for marker in ("Exchange", "Window", "BatchEvalPython", "ArrowEvalPython",
                   "MapInPandas"):
        assert marker not in plan, (marker, plan[:2000])


def test_repetition_is_map_only(spark):
    """Repetition signals are doc-local; the r3 Arrow-kernel plan must carry
    NO exchange (the r2 union+groupBy shuffled ~3L gram rows per doc)."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["txt_repetition"](spark, SF))
    for marker in ("Exchange", "Window"):
        assert marker not in plan, (marker, plan[:2000])


def test_pipeline_ops_plan_shapes(spark):
    """The r3 pipeline passes must carry the plans their docstrings claim:
    txt_pii_scrub is pure row-local JVM regexp (no exchange, no Python);
    txt_decontaminate broadcasts the probe set onto one map-only corpus
    scan (a BroadcastHashJoin-family join, no shuffle of the corpus side,
    no Python); txt_line_dedup broadcasts the boilerplate list back (its
    only exchanges belong to the chunk-count aggregate + final per-doc
    groupBy — the doc-side join must NOT be a shuffle join)."""
    import __spark_entry__ as E
    qs = E.queries()
    for op in ("txt_pii_scrub", "txt_bpe_token_count", "txt_c4_rules",
               "txt_gopher_rules"):
        plan = _plan(qs[op](spark, SF))
        for marker in ("Exchange", "BatchEvalPython", "ArrowEvalPython",
                       "MapInPandas", "Join"):
            assert marker not in plan, (op, marker, plan[:2000])
    plan = _plan(qs["txt_decontaminate"](spark, SF))
    assert "Broadcast" in plan
    for marker in ("SortMergeJoin", "ShuffledHashJoin", "BatchEvalPython",
                   "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, (marker, plan[:2000])
    plan = _plan(qs["txt_line_dedup"](spark, SF))
    assert "BroadcastHashJoin" in plan
    for marker in ("SortMergeJoin", "ShuffledHashJoin"):
        assert marker not in plan, (marker, plan[:2000])


def test_spell_dictionary_not_shuffled_by_suggest(spark):
    """spell_suggest_df: the qterm set is broadcast; the dictionary side of
    the suggestion join must not go through a shuffle join (its own
    df-aggregation exchange is expected and allowed)."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["txt_spell_suggest"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    for marker in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"):
        assert marker not in plan, (marker, plan[:2000])


def test_wholestage_codegen_present(spark):
    import __spark_entry__ as E
    df = E.queries()["rel_tpch_q1"](spark, SF)
    df.collect()  # AQE: codegen markers appear in the finalized plan
    plan = _plan(df)
    # codegen'd operators print with a *(n) prefix
    assert "WholeStageCodegen" in plan or "*(" in plan, plan[:1500]


def test_filter_pushdown_on_source_tables(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    df = (li.filter(F.col("l_shipdate") <= "1996-01-01")
          .select("l_orderkey", "l_quantity"))
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = plan.split("PushedFilters")[1][:300]
    assert "l_shipdate" in pushed
    read_schema = plan.split("ReadSchema")[1][:300]
    assert "l_extendedprice" not in read_schema


def test_r4_ops_plan_shapes(spark):
    """Round-4 plan claims: sim_semdedup's pair generation must be a
    grouped GEMM over ONE hash shuffle on cell — no join node of any kind
    feeding the pair stage (the q_sim_semdedup composite then feeds
    neardup_groups, whose per-round joins are expected);
    graph_expected_reward's candidate restriction must be broadcast joins
    (the candidate set is query-sized) with no cartesian."""
    from pyspark.sql import functions as F
    from hadoopsearchengine_spark.functions.similarity import semdedup_pairs
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = _plan(semdedup_pairs(emb, threshold=0.4, n_cells=4,
                                kmeans_iters=2))
    for marker in ("CartesianProduct", "BroadcastNestedLoopJoin",
                   "SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin"):
        assert marker not in plan, (marker, plan[:2000])
    assert "FlatMapGroupsInPandas" in plan or "MapInPandas" in plan

    # the walk is one grouped map over the candidate-restricted edges, so
    # the returned frame's plan holds the scale-relevant joins directly
    from hadoopsearchengine_spark.operators.exprew import expected_reward
    import __spark_entry__ as E
    cand = spark.createDataFrame([(i,) for i in range(8)], "doc_id long")
    links = spark.createDataFrame([(i, i + 1, 1.0) for i in range(7)],
                                  "src long, dst long, weight double")
    out = expected_reward(cand, links, iterations=1)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan     # candidate restriction broadcast
    assert "FlatMapGroupsInPandas" in plan
    assert "CartesianProduct" not in plan
    plan = _plan(E.queries()["graph_expected_reward"](spark, SF))
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_substr_dedup_plan_no_cartesian(spark):
    """txt_substr_dedup (ExactSubstr): window-count aggregation + same-key
    join-back — equi-joins only, never a cartesian/BNLJ (at corpus scale
    the occ side is not broadcastable, so the shape must stay an equi-join
    Catalyst can shuffle on h)."""
    import __spark_entry__ as E
    plan = _plan(E.queries()["txt_substr_dedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan            # map-side combined count


def test_r5_second_wave_plan_shapes(spark, tmp_path):
    """Second-wave plan claims: (a) the equality-delete merge-on-read must
    apply EVERY delete structure broadcast (the corpus side never
    shuffles): position anti-join, per-group equality joins, and the
    path->seq attach are all BroadcastHashJoins; (b) txt_collocations_pmi
    is two map-side-combined count aggregates + joins with NO cartesian
    and no Python eval in the plan."""
    from hadoopsearchengine_spark.sources.iceberg import (
        write_equality_deletes, write_iceberg_table, write_position_deletes,
        iceberg_data_files, read_iceberg_table)
    import __spark_entry__ as E

    t = f"{tmp_path}/tbl"
    write_iceberg_table(spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(30)], "id long, grp string"), t)
    write_position_deletes(t, [(iceberg_data_files(t)[0], 0)])
    write_equality_deletes(t, [{"grp": "g0"}])
    plan = _plan(read_iceberg_table(spark, t))
    for marker in ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct",
                   "BroadcastNestedLoopJoin"):
        assert marker not in plan, (marker, plan[:2000])
    assert plan.count("BroadcastHashJoin") >= 3   # pos anti, seq, eq group

    plan = _plan(E.queries()["txt_collocations_pmi"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "HashAggregate" in plan                # partial agg map-side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
