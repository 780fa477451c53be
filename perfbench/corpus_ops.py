"""The Spark layers of a traced run: 20 of the 37 headline
``__spark_entry__.queries()`` ops over the sf0.01 table fixture
(``inputs.TABLES_DIR``), then an index build, in one session at
``local[nproc]``.

Each op here is bound by job count and the scheduler, not by data volume
(0.1-5 s on KB-MB inputs), and ``functions``, the graph operators,
``streaming`` and ``sources.iceberg`` run here and nowhere in the serving
workloads. One op is timed as DataFrame construction plus ``.count()``, as
``bench.run_queries`` does, because iterative ops run jobs while the
DataFrame is built. An untimed warm-up pass over every op comes first, so
the traced pass sees JIT-compiled code paths (the first pass in a session
took about twice as long as the next); ``--seed`` draws the op order of
each pass. An op that raises is recorded and skipped from then on. The
traced pass reads each op's jobs, task time and shuffle bytes from the
Spark status store between ops; that reading is the tracing overhead.
The traced build (``buildlayer``) follows the ops in the same, by then
JIT-warm, session.
"""

from __future__ import annotations

import json
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import buildlayer
import inputs
import sparkstats

# 20 of bench.HEADLINE's 37 ops, copied so later edits to bench.py cannot
# move the workload. A cold plus a warm pass over all 37 take about 95 s
# on 4 cores; to keep them near 75 s, within a traced run's three minutes,
# this keeps every family, the ROADMAP open-items ops but
# graph_keyword_pagerank (graph_pagerank runs the same ladder), and the
# cheap ops that fill out each family; it drops the other text, similarity
# and graph variants.
OPS = (
    "rel_tpch_q1", "rel_topk_per_group", "rel_kth_order_stat",
    "evt_sessionize", "evt_asof_join", "txt_token_counts",
    "txt_term_doc_stats", "txt_dedup_exact", "txt_ngram_jaccard",
    "txt_phrase_match", "txt_neardup_groups", "txt_gopher_rules",
    "txt_substr_dedup", "sim_ann_cosine", "sim_semdedup", "graph_pagerank",
    "graph_expected_reward", "mm_audio_features", "src_iceberg_eq_deletes",
    "stream_dedup_stateful",
)
# a small corpus: the traced build runs after the ops in a traced run, which
# has to end within three minutes
TRACE_BUILD_PAGES = 2_000
FAMILIES = ("rel", "evt", "txt", "sim", "graph", "mm", "src", "stream")
# the slow tail the ROADMAP open-items table names
ROADMAP_OPS = ("stream_dedup_stateful", "graph_expected_reward",
               "txt_neardup_groups", "sim_semdedup", "graph_pagerank",
               "src_iceberg_eq_deletes", "txt_ngram_jaccard")


class Runner:
    def __init__(self, spark, tables: Path, trace: bool):
        import __spark_entry__ as entry
        self.spark, self.tables = spark, str(tables)
        self.registry = entry.queries()
        self.window = sparkstats.Window(spark) if trace else None
        self.attempted = 0
        self.failed: dict[str, str] = {}
        self.counts: dict[str, set] = defaultdict(set)
        self.op_stats: dict[str, list] = defaultdict(list)
        self.trace_s = 0.0

    def run_pass(self, order) -> None:
        for name in order:
            if name in self.failed:
                continue
            self.attempted += 1
            mark = self.window.mark() if self.window else None
            t0 = time.perf_counter()
            try:
                n = self.registry[name](self.spark, self.tables).count()
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                self.failed[name] = f"{type(e).__name__}: {e}"
                continue
            wall = time.perf_counter() - t0
            print(f"  {name}: {wall:.3f} s, {n} rows", file=sys.stderr)
            self.counts[name].add(n)
            if self.window:
                t1 = time.perf_counter()
                self.op_stats[name].append(
                    {"wall_s": wall, **self.window.stats(mark)})
                self.trace_s += time.perf_counter() - t1


def _order(seed: int, n: int) -> list[str]:
    rng = np.random.default_rng([seed, n])
    return [OPS[i] for i in rng.permutation(len(OPS))]


def _layers(r: Runner) -> dict:
    def mean(name, key):
        xs = r.op_stats[name]
        return sum(x[key] for x in xs) / max(len(xs), 1)

    m = {}
    for fam in FAMILIES:
        names = [n for n in OPS if n.split("_", 1)[0] == fam]
        for key, out, unit in (("wall_s", "wall_s", "s"),
                               ("jobs", "jobs", "count"),
                               ("task_run_s", "task_run_s", "s"),
                               ("shuffle_write_mb", "shuffle_mb", "MB")):
            m[f"ops.{fam}.{out}"] = (sum(mean(n, key) for n in names), unit)
    for name in ROADMAP_OPS:
        m[f"op.{name}.wall_s"] = (mean(name, "wall_s"), "s")
        m[f"op.{name}.jobs"] = (mean(name, "jobs"), "count")
    n_ops = sum(len(x) for x in r.op_stats.values())
    m["trace.corpus_ops_overhead_ms"] = (1e3 * r.trace_s / max(n_ops, 1),
                                         "ms/op")
    return m


def _problems(entries: dict, warm: Runner, r: Runner) -> list[str]:
    """Failed ops, and row counts that differ from the DuckDB oracle's."""
    expected = json.loads((entries["tables"] / "expected.json").read_text())
    problems = [f"{name}: failed: {err}" for name, err in r.failed.items()]
    for name in OPS:
        got = warm.counts[name] | r.counts[name]
        if got and got != {expected[name]}:
            problems.append(f"{name}: rows {sorted(got)} != oracle "
                            f"{expected[name]}")
    return problems


def trace_layers(entries: dict, seed: int, run_dir: Path) -> dict:
    """The Spark layers' metrics: one traced pass after the warm-up pass,
    then a traced build of TRACE_BUILD_PAGES pages in the same session."""
    spark = sparkstats.session("perfbench-trace", run_dir)
    try:
        warm = Runner(spark, inputs.TABLES_DIR, trace=False)
        warm.run_pass(_order(seed, 0))
        r = Runner(spark, inputs.TABLES_DIR, trace=True)
        r.failed.update(warm.failed)
        r.run_pass(_order(seed, 1))
        b = buildlayer.build(spark, run_dir / "trace-build",
                             TRACE_BUILD_PAGES, inputs.CORPUS_SEED)
    finally:
        sparkstats.stop(spark)
    problems = _problems(entries, warm, r)
    n_docs = pq.read_table(run_dir / "trace-build" / "index" / "stats"
                           ).to_pylist()[0]["n_docs"]
    if n_docs != TRACE_BUILD_PAGES:
        problems.append(f"traced build: stats.n_docs {n_docs} != "
                        f"{TRACE_BUILD_PAGES} pages")
    m = _layers(r)
    m.update(buildlayer.metrics(b))
    return {"problems": problems,
            "attempted": warm.attempted + r.attempted + 1,
            "failed": len(r.failed), "metrics": m}
