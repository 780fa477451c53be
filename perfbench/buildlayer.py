"""The build side: one ``sources.pages`` corpus written and indexed by
``plans.build_index`` in a given session, with its stage times and the
Spark counters of the build window, and those numbers as per-layer
metrics."""

from __future__ import annotations

import time
from pathlib import Path

import sparkstats

STAGES = ("docs_ids", "extracted", "doc_terms", "anchor_terms", "links",
          "pagerank", "terms", "docs", "stats", "postings")
SESSION = {"jobs": "count", "stages": "count", "tasks": "count",
           "task_run_s": "s", "task_cpu_s": "s", "shuffle_write_mb": "MB",
           "spill_mb": "MB", "sched_overhead_s": "s",
           "jvm_peak_rss_mb": "MB"}


def build(spark, out: Path, pages: int, seed: int) -> dict:
    """Write ``out/pages`` and build ``out/index`` -> the generation and
    build walls, the build's stage times and the build window's counters."""
    from hadoopsearchengine_spark.plans.build_index import build_index
    from hadoopsearchengine_spark.sources.pages import write_pages

    t0 = time.perf_counter()
    write_pages(spark, pages, str(out / "pages"), seed=seed)
    gen_s = time.perf_counter() - t0
    window = sparkstats.Window(spark)
    mark = window.mark()
    t0 = time.perf_counter()
    res = build_index(spark, str(out / "pages"), str(out / "index"))
    build_s = time.perf_counter() - t0
    stats = window.stats(mark)
    cores = spark.sparkContext.defaultParallelism
    stats["sched_overhead_s"] = build_s - stats["task_run_s"] / cores
    stats["jvm_peak_rss_mb"] = sparkstats.jvm_peak_rss_mb(spark)
    return {"pages": pages, "seed": seed, "gen_s": gen_s, "build_s": build_s,
            "stage_sec": res.get("stage_sec", {}), "session": stats}


def metrics(b: dict) -> dict:
    """``build``'s result as per-layer metrics."""
    m = {f"plans.build_index.{s}_s": (b["stage_sec"][s], "s")
         for s in STAGES if s in b["stage_sec"]}
    m["plans.build_index.wall_s"] = (b["build_s"], "s")
    m["sources.pages.gen_s"] = (b["gen_s"], "s")
    m.update({f"session.{k}": (b["session"][k], unit)
              for k, unit in SESSION.items()})
    return m
