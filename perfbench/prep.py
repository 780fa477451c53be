"""Input preparation steps, each run as its own child process.

    prep.py index  OUT PAGES SEED RUN_DIR
                                  pages corpus + built index
    prep.py check  OUT            index vs oracle.OracleIndex
    prep.py tables OUT            DuckDB row counts over the table fixture

``index`` writes ``OUT/pages``, ``OUT/index`` and ``OUT/build.json``
(``buildlayer.build``'s result). ``check`` writes ``OUT/check.json``; it
runs in its own process because the pure-Python oracle index takes about
1 GB at 10k pages.
``tables`` writes ``OUT/expected.json``, the row count of each
``__spark_entry__.oracle_sql()`` query under DuckDB over
``inputs.TABLES_DIR``.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import buildlayer
import corpus_ops
import inputs
import sparkstats


def build_corpus_index(out: Path, pages: int, seed: int,
                       run_dir: Path) -> None:
    spark = sparkstats.session("perfbench-index", run_dir)
    try:
        b = buildlayer.build(spark, out, pages, seed)
    finally:
        sparkstats.stop(spark)
    (out / "build.json").write_text(json.dumps(b))


def check_index(out: Path) -> None:
    """stats.n_docs and the top-10 of every reference query vs the oracle."""
    import pyarrow.parquet as pq
    from hadoopsearchengine_spark.operators.wand import QueryEngine
    from hadoopsearchengine_spark.sources.pages import (
        REFERENCE_QUERIES, synth_pages_local)
    from oracle.index import OracleIndex

    meta = json.loads((out / "build.json").read_text())
    problems = []
    n_docs = pq.read_table(out / "index" / "stats").to_pylist()[0]["n_docs"]
    if n_docs != meta["pages"]:
        problems.append(f"stats.n_docs {n_docs} != {meta['pages']} pages")
    oracle = OracleIndex(synth_pages_local(meta["pages"], meta["seed"]))
    engine = QueryEngine(str(out / "index"))
    for q in REFERENCE_QUERIES:
        got = [d for d, _ in engine.search(q, k=10)]
        want = [d for d, _ in oracle.bm25_topk(q, k=10)]
        if got != want:
            problems.append(f"{q!r}: top-10 {got} != oracle {want}")
    (out / "check.json").write_text(json.dumps({"problems": problems}))


def expected_counts(out: Path) -> None:
    import duckdb
    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in sorted(inputs.TABLES_DIR.glob("*.parquet")):
        con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
    counts = {}
    for name in corpus_ops.OPS:
        counts[name] = con.execute(
            f"SELECT count(*) FROM ({sql[name]})").fetchone()[0]
    (out / "expected.json").write_text(json.dumps(counts))


def main(argv: list[str]) -> None:
    step, out = argv[0], Path(argv[1])
    if step == "index":
        build_corpus_index(out, *map(int, argv[2:4]), Path(argv[4]))
    elif step == "check":
        check_index(out)
    elif step == "tables":
        expected_counts(out)
    else:
        raise SystemExit(f"unknown step {step!r}")


if __name__ == "__main__":
    main(sys.argv[1:])
