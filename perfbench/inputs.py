"""Benchmark inputs and their on-disk cache.

Two inputs, both fixed per commit and shared by every run in a checkout:

- ``index``: a ``sources.pages`` corpus of SERVE_PAGES pages, built by
  ``plans.build_index`` and checked against ``oracle.OracleIndex``. Both
  serving workloads query it; ``--seed`` orders a fixed query pool.
- ``tables``: the DuckDB row count of each traced op's oracle query
  (``corpus_ops.OPS``) over TABLES_DIR, a byte-identical copy of the
  repository's seed-42 sf0.01 test fixture (TESTDATA.md), kept here
  because a run may read only its own checkout. A traced run's ops pass
  runs over TABLES_DIR; ``--seed`` draws the op order.

Building either takes minutes (the DuckDB oracles alone take about two), so
it is preparation, done once by whichever run finds an entry missing, in
child processes (``prep.py``). Each entry is keyed by (kind, seed, size,
source hash); the hash covers the engine, the oracles, the registry, the
fixture and the input code here, so two commits never share an entry. An
entry is built under a temporary name and renamed into place only when
complete.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = Path(__file__).resolve().parent
WORK = ROOT / ".perfbench"
# what the cached inputs depend on: the engine, the oracles, the registry,
# the benchmark's own input code and the table fixture
HASHED = ("hadoopsearchengine_spark", "oracle", "__spark_entry__.py",
          "perfbench/inputs.py", "perfbench/prep.py",
          "perfbench/buildlayer.py", "perfbench/corpus_ops.py",
          "perfbench/sparkstats.py", "perfbench/sf0.01")

SERVE_PAGES = 10_000
CORPUS_SEED = 42     # the sources.pages fixture seed
TABLES_DIR = HERE / "sf0.01"
TABLES_SEED = 42     # the seed the fixture was generated with


def source_hash() -> str:
    h = hashlib.sha256()
    for name in HASHED:
        top = ROOT / name
        files = ([p for p in top.rglob("*") if p.suffix in (".py", ".parquet")]
                 if top.is_dir() else [top])
        for p in sorted(files):
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()[:16]


def fits_another(t0: float, rounds: int, seconds: float) -> bool:
    """Whether one more round as long as the average so far still ends
    within ``seconds`` of ``t0``: the timed region is whole rounds."""
    elapsed = time.perf_counter() - t0
    return elapsed * (rounds + 1) / rounds <= seconds


def _prep(*args) -> list[str]:
    return [sys.executable, str(HERE / "prep.py"), *map(str, args)]


def _build(path: Path, steps: list[list], scratch: Path) -> None:
    """Run ``prep.py`` steps in order into a temporary entry, then rename
    it into place. Their temp files go to ``scratch``, not the run's."""
    tmp = path.with_name(f"{path.name}.tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    (scratch / "tmp").mkdir(parents=True)
    env = {**os.environ, "TMPDIR": str(scratch / "tmp"),
           "SPARK_LOCAL_DIRS": str(scratch / "local")}
    try:
        for step in steps:
            subprocess.run(_prep(step[0], tmp, *step[1:]), env=env,
                           stdout=sys.stderr, check=True)
        tmp.rename(path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def prepare(run_dir: Path) -> dict[str, Path]:
    """-> {"index": entry, "tables": entry}, building missing entries
    concurrently, each as its own chain of ``prep.py`` child processes."""
    from concurrent.futures import ThreadPoolExecutor
    key = source_hash()
    plans = {
        "index": (CORPUS_SEED, SERVE_PAGES, [
            ["index", SERVE_PAGES, CORPUS_SEED, run_dir / "prep-index"],
            ["check"]]),
        "tables": (TABLES_SEED, len(list(TABLES_DIR.glob("*.parquet"))),
                   [["tables"]]),
    }
    entries = {kind: WORK / "cache" / f"{kind}-s{seed}-n{size}-{key}"
               for kind, (seed, size, _) in plans.items()}
    with ThreadPoolExecutor(len(plans)) as pool:
        futures = [pool.submit(_build, entries[kind], steps,
                               run_dir / f"prep-{kind}")
                   for kind, (_, _, steps) in plans.items()
                   if not entries[kind].exists()]
        for f in futures:
            f.result()
    return entries
