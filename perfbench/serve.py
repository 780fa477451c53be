"""``serve`` and ``serve-small-cache``: one client in a closed loop on one
thread against ``operators.wand.QueryEngine``.

``QueryEngine`` is an in-process library whose caller waits for each reply,
so a single closed-loop client is its real traffic shape. Queries are 1-4
terms drawn Zipf-weighted (by df rank) from the index's own ``terms``
table; each carries one option class, in exact 85/5/5/5 shares. Plain
queries set the median and proximity queries set the tail. ``serve`` runs
the engine's defaults, whose decode cache (16384 entries) holds every block
the pool touches after warm-up, so traversal and scoring set the time.
``serve-small-cache`` caps each decode cache at 16 entries: enough for a
query's re-reads of its own blocks, far too few to keep any between
queries (one cycle over the pool touches about 500 posting blocks), so
nearly every query decodes every block it reads, as on an index much
larger than the cache, and codec decode shows there and not in
``serve``. (With no decode cache at all, proximity queries re-decode
positions per candidate and take about half a second each; with 128
entries, which blocks survive between queries depended on the seeded
order, and the tail moved by a third between seeds.)

The timed stream is a fixed pool of POOL such queries, served in an order
drawn from ``--seed``, in whole cycles: MIN_CYCLES, and more while another
one fits in the run's seconds. Every run thus serves the same queries, so
runs differ by order and host, not by which heavy proximity queries the
draw happened to hold (with a fresh draw per seed, p99 moved by a fifth
between seeds). The pool is larger than the LRU result cache, so a repeat
reaches the cache only when the pool itself holds a duplicate close by.

Each query counts with its fastest time over the run's cycles. On the
shared 4-core VM this was written on, the host alternated, every 10-60 s,
between a loaded state, in which the same cycle repeated within 2-3%, and
faster bursts of up to 1.8x whose speed varied from burst to burst. A
median over a run's cycles moved by a third from run to run with the
run's share of bursts. A query's fastest time is its time in a burst,
which the pool's 300 queries reach at different moments of the run, and
its median over the pool moved by 3% between runs that held bursts; it
reads slow only in a run spent wholly in the loaded state (about one run
in five, at times). ``latency_ms`` is the median of the POOL per-query
times, and the tail is the eleventh-slowest (p96.7 of 300), one of the
pool's 15 proximity queries. ``throughput_per_s`` is POOL over the sum of
the per-query times: the closed loop's rate at those times.

Set-up is what a user pays before steady serving: opening the engine plus
one untimed cycle over the pool, in the timed order, which fills the decode
caches and loads the lazy field columns for exactly the queries timed
after it. The result cache is LRU and smaller than the pool, so the cycle
leaves no result for the timed cycles to hit. Set-up is repeated SETUPS
times, each on a fresh engine, and reported as the median; the last engine
serves the timed stream.

``trace_layers`` gives the serving layers' numbers for a traced run, on an
engine configured as the named workload's. It wraps the kernel functions
``operators.wand`` calls (tokenize, codec decode, BM25 contributions and
proximity) and the engine's ``search`` (block and result-cache counters),
over one warm-up cycle and TRACE_CYCLES timed cycles on one engine, and
measures the wrappers' cost on a replayed sample. Kernel spans and
``search`` time are per query over all of these cycles, the warm-up
included, because with the default caches the warm-up is where the engine
decodes. The option class medians, the block ratio and the result-cache
ratio are over the timed cycles.
"""

from __future__ import annotations

import gc
import json
import statistics
import sys
import time
import traceback
from collections import Counter
from contextlib import contextmanager, nullcontext
from pathlib import Path

import numpy as np

import sparkstats
from inputs import fits_another

# QueryEngine keyword arguments per workload
ENGINES = {"serve": {}, "serve-small-cache": {"decode_cache": 16}}
K = 10
CLASSES = {"plain": {}, "field_boost": {"field_boost": True},
           "dedup": {"dedup": True}, "proximity": {"proximity": True}}
MIX = (0.85, 0.05, 0.05, 0.05)
ZIPF_S = 1.0
POOL = 300
MIN_CYCLES = 4  # so every query's time is the best of at least four
POOL_SEED = 0
SETUPS = 3
TRACE_CYCLES = 2
CHECK_SAMPLE = 50
OVERHEAD_SAMPLE = 150


class Vocabulary:
    """The index's terms ranked by df (desc), with Zipf rank weights."""

    def __init__(self, index_dir: Path):
        import pyarrow.parquet as pq
        t = pq.read_table(index_dir / "terms",
                          columns=["term", "df"]).to_pandas()
        t = t.sort_values(["df", "term"], ascending=[False, True])
        self.terms = t["term"].to_numpy()
        w = 1.0 / np.arange(1, len(self.terms) + 1) ** ZIPF_S
        self.cdf = np.cumsum(w) / w.sum()

    def pool(self, seed: int, n: int) -> list[tuple[str, str]]:
        """n seeded (query, option class) pairs, the classes in MIX's
        shares exactly, in a seeded order."""
        rng = np.random.default_rng(seed)
        counts = np.round(np.array(MIX) * n).astype(int)
        counts[0] = n - counts[1:].sum()
        classes = rng.permutation(np.repeat(list(CLASSES), counts))
        last = len(self.terms) - 1
        out = []
        for cls in classes:
            picks = np.searchsorted(self.cdf, rng.random(rng.integers(1, 5)))
            out.append((" ".join(self.terms[np.minimum(picks, last)]),
                        str(cls)))
        return out


def _search(engine, query: str, cls: str):
    return engine.search(query, k=K, **CLASSES[cls])


def _setup(index_dir: Path, pool: list, engine_kw: dict):
    """-> (engine, open seconds, set-up seconds, warm-up failures)."""
    from hadoopsearchengine_spark.operators.wand import QueryEngine
    t0 = time.perf_counter()
    engine = QueryEngine(str(index_dir), **engine_kw)
    open_s = time.perf_counter() - t0
    failed = 0
    for query, cls in pool:
        try:
            _search(engine, query, cls)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            failed += 1
    return engine, open_s, time.perf_counter() - t0, failed


class Tracer:
    """Spans around the kernel functions ``operators.wand`` calls, installed
    by rebinding the module attributes it looks them up through."""

    def __init__(self):
        from hadoopsearchengine_spark.kernel import bm25, codec
        from hadoopsearchengine_spark.operators import wand
        self.ns: Counter = Counter()
        self.calls: Counter = Counter()
        self._targets = [
            (wand, "tokenize", "kernel.tokenize"),
            (wand, "decode_deltas", "kernel.codec.decode"),
            (wand, "decode_tfs", "kernel.codec.decode"),
            (codec, "decode_positions", "kernel.codec.positions"),
            (bm25, "contrib", "kernel.bm25.contrib"),
            (bm25, "proximity_multiplier", "kernel.bm25.proximity"),
        ]
        self._orig = [getattr(mod, attr) for mod, attr, _ in self._targets]

    def _span(self, fn, name: str):
        ns, calls, clock = self.ns, self.calls, time.perf_counter_ns

        def traced(*args, **kwargs):
            t = clock()
            try:
                return fn(*args, **kwargs)
            finally:
                ns[name] += clock() - t
                calls[name] += 1
        return traced

    def install(self) -> None:
        for (mod, attr, name), fn in zip(self._targets, self._orig):
            setattr(mod, attr, self._span(fn, name))

    def remove(self) -> None:
        for (mod, attr, _), fn in zip(self._targets, self._orig):
            setattr(mod, attr, fn)


class SearchCounters:
    """Per-call block and result-cache counters of one engine, read after
    every ``search`` call, the inner call of a ``dedup`` search included.
    The engine's ``blocks_scored`` counts a block once per candidate range
    it is scored in, so blocks_scored / blocks_total can exceed one."""

    def __init__(self, engine):
        self.calls = self.hits = self.blocks_scored = self.blocks_total = 0
        self._engine = engine
        inner = engine.search

        def search(*args, **kwargs):
            engine.blocks_scored = None  # stays None unless blocks score
            hits = engine.result_cache_hits
            try:
                return inner(*args, **kwargs)
            finally:
                self.calls += 1
                self.hits += engine.result_cache_hits - hits
                if engine.blocks_scored is not None:
                    self.blocks_scored += engine.blocks_scored
                    self.blocks_total += engine.blocks_total
                    engine.blocks_scored = None
        engine.search = search

    def remove(self) -> None:
        del self._engine.search  # back to the class's method


def _timed_stream(engine, pool, seconds: float, min_cycles: int = MIN_CYCLES):
    """-> (latencies s by pool position, executed [(query, class)],
    failures, queries/s of each cycle)."""
    lat = [[] for _ in pool]
    executed, failed, rates = [], 0, []
    t0 = time.perf_counter()
    while len(rates) < min_cycles or fits_another(t0, len(rates), seconds):
        c0, done = time.perf_counter(), 0
        for i, (query, cls) in enumerate(pool):
            t = time.perf_counter()
            try:
                _search(engine, query, cls)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
                continue
            lat[i].append(time.perf_counter() - t)
            executed.append((query, cls))
            done += 1
        rates.append(done / (time.perf_counter() - c0))
    return lat, executed, failed, rates


def _check(engine, executed, seed: int) -> list[str]:
    """Rank identity with the unpruned path and the result contract, on a
    seeded sample of the executed stream."""
    rng = np.random.default_rng([seed, 2])
    pick = rng.choice(len(executed), min(CHECK_SAMPLE, len(executed)),
                      replace=False)
    problems = []
    for i in sorted(pick):
        query, cls = executed[i]
        got = _search(engine, query, cls)
        full = engine.search(query, k=K, prune=False, **CLASSES[cls])
        if [d for d, _ in got] != [d for d, _ in full]:
            problems.append(f"{cls} {query!r}: pruned != unpruned ranking")
        if len(got) > K or got != sorted(got, key=lambda r: (-r[1], r[0])):
            problems.append(f"{cls} {query!r}: breaks score-desc/id-asc/k")
    return problems


@contextmanager
def _traced(engine):
    tracer, counters = Tracer(), SearchCounters(engine)
    tracer.install()
    try:
        yield tracer, counters
    finally:
        tracer.remove()
        counters.remove()


def _overhead_ms(index_dir: Path, sample: list, engine_kw: dict) -> float:
    """Traced minus untraced wall per query, on one replayed sample, with
    the result cache off so both runs of a query do the same work."""
    from hadoopsearchengine_spark.operators.wand import QueryEngine
    engine = QueryEngine(str(index_dir), **{**engine_kw, "result_cache": 0})
    for query, cls in sample:  # fill the decode caches first
        _search(engine, query, cls)
    spent = {True: 0.0, False: 0.0}
    for i, (query, cls) in enumerate(sample):
        for traced in ((True, False) if i % 2 else (False, True)):
            with _traced(engine) if traced else nullcontext():
                t = time.perf_counter()
                _search(engine, query, cls)
                spent[traced] += time.perf_counter() - t
    return 1e3 * (spent[True] - spent[False]) / len(sample)


def _pool(index_dir: Path, seed: int) -> list:
    """The fixed query pool in the order ``seed`` draws."""
    pool = Vocabulary(index_dir).pool(POOL_SEED, POOL)
    return [pool[i] for i in np.random.default_rng(seed).permutation(POOL)]


def _index(entries: dict) -> tuple[Path, list[str]]:
    """-> (the index, the problems its build check found)."""
    check = json.loads((entries["index"] / "check.json").read_text())
    return entries["index"] / "index", check["problems"]


def run(workload: str, entries: dict, seed: int, seconds: float) -> dict:
    index_dir, problems = _index(entries)
    pool = _pool(index_dir, seed)
    setups = []
    for _ in range(SETUPS):
        engine = None  # free the previous engine before opening the next,
        gc.collect()   # cycles included, so it never adds to peak RSS
        engine, *times = _setup(index_dir, pool, ENGINES[workload])
        setups.append(times)
    lat, executed, failed, rates = _timed_stream(engine, pool, seconds)
    peak_rss = sparkstats.peak_rss_mb()
    print(f"{len(rates)} cycles at " + " ".join(f"{r:.0f}" for r in rates)
          + " queries/s", file=sys.stderr)
    problems = problems + _check(engine, executed, seed)
    best = [min(ts) for ts in lat if ts]
    return {"problems": problems,
            "attempted": sum(map(len, lat)) + failed + SETUPS * len(pool),
            "failed": failed + sum(s[2] for s in setups),
            "samples_ms": [1e3 * t for t in best],
            "metrics": {
                "setup_s": (statistics.median(s[1] for s in setups), "s"),
                "throughput_per_s": (len(best) / sum(best), "1/s"),
                "peak_rss_mb": (peak_rss, "MB")}}


def trace_layers(workload: str, entries: dict, seed: int) -> dict:
    """The serving layers' metrics from one traced engine."""
    from hadoopsearchengine_spark.operators.wand import QueryEngine
    index_dir, problems = _index(entries)
    pool = _pool(index_dir, seed)
    opens = []
    for _ in range(SETUPS):
        engine = None
        t0 = time.perf_counter()
        engine = QueryEngine(str(index_dir), **ENGINES[workload])
        opens.append(time.perf_counter() - t0)
    with _traced(engine) as (tracer, counters):
        warm, _, warm_failed, _ = _timed_stream(engine, pool, 0, 1)
        calls, hits = counters.calls, counters.hits
        scored, total = counters.blocks_scored, counters.blocks_total
        lat, executed, failed, _ = _timed_stream(engine, pool, 0,
                                                 TRACE_CYCLES)
        calls, hits = counters.calls - calls, counters.hits - hits
        scored = counters.blocks_scored - scored
        total = counters.blocks_total - total
    problems = problems + _check(engine, executed, seed)
    flat = [t for ts in warm + lat for t in ts]
    n = len(flat)
    m = {"operators.wand.open_ms": (1e3 * statistics.median(opens), "ms")}
    for cls in CLASSES:
        xs = [t for ts, (_, c) in zip(lat, pool) if c == cls for t in ts]
        if xs:
            m[f"operators.wand.{cls}_ms"] = (1e3 * statistics.median(xs), "ms")
    kernel_ns = sum(tracer.ns.values())
    m["operators.wand.search_ms"] = (1e3 * sum(flat) / n, "ms/query")
    m["operators.wand.self_ms"] = (
        (1e3 * sum(flat) - kernel_ns / 1e6) / n, "ms/query")
    m["operators.wand.blocks_scored_ratio"] = (scored / max(total, 1),
                                               "ratio")
    m["operators.wand.result_cache_hit_ratio"] = (hits / max(calls, 1),
                                                  "ratio")
    spans = {"kernel.tokenize": ("calls", "ms"),
             "kernel.codec.decode": ("decode_calls", "decode_ms"),
             "kernel.codec.positions": ("positions_calls", "positions_ms"),
             "kernel.bm25.contrib": ("contrib_calls", "contrib_ms"),
             "kernel.bm25.proximity": ("proximity_calls", "proximity_ms")}
    for span, (calls_name, ms) in spans.items():
        layer = span if span == "kernel.tokenize" else span.rsplit(".", 1)[0]
        m[f"{layer}.{calls_name}"] = (tracer.calls[span] / n, "calls/query")
        m[f"{layer}.{ms}"] = (tracer.ns[span] / 1e6 / n, "ms/query")
    overhead = _overhead_ms(index_dir, pool[:OVERHEAD_SAMPLE],
                            ENGINES[workload])
    m["trace.serve_overhead_ms"] = (overhead, "ms/query")
    print(f"traced search {1e3 * sum(flat) / n:.3f} ms/query = kernel spans "
          f"{kernel_ns / 1e6 / n:.3f} + wand self "
          f"{m['operators.wand.self_ms'][0]:.3f}; tracing adds "
          f"{overhead:.3f} ms/query", file=sys.stderr)
    return {"problems": problems, "attempted": n + warm_failed + failed,
            "failed": warm_failed + failed, "metrics": m}
