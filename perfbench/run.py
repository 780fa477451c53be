"""Benchmark entry point.

    python3 perfbench/run.py --workload {serve,serve-small-cache} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a source checkout. Inputs are prepared on first use
and cached under ``.perfbench/cache`` (see ``inputs.py``); every run gets
its own scratch directory under ``.perfbench/``, holding ``TMPDIR``, the
Spark local dirs and the JVM's temp dir, deleted when the run ends. What
the program left in ``TMPDIR`` is reported as
``session.leaked_tmp_entries``.

With ``--trace 0`` the run reports the named workload's end-to-end
metrics (``serve.run``). With ``--trace 1`` it reports every per-layer
metric: the serving layers from a traced query stream on the named
workload's engine (``serve.trace_layers``), then the Spark layers, the same
for either workload, from a traced pass over the registry ops and a traced
index build in one session (``corpus_ops.trace_layers``), plus a host
calibration loop timed before and after. A run that cannot
report every metric BENCHMARK.json declares for it fails.
Human-readable lines go to stderr; the last line of stdout is one JSON
object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

import numpy as np

import inputs
import serve


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with ten samples beyond it: -> (percentile,
    the sample with exactly ten above it), or None below 20 samples, where
    that would fall under the median."""
    xs = sorted(samples)
    if len(xs) < 20:
        return None
    return 100.0 * (len(xs) - 10) / len(xs), xs[-11]


def calib_ms() -> float:
    """Median of five timings of a fixed numpy sort plus a Python loop."""
    a = np.random.default_rng(0).random(200_000)
    times = []
    for _ in range(5):
        t = time.perf_counter()
        np.sort(a)
        sum(i * i for i in range(100_000))
        times.append(time.perf_counter() - t)
    return 1e3 * statistics.median(times)


def _sweep_stale() -> None:
    """Delete run and cache-build dirs left by killed runs."""
    for d in [*inputs.WORK.glob("run-*"), *inputs.WORK.glob("cache/*.tmp*")]:
        pid = d.name.rsplit("-" if d.name.startswith("run-") else "tmp", 1)[1]
        if not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def _traced(workload: str, entries: dict, seed: int, run_dir: Path) -> dict:
    """Every layer's metrics: the serving ones, then the Spark ones."""
    import corpus_ops
    res = serve.trace_layers(workload, entries, seed)
    spark = corpus_ops.trace_layers(entries, seed, run_dir)
    return {"problems": res["problems"] + spark["problems"],
            "attempted": res["attempted"] + spark["attempted"],
            "failed": res["failed"] + spark["failed"],
            "metrics": {**res["metrics"], **spark["metrics"]}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=tuple(serve.ENGINES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # run the cleanup below, Spark's stop included, when killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    missing = [p for p in inputs.HASHED if not (inputs.ROOT / p).exists()]
    if missing:
        print(f"not a source checkout: missing {missing}", file=sys.stderr)
        return 2
    _sweep_stale()
    run_dir = inputs.WORK / f"run-{os.getpid()}"
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update({
        "TMPDIR": str(tmp), "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "PYTHONPATH": os.pathsep.join([str(inputs.ROOT), str(inputs.HERE)]),
    })
    tempfile.tempdir = None  # re-read TMPDIR
    sys.path.insert(0, str(inputs.ROOT))
    try:
        entries = inputs.prepare(run_dir)
        calib = [calib_ms()]
        if args.trace:
            res = _traced(args.workload, entries, args.seed, run_dir)
        else:
            res = serve.run(args.workload, entries, args.seed, args.seconds)
        calib.append(calib_ms())
        leaked = sorted(p.name for p in tmp.iterdir())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    metrics = res["metrics"]
    if not args.trace:
        samples = res["samples_ms"]
        metrics["latency_ms"] = (statistics.median(samples), "ms")
        t = tail(samples)
        if t:
            metrics["tail_latency_ms"] = (t[1], "ms")
            print(f"tail_latency_ms is p{t[0]:.4g} of {len(samples)} samples",
                  file=sys.stderr)
    else:
        metrics["session.leaked_tmp_entries"] = (len(leaked), "count")
        metrics["host.calib_ms"] = (statistics.mean(calib), "ms")
    print(f"host calibration loop: {calib[0]:.3f} ms before, "
          f"{calib[1]:.3f} ms after; leaked tmp entries: {leaked}",
          file=sys.stderr)
    for p in res["problems"]:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    for name, (value, unit) in sorted(metrics.items()):
        print(f"{name} = {value:.6g} {unit}", file=sys.stderr)
    manifest = json.loads((inputs.ROOT / "BENCHMARK.json").read_text())
    declared = {m["name"]: m["unit"]
                for m in manifest["per_layer" if args.trace else "end_to_end"]}
    wrong = [n for n, unit in declared.items()
             if n not in metrics or metrics[n][1] != unit]
    if wrong:
        print(f"run failed: no value in the declared unit for {wrong}",
              file=sys.stderr)
        return 1
    print(json.dumps({
        "correct": not res["problems"] and res["failed"] == 0,
        "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {n: {"value": metrics[n][0], "unit": unit}
                    for n, unit in declared.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
