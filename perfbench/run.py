"""Benchmark entry point.

    python3 perfbench/run.py --workload {bulk,ingest} --seed N \
        --seconds S --trace {0,1}

Run from the root of a source checkout.  Prints a human-readable
summary, then as its last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
Exits 1 when an output check fails, 2 when the engine sources are not
next to this directory.  Everything it writes stays under
``.perfbench_work/`` (removed at exit) and ``.perfbench_out/`` (span
dumps) in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))



def _units(trace: bool) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def _prepare_env(work: str) -> None:
    """Executor Python workers import the engine from the checkout; all
    scratch space (Spark local dirs, JVM and Python temp files) stays
    inside it."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the session default (24g) exceeds a small host's memory; 1g holds
    # this benchmark's corpora with room to spare
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _on_sigterm(sig: int, _frame) -> None:
    """SIGTERM unwinds like an error, so the run still stops what it
    started; a second one must not cut that clean-up short."""
    signal.signal(sig, signal.SIG_IGN)
    sys.exit(128 + sig)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("bulk", "ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    signal.signal(signal.SIGTERM, _on_sigterm)
    if not os.path.isfile(os.path.join(ROOT, "search_engine_spark", "__init__.py")):
        print(f"perfbench: no engine sources (search_engine_spark/) under {ROOT}",
              file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)
    from perfbench import workloads

    try:
        res = workloads.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
        if res["spans"]:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            shutil.copy(res["spans"], os.path.join(
                out, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = _units(bool(args.trace))
    print(f"workload={args.workload} seed={args.seed} "
          f"failed_frac={res['failed'] / res['attempted']:.4f} "
          f"({res['failed']}/{res['attempted']} operations)")
    for k, v in res["summary"].items():
        print(f"  {k} = {v:.6g}")
    for phase, h in res["host"].items():
        print(f"  host[{phase}] steal={h['steal_pct']:.2f}% busy={h['cpu_busy_frac']:.3f}")
    for p in res["problems"][:20]:
        print(f"  CHECK FAILED: {p}")
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in res["metrics"].items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
