"""Steadiness mode: run workloads repeatedly, one seed per run, and report
each metric's median, quartiles and spread against the bounds in
BENCHMARK.json.

    python3 perfbench/steady.py --runs 10 [--workload tag_rollup ...] [--trace 0]

Run from the repository root. Without ``--workload`` it runs all four
workloads, including the two BENCHMARK.json leaves out for time. Each run
is a separate process invoking the benchmark command exactly as
BENCHMARK.json declares it, with seeds
``--first-seed``, ``--first-seed + 1``, ... A metric is steady when its
spread, ``(q3 - q1) / median`` over the runs, is below a third of its
bound (``setup_s`` is reported but, being dominated by JVM warm-up, only
its median is gated). Exit code 0 when every run was correct and every
gated spread is within its bound.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from stats import quartiles, spread  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def load_spec(root: Path) -> dict:
    return json.loads((root / "BENCHMARK.json").read_text())


def run_once(spec: dict, workload: str, seed: int, trace: int, log_dir: Path) -> tuple[dict | None, float]:
    """One benchmark invocation; (parsed last line or None if the run
    failed, wall seconds)."""
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t
    stem = log_dir / f"{workload}-{seed}-t{trace}"
    stem.with_suffix(".out").write_text(p.stdout)
    stem.with_suffix(".err").write_text(p.stderr)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        print(f"# FAILED: {' '.join(cmd)} exited {p.returncode}; see {stem}.out/.err", flush=True)
        return None, wall
    return json.loads(lines[-1]), wall


def summarize(spec: dict, workload: str, results: list[dict], trace: int) -> tuple[list[str], bool]:
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    rows, ok = [], True
    names = list(results[0]["metrics"])
    for name in names:
        vals = [r["metrics"][name]["value"] for r in results]
        unit = results[0]["metrics"][name]["unit"]
        q1, med, q3 = quartiles(vals)
        sp = spread(vals) if med else float("nan")
        bound = bounds.get(name) if not trace else None
        verdict = ""
        if bound is not None:
            gated = name != "setup_s"
            if gated and not sp <= bound:
                ok, verdict = False, "OVER BOUND"
            elif sp < bound / 3:
                verdict = "steady"
            else:
                verdict = "within bound" if gated else "(median-only)"
        rows.append(f"{workload:18s} {name:44s} {unit:7s} q1={q1:<12.6g} med={med:<12.6g} "
                    f"q3={q3:<12.6g} spread={sp:.4f} bound={bound} {verdict}")
    return rows, ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workload", action="append", help="repeatable; default: all four workloads")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log-dir", default=".perfbench/steady")
    args = ap.parse_args(argv)

    root = Path.cwd()
    spec = load_spec(root)
    workloads = args.workload or list(WORKLOADS)
    log_dir = Path(args.log_dir)
    log_dir.mkdir(parents=True, exist_ok=True)
    all_ok = True
    summary = {}
    for wl in workloads:
        results, walls = [], []
        for i in range(args.runs):
            res, wall = run_once(spec, wl, args.first_seed + i, args.trace, log_dir)
            walls.append(wall)
            if res is None:
                all_ok = False
                continue
            all_ok &= bool(res["correct"]) and res["failed"] == 0
            results.append(res)
            print(f"# {wl} seed={args.first_seed + i} wall={wall:.1f} s correct={res['correct']}", flush=True)
        if not results:
            continue
        summary[wl] = {k: [r["metrics"][k]["value"] for r in results] for k in results[0]["metrics"]}
        rows, ok = summarize(spec, wl, results, args.trace)
        all_ok &= ok
        print("\n".join(rows))
        print(f"{wl:18s} {'run_wall_s':44s} {'s':7s} med={sorted(walls)[len(walls) // 2]:.1f} max={max(walls):.1f}",
              flush=True)
    (log_dir / f"summary-t{args.trace}.json").write_text(json.dumps(summary, indent=1))
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main())
