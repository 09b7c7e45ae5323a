"""Run the benchmark on several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload search --seeds 1-10 --seconds 25

For every metric this prints the median over the runs and the distance
between the first and third quartiles (``statistics.quantiles(n=4)``) as a
share of the median, next to the bound ``BENCHMARK.json`` gives the metric.
Runs are sequential; each run's wall time is reported too.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float]:
    """``(median, (q3 - q1) / median)``."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else float("nan")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", help="write every run's result here as JSON")
    args = ap.parse_args(argv)
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)],
            capture_output=True, text=True, check=False)
        wall = time.perf_counter() - t0
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        res["seed"], res["wall_s"] = seed, wall
        # the end-to-end figures, which a traced run reports on stderr only
        res["e2e"] = {line.split()[1]: float(line.split()[3])
                      for line in proc.stderr.splitlines()
                      if line.startswith("e2e ")}
        runs.append(res)
        vals = " ".join(f"{k}={v['value']:.4g}"
                        for k, v in res["metrics"].items())
        print(f"seed {seed} wall {wall:.1f}s correct {res['correct']} "
              f"failed {res['failed']}/{res['attempted']} {vals}", flush=True)
    if args.out:
        Path(args.out).write_text(json.dumps(runs, indent=1))
    if len(runs) < 2:
        return 0
    for name in runs[0]["metrics"]:
        med, rel = spread([r["metrics"][name]["value"] for r in runs])
        bound = bounds.get(name)
        flag = "" if bound is None or rel <= bound / 3 else "  <-- above bound/3"
        print(f"{name:<28} median {med:<12.6g} spread {rel:7.2%} "
              f"bound {bound}{flag}")
    if args.trace:
        for name in runs[0]["e2e"]:
            med, rel = spread([r["e2e"][name] for r in runs])
            print(f"traced e2e {name:<21} median {med:<12.6g} "
                  f"spread {rel:7.2%}")
    print(f"wall median {statistics.median(r['wall_s'] for r in runs):.1f}s")
    return 0


if __name__ == "__main__":
    sys.exit(main())
