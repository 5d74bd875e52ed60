"""Run one workload untraced over several seeds, each run as long as
BENCHMARK.json's ``run_seconds``, and print each end-to-end metric's
median and quartile spread (Q3 - Q1 as a share of the median).

    python3 perfbench/spread.py --workload serve --seeds 1-10

Each run's JSON line is appended to ``.perfbench/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, e.g. 1-10")
    args = ap.parse_args()
    seconds = str(json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"])
    log = ROOT / ".perfbench" / f"spread-{args.workload}.jsonl"
    log.parent.mkdir(parents=True, exist_ok=True)
    values: dict[str, list[float]] = {}
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=180,
        )
        if proc.returncode != 0:
            print(proc.stderr[-2000:], file=sys.stderr)
            return 1
        res = json.loads(proc.stdout.strip().splitlines()[-1])
        with log.open("a") as f:
            f.write(json.dumps({"seed": seed, **res}) + "\n")
        print(f"seed {seed}: correct={res['correct']} attempted={res['attempted']}"
              f" failed={res['failed']} wall={time.perf_counter() - t0:.1f}s", flush=True)
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4)
        print(f"{k:24s} median {med:10.4f}  spread {(q3 - q1) / med if med else 0:6.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
