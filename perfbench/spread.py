"""Run the benchmark over several seeds and report each metric's spread.

    python3 perfbench/spread.py --workload short_lazy --seeds 1-10

Runs ``run.py`` once per seed, one after another, from the checkout root,
and prints for every metric the median, the quartiles and the quartile
distance as a share of the median, next to the bound BENCHMARK.json fixes
for it.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

from metrics import END_TO_END  # noqa: E402


def seed_list(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="3")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    runs = []
    for seed in seed_list(args.seeds):
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=HERE.parent, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True, timeout=600, check=True,
        )
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        runs.append(result)
        print(f"seed {seed}: correct={result['correct']} failed={result['failed']}", file=sys.stderr)
    for name in runs[0]["metrics"]:
        values = [r["metrics"][name]["value"] for r in runs]
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        bound = END_TO_END.get(name, (None, None, None))[2]
        print(f"{name:32s} median {med:12.5g}  q1 {q1:12.5g}  q3 {q3:12.5g}  "
              f"spread {spread:6.3f}  bound {bound}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
