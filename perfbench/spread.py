"""Summarise repeated runs of one workload: for each metric, the median,
the quartiles, and the spread (interquartile distance over the median),
next to the metric's bound from BENCHMARK.json.

    for s in 1 2 3 4 5 6 7 8 9 10; do
      python3 perfbench/run.py --workload lake_dml --seed $s --seconds 20 \
          --trace 0 | tail -n 1 >> runs.jsonl
    done
    python3 perfbench/spread.py runs.jsonl
"""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import stats  # noqa: E402


def summarise(lines, bounds):
    runs = [json.loads(line)["metrics"] for line in lines if line.strip()]
    rows = []
    for name in runs[0]:
        xs = [r[name]["value"] for r in runs]
        q1, q2, q3 = stats.quartiles(xs)
        rows.append((name, len(xs), q2, q1, q3, stats.spread(xs),
                     bounds.get(name)))
    return rows


def main():
    spec = json.loads((Path(__file__).resolve().parent.parent
                       / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    lines = Path(sys.argv[1]).read_text().splitlines()
    print(f"{'metric':<14}{'n':>3}{'median':>12}{'q1':>12}{'q3':>12}"
          f"{'spread':>9}{'bound':>7}")
    for name, n, q2, q1, q3, sp, b in summarise(lines, bounds):
        print(f"{name:<14}{n:>3}{q2:>12.4f}{q1:>12.4f}{q3:>12.4f}"
              f"{sp:>9.3f}{'' if b is None else b:>7}")


if __name__ == "__main__":
    main()
