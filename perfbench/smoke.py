"""Smoke test of the benchmark itself: every workload once with tiny inputs,
untraced and traced, asserting that the run is correct and that every
metric BENCHMARK.json names is emitted with its unit.

    python3 perfbench/smoke.py

Run from the repository root; takes a few minutes.
"""
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402


def main():
    spec = json.loads((run.build.ROOT / "BENCHMARK.json").read_text())
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in [x["name"] for x in spec["workloads"]]:
        for trace in (0, 1):
            code, lines = run.run(w, seed=1, seconds=1, trace=trace, smoke=True)
            found = [l for l in lines if l.startswith('{"correct"')]
            result = json.loads(found[-1]) if code == 0 and found else None
            tag = f"{w} trace={trace}"
            if result is None:
                problems.append(f"{tag}: exit {code}, no result line")
                continue
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(result)}")
            if not result["correct"] or result["attempted"] < 1:
                problems.append(f"{tag}: correct={result['correct']} attempted={result['attempted']}")
            got = {k: v.get("unit") for k, v in result["metrics"].items()}
            for name, unit in expected[trace].items():
                if got.get(name) != unit:
                    problems.append(f"{tag}: metric {name} has unit {got.get(name)}, expected {unit}")
            for name, v in result["metrics"].items():
                if not isinstance(v.get("value"), (int, float)):
                    problems.append(f"{tag}: metric {name} value {v.get('value')!r}")
            print(f"{tag}: ok ({result['attempted']} passes, {result['failed']} failed)")
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
