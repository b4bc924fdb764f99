"""How steady the benchmark is: runs every workload of ``BENCHMARK.json``
once per seed (untraced), then prints, for each end-to-end metric, the
median, the quartiles and their distance as a share of the median — the
spread each metric's ``bound`` must cover.

    python3 perfbench/steadiness.py --seeds 1-10 [--workload kg_build] [--out runs.jsonl]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--seeds", default="1-10", help="inclusive range a-b")
    ap.add_argument("--workload", action="append",
                    help="default: every workload in BENCHMARK.json")
    ap.add_argument("--out", help="append each run's result here (JSON lines)")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    ok = True
    for wl in workloads:
        values: dict[str, list[float]] = {k: [] for k in bounds}
        for seed in _seeds(args.seeds):
            t0 = time.perf_counter()
            out = subprocess.run(
                [sys.executable, *spec["command"][1:], "--workload", wl,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                 "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True,
            )
            wall = time.perf_counter() - t0
            res = json.loads(out.stdout.strip().splitlines()[-1])
            for k in bounds:
                values[k].append(res["metrics"][k]["value"])
            print(f"{wl} seed {seed}: {wall:.1f} s, correct={res['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in res["metrics"].items()), flush=True)
            ok &= res["correct"]
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps({"workload": wl, "seed": seed,
                                        "run_s": wall, **res}) + "\n")
        for k, v in values.items():
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / statistics.median(v)
            print(f"{wl} {k}: median {statistics.median(v):.4g} "
                  f"q1 {q1:.4g} q3 {q3:.4g} spread {spread:.3f} "
                  f"(bound {bounds[k]})", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
