"""Benchmark of the KG job and of SPARQL reads over the store it writes.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

Run from the repository root. One process, one Spark session at
``local[<cores>]``, one closed-loop client issuing one operation at a time:

- ``kg_build``: one op is the whole KG job of ``jobs/run_pipeline.py`` over a
  generated transcript corpus of ``KG_INCIDENTS`` incidents;
- ``kg_query``: one op is one SPARQL text query, as ``jobs/query.py`` runs
  it, over the triple store written from the same corpus.

Set-up (session start, input generation, oracle, store write and untimed
warm-up ops) is timed as ``setup_s``. Ops are then issued until their walls
add up to ``--seconds`` and the last block of the op mix is whole. Every
op's output is checked against an independent oracle outside its timed
region; a failed check counts in ``failed``. ``--trace 0`` prints the end-to-end metrics;
``--trace 1`` turns the Spark event log on and prints the per-layer metrics
(layers a workload never calls read 0). The last line of standard output is
the JSON result; the lines before it are a report by name and unit.

``--smoke`` runs both workloads on tiny inputs, traced and untraced, and
asserts that every metric declared in ``BENCHMARK.json`` is printed with its
unit.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402
from harness import ROOT, Spans, percentile  # noqa: E402
from workloads import SHAPES, STAGES, KgBuild, KgQuery  # noqa: E402

sys.path.insert(0, ROOT)

# Corpus size of both workloads: datagen incidents (about 120 turns each).
KG_INCIDENTS = 60
SMOKE_INCIDENTS = 10
# Untimed ops before the timed window (perfbench/STEADINESS.md has the
# measured curves). kg_build: none; its op is the whole job in a fresh
# session, the cold cost each spark-submit of jobs/run_pipeline.py pays (a
# warm job would need a cold one before it, and a run has no time for
# both). kg_query: one block of the shape mix, so every shape's code path
# has run once before timing starts.
WARMUP_OPS = {"kg_build": 0, "kg_query": 7}

GROUPS = ("pipeline.build", "sinks.write_full_triples",
          "sinks.write_pilot_triples", "sinks.write_layers",
          "sinks.count_actions", "sparql.read", "sparql.compile",
          "sparql.exec")
KG_CALLS = GROUPS[:5]
WORKLOADS = {"kg_build": KgBuild, "kg_query": KgQuery}

END_TO_END = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s",
              "work_per_s": "1/s"}
PER_LAYER = {
    "session.start_s": "s", "datagen.gen_s": "s", "oracle.run_s": "s",
    "setup.warmup_s": "s", "trace.op_p50_s": "s",
    "pipeline.build_s": "s", "pipeline.plan_s": "s",
    "kg.s01_texts_full_s": "s", "kg.s02_pilot_texts_s": "s",
    "kg.s03_aligned_mentions_s": "s", "kg.s04_ref_dim_s": "s",
    "sinks.write_full_triples_s": "s", "sinks.write_pilot_triples_s": "s",
    "sinks.write_layers_s": "s", "sinks.count_actions_s": "s",
    "sinks.bytes_written_mb": "MB", "kg.turns": "count",
    "kg.full_triples": "count", "kg.pilot_triples": "count",
    "kg.layer_rows": "count", "kg.attributed_frac": "fraction",
    "store.write_s": "s", "store.files": "count", "store.mb": "MB",
    "sparql.read_s": "s", "sparql.compile_s": "s", "sparql.exec_s": "s",
    "sparql.queries": "count", "sparql.result_rows": "count",
    **{f"sparql.{shape}_p50_s": "s" for shape in SHAPES},
    **{f"spark.{f}": u for f, u in zip(harness.TASK_FIELDS, harness.TASK_UNITS)},
    **{f"spark.{g}.{f}": u for g in GROUPS
       for f, u in zip(harness.TASK_FIELDS, harness.TASK_UNITS)},
}


def _attempt(wl, i: int) -> tuple[float, bool]:
    """Run one op (timed) and check its output (untimed)."""
    t0 = time.perf_counter()
    try:
        result = wl.op(i)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return time.perf_counter() - t0, False
    wall = time.perf_counter() - t0
    try:
        return wall, wl.check(result)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return wall, False


def run(workload: str, seed: int, seconds: float, trace: bool,
        n_incidents: int) -> tuple[dict, dict, dict]:
    """One benchmark run; returns (summary, end-to-end, per-layer)."""
    harness.prepare_environment()
    sentinel_start = harness.sentinel_reading()
    steal0, total0 = harness.cpu_steal()
    spans = Spans()
    attempted = failed = 0
    walls: list[float] = []
    with harness.RssSampler() as rss:
        t0 = time.perf_counter()
        with spans.span("session.start", group=False):
            spark = harness.start_spark(trace)
        spans.spark = spark
        try:
            wl = WORKLOADS[workload](spark, spans, seed, n_incidents)
            spans.prefix = "warmup."
            t_warm = time.perf_counter()
            warm: list[float] = []
            for i in range(WARMUP_OPS[workload]):
                wall, ok = _attempt(wl, i)
                warm.append(wall)
                attempted, failed = attempted + 1, failed + (not ok)
            spans.prefix = ""
            spans.add("setup.warmup", time.perf_counter() - t_warm)
            setup_s = time.perf_counter() - t0
            i = WARMUP_OPS[workload]
            # whole blocks only, so every window holds the same op mix
            while not walls or sum(walls) < seconds or len(walls) % wl.block:
                wall, ok = _attempt(wl, i)
                walls.append(wall)
                attempted, failed, i = attempted + 1, failed + (not ok), i + 1
        finally:
            harness.stop_spark(spark)
    steal1, total1 = harness.cpu_steal()
    sentinel_end = harness.sentinel_reading()

    e2e = {
        "setup_s": setup_s,
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "op_p50_s": statistics.median(walls),
        "work_per_s": wl.work_per_s(walls),
    }
    layers = _per_layer(spans, walls, wl, trace)
    summary = {
        "workload": workload, "seed": seed, "incidents": n_incidents,
        "cores": harness.cpus(), "timed_ops": len(walls),
        "warmup_walls_s": [round(w, 4) for w in warm],
        "op_walls_s": [round(w, 4) for w in walls],
        "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted,
        "op_p90_s": percentile(walls, 90),
        "sentinel_start_s": sentinel_start, "sentinel_end_s": sentinel_end,
        "host_steal_frac": (steal1 - steal0) / max(1, total1 - total0),
        "driver_heap": harness.DRIVER_HEAP,
    }
    harness.clean_work()
    _overhead(summary, e2e, trace)
    return summary, e2e, layers


def _overhead(summary: dict, e2e: dict, trace: bool) -> None:
    """Tracing overhead: an untraced run leaves its op median in the scratch
    area; a later traced run of the same workload compares against it."""
    path = os.path.join(harness.WORK, f"untraced_{summary['workload']}.json")
    if not trace:
        with open(path, "w") as f:
            json.dump({"op_p50_s": e2e["op_p50_s"]}, f)
    elif os.path.exists(path):
        with open(path) as f:
            base = json.load(f)["op_p50_s"]
        summary["trace_overhead_frac"] = e2e["op_p50_s"] / base - 1


def _per_layer(spans: Spans, walls: list[float], wl, trace: bool) -> dict:
    """Per-layer figures of the timed window: medians per op of each span,
    totals of the set-up spans, task metrics per op from the event log."""
    m = dict.fromkeys(PER_LAYER, 0.0)
    for name in ("session.start", "datagen.gen", "oracle.run",
                 "setup.warmup", "store.write"):
        m[f"{name}_s"] = spans.total(name)
    m["trace.op_p50_s"] = statistics.median(walls)
    for name in (*GROUPS, *(f"kg.{s}" for s in STAGES)):
        m[f"{name}_s"] = spans.median(name)
    for shape in SHAPES:
        m[f"sparql.{shape}_p50_s"] = spans.median(f"sparql.{shape}")
    if isinstance(wl, KgBuild):
        # driver-side plan construction: build() minus its stage writes
        stage_sum = [sum(w) for w in zip(*(spans.walls[f"kg.{s}"]
                                           for s in STAGES))]
        m["pipeline.plan_s"] = statistics.median(
            b - s for b, s in zip(spans.walls["pipeline.build"], stage_sum))
        m["kg.turns"] = wl.turns
        m["kg.attributed_frac"] = (
            sum(spans.total(c) for c in KG_CALLS) / sum(walls))
        m["sinks.bytes_written_mb"] = spans.median("sinks.bytes_written")
        for name in ("kg.full_triples", "kg.pilot_triples", "kg.layer_rows"):
            m[name] = spans.median(name)
    else:
        m["store.files"], m["store.mb"] = wl.files, wl.mb
        m["sparql.queries"] = len(walls)
        m["sparql.result_rows"] = spans.median("sparql.result_rows")
    if trace:
        tm = harness.task_metrics(list(GROUPS))
        n = len(walls)
        for g, fields in tm.items():
            key = "spark" if g == "all" else f"spark.{g}"
            for f, v in fields.items():
                m[f"{key}.{f}"] = v if f == "skew_ratio" else v / n
    return m


def _print_report(summary: dict, e2e: dict, layers: dict, trace: bool) -> None:
    """Human-readable report: every figure by name and unit."""
    w = summary["workload"]
    named = {
        "kg_build": {"build_p50_s": (e2e["op_p50_s"], "s"),
                     "turns_per_s": (e2e["work_per_s"], "1/s")},
        "kg_query": {"query_p50_s": (e2e["op_p50_s"], "s"),
                     "query_p90_s": (summary["op_p90_s"], "s"),
                     "queries_per_s": (e2e["work_per_s"], "1/s")},
    }[w]
    named["failed_frac"] = (summary["failed_frac"], "fraction")
    for k, v in summary.items():
        print(f"# {k} = {v}")
    print(f"# peak_rss_mb covers the Python driver, the JVM and the Python "
          f"workers; the JVM pre-touches its fixed -Xms{summary['driver_heap']}"
          f" heap, a floor under it")
    for k, (v, u) in named.items():
        print(f"{w}.{k} {v:.6g} {u}")
    if trace:
        for k, v in layers.items():
            print(f"{w}.{k} {v:.6g} {PER_LAYER[k]}")
    else:
        for k, v in e2e.items():
            print(f"{w}.{k} {v:.6g} {END_TO_END[k]}")


def _smoke() -> int:
    """Every workload, untraced and traced, on tiny inputs; every declared
    metric must be printed with its declared unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for wl in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            out = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 wl["name"], "--seed", "1", "--seconds", "1", "--trace",
                 str(trace), "--incidents", str(SMOKE_INCIDENTS)],
                cwd=ROOT, capture_output=True, text=True, timeout=600,
            )
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                problems.append(f"{wl['name']} trace={trace}: exit "
                                f"{out.returncode}\n{out.stderr[-2000:]}")
                continue
            res = json.loads(lines[-1])
            want = {m["name"]: m["unit"] for m in spec[kind]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want:
                problems.append(f"{wl['name']} trace={trace}: metrics "
                                f"{sorted(set(got) ^ set(want))} differ")
            if not res["correct"]:
                problems.append(f"{wl['name']} trace={trace}: incorrect")
            print(f"smoke {wl['name']} trace={trace}: {len(got)} metrics, "
                  f"correct={res['correct']}", flush=True)
    for p in problems:
        print("FAIL", p)
    return 1 if problems else 0


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", choices=sorted(WARMUP_OPS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--incidents", type=int, default=KG_INCIDENTS,
                    help="corpus size (smoke runs use a tiny one)")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args(argv)
    # fail before any work when the program under test is not beside us
    import multilingual_wiki_event_pipeline_spark  # noqa: F401

    if args.smoke:
        return _smoke()
    if args.workload is None:
        ap.error("--workload is required")
    summary, e2e, layers = run(args.workload, args.seed, args.seconds,
                               bool(args.trace), args.incidents)
    _print_report(summary, e2e, layers, bool(args.trace))
    metrics = layers if args.trace else e2e
    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({
        "correct": summary["failed"] == 0,
        "attempted": summary["attempted"],
        "failed": summary["failed"],
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
