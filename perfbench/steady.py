"""Steadiness mode: run workloads repeatedly with distinct seeds and report,
per end-to-end metric, the median and quartiles against the metric's bound.

    python3 perfbench/steady.py --workload batch_1bit --runs 10
    python3 perfbench/steady.py --workload all --runs 10 --out a.json
    python3 perfbench/steady.py --workload all --runs 10 --against a.json

A metric is steady when its quartile spread, (q3 - q1) / median, is under a
third of its bound; setup_s is reported but not held to that. With
--against, each median is also compared with the earlier summary's: a
metric regresses when it is worse by more than its bound. --root runs the
benchmark in another checkout (for a parent-versus-change comparison with
the same benchmark code and settings).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def _spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_once(root: str, spec: dict, workload: str, seed: int, trace: int = 0) -> dict:
    cmd = spec["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    t = time.perf_counter()
    proc = subprocess.run(cmd, cwd=root, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}: {lines[-5:]}")
    out = json.loads(lines[-1])
    out["wall_s"] = wall
    phases = [line for line in proc.stderr.splitlines() if line.startswith("perfbench ")]
    out["phases"] = json.loads(phases[-1].split(": ", 1)[1]) if phases else {}
    ops_file = os.path.join(
        root, ".perfbench", "spans", f"{workload}-seed{seed}-trace{trace}.ops.json"
    )
    with open(ops_file) as f:
        out["ops"] = json.load(f)
    return out


def summarize(spec: dict, workload: str, runs: list[dict]) -> dict:
    rows = {}
    for m in spec["end_to_end"]:
        values = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3, spread = stats.quartile_spread(values)
        rows[m["name"]] = {
            "values": values, "q1": q1, "median": med, "q3": q3, "spread": spread,
            "bound": m["bound"], "better": m["better"], "unit": m["unit"],
            "steady": m["name"] == "setup_s" or spread < m["bound"] / 3,
        }
    return {
        "workload": workload,
        "metrics": rows,
        "wall_s": [r["wall_s"] for r in runs],
        "steal_share": [r["phases"].get("steal_share") for r in runs],
        "failed": sum(r["failed"] for r in runs),
        "attempted": sum(r["attempted"] for r in runs),
        "ops": [o for r in runs for o in r["ops"] if o["index"] >= 0 and not o["error"]],
    }


def worse_by(m: dict, before: float, after: float) -> float:
    """How much worse `after` is than `before`, as a share of `before`."""
    delta = (after - before) if m["better"] == "lower" else (before - after)
    return delta / before if before else 0.0


def report(summary: dict, against: dict | None) -> bool:
    ok = True
    w = summary["workload"]
    walls = summary["wall_s"]
    print(f"\n== {w}: {len(walls)} runs, wall median {statistics.median(walls):.1f} s "
          f"(max {max(walls):.1f} s), {summary['failed']}/{summary['attempted']} ops failed")
    steal = [x for x in summary["steal_share"] if x is not None]
    if steal:
        print(f"   CPU share stolen by the hypervisor during timed ops: "
              f"median {statistics.median(steal):.4f}, max {max(steal):.4f}")
    for kind in sorted({o["kind"] for o in summary["ops"]}):
        pooled = [o["dur_s"] * 1e3 for o in summary["ops"] if o["kind"] == kind]
        p = stats.tail_percentile(len(pooled))
        if p:
            print(f"   pooled {kind} latency over {len(pooled)} ops: p50 "
                  f"{stats.nearest_rank(pooled, 50):.1f} ms, "
                  f"p{p} {stats.nearest_rank(pooled, p):.1f} ms")
    for name, m in summary["metrics"].items():
        line = (f"   {name:14s} median {m['median']:12.4f} {m['unit']:9s} "
                f"q1 {m['q1']:12.4f} q3 {m['q3']:12.4f} spread {m['spread']:.4f} "
                f"bound {m['bound']} {'steady' if m['steady'] else 'UNSTEADY'}")
        ok &= m["steady"]
        if against:
            before = against["metrics"][name]["median"]
            worse = worse_by(m, before, m["median"])
            line += f" | vs {before:.4f}: worse by {worse:+.4f}"
            if worse > m["bound"]:
                line += " REGRESSED"
                ok = False
        print(line)
    return ok and summary["failed"] == 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, help="a workload name or 'all'")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1, help="seeds are seed0 .. seed0+runs-1")
    ap.add_argument("--root", default=os.path.dirname(HERE), help="checkout to run in")
    ap.add_argument("--out", help="write the summaries to this JSON file")
    ap.add_argument("--against", help="an earlier --out file to compare medians with")
    args = ap.parse_args()

    root = os.path.abspath(args.root)
    spec = _spec(root)
    names = [w["name"] for w in spec["workloads"]]
    names = names if args.workload == "all" else [args.workload]
    against = {}
    if args.against:
        with open(args.against) as f:
            against = {s["workload"]: s for s in json.load(f)}
    summaries, ok = [], True
    for w in names:
        runs = []
        for seed in range(args.seed0, args.seed0 + args.runs):
            runs.append(run_once(root, spec, w, seed))
            print(f"   {w} seed {seed}: {runs[-1]['wall_s']:.1f} s", flush=True)
        summaries.append(summarize(spec, w, runs))
        ok &= report(summaries[-1], against.get(w))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summaries, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
