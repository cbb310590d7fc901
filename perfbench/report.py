"""Repeat the benchmark over seeds and summarise it, from a checkout root:

    python3 perfbench/report.py --workload point --seeds 1-10 --out FILE

Runs ``run.py`` once per seed and workload (sequentially, with
BENCHMARK.json's ``run_seconds``; seed-major, so the workloads alternate
and a drift of the host's speed shows up as spread in every workload
rather than as a bias of the workload that ran last), records every result
line with the run's wall time and the host steal of its timed loop (from
the run's stderr), and prints per metric the median, the
quartiles and the quartile spread as a share of the median, with the bound
from BENCHMARK.json beside it.  ``--compare A.json B.json`` checks that two
sets agree: per workload and metric, B's median may be worse than A's by at
most the bound (as a share of A's median), and A's worse than B's by at
most the bound (as a share of B's).  ``--overhead TRACED.json UNTRACED.json...`` prints the traced
runs' median request latency against the untraced runs' and checks that
the job, stage and task counts of traced runs of one seed repeat exactly.
"""

from __future__ import annotations

import argparse
import json
import re
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = spec()["command"] + ["--workload", workload, "--seed", str(seed),
                               "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.PIPE, text=True)
    wall = time.perf_counter() - t0
    lines = proc.stdout.splitlines()
    result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
    steal = re.search(r"host steal ([\d.]+) CPU-s", proc.stderr)
    return {"workload": workload, "seed": seed, "trace": trace,
            "exit": proc.returncode, "run_wall_s": wall,
            "loop_steal_s": float(steal.group(1)) if steal else None,
            "result": result}


def summarise(runs: list[dict]) -> dict:
    """Per workload and metric: median, quartiles, spread = IQR / median."""
    out: dict[str, dict] = {}
    for r in runs:
        if r["result"] is None:
            continue
        for name, m in r["result"]["metrics"].items():
            out.setdefault(r["workload"], {}).setdefault(name, []).append(m["value"])
    table: dict[str, dict] = {}
    for wl, metrics in out.items():
        for name, vals in metrics.items():
            med = statistics.median(vals)
            q1, _, q3 = (statistics.quantiles(vals, n=4) if len(vals) > 1
                         else (med, med, med))
            table.setdefault(wl, {})[name] = {
                "n": len(vals), "median": med, "q1": q1, "q3": q3,
                "spread": (q3 - q1) / med if med else float("nan"),
            }
    return table


def bounds() -> dict[str, float]:
    return {m["name"]: m["bound"] for m in spec()["end_to_end"]}


def print_summary(table: dict) -> None:
    b = bounds()
    for wl, metrics in table.items():
        for name, s in metrics.items():
            bound = b.get(name)
            flag = "" if bound is None else (
                f" bound {bound:.2f}" + (" OVER" if s["spread"] > bound else ""))
            print(f"{wl:6} {name:28} n={s['n']:2d} median {s['median']:12.4f} "
                  f"spread {s['spread']:.4f}{flag}")


def worse_by(base: float, new: float, better: str) -> float:
    """How much worse ``new`` is than ``base``, as a share of ``base``."""
    return (new - base) / base if better == "lower" else (base - new) / base


def compare(a_path: str, b_path: str) -> int:
    a = json.loads(Path(a_path).read_text())["summary"]
    b = json.loads(Path(b_path).read_text())["summary"]
    better = {m["name"]: m["better"] for m in spec()["end_to_end"]}
    worst = 0
    for wl in a:
        for name, bound in bounds().items():
            if name not in a[wl] or name not in b.get(wl, {}):
                continue
            ma, mb = a[wl][name]["median"], b[wl][name]["median"]
            b_worse = worse_by(ma, mb, better[name])
            a_worse = worse_by(mb, ma, better[name])
            ok = b_worse <= bound and a_worse <= bound
            worst |= not ok
            print(f"{wl:6} {name:28} A {ma:12.4f} B {mb:12.4f} "
                  f"B worse by {b_worse:+.4f} A worse by {a_worse:+.4f} "
                  f"bound {bound:.2f} {'ok' if ok else 'OVER'}")
    return worst


def overhead(traced_path: str, untraced_paths: list[str]) -> int:
    traced = json.loads(Path(traced_path).read_text())["runs"]
    untraced = [r for p in untraced_paths
                for r in json.loads(Path(p).read_text())["runs"]]
    bad = 0
    for wl in sorted({r["workload"] for r in traced}):
        t = statistics.median(r["result"]["metrics"]["trace.op_p50_ms"]["value"]
                              for r in traced if r["workload"] == wl)
        u = statistics.median(r["result"]["metrics"]["latency_p50_ms"]["value"]
                              for r in untraced if r["workload"] == wl)
        print(f"{wl:6} request p50: traced {t:.1f} ms, untraced {u:.1f} ms, "
              f"overhead {(t - u) / u:+.3f}")
        by_seed: dict[int, list[dict]] = {}
        for r in traced:
            if r["workload"] == wl:
                by_seed.setdefault(r["seed"], []).append(r["result"]["metrics"])
        for seed, ms in by_seed.items():
            counts = sorted(k for k in ms[0] if k.split(".")[-1].split("_")[0]
                            in ("jobs", "stages", "tasks"))
            diff = [k for k in counts if len({m[k]["value"] for m in ms}) > 1]
            bad |= bool(diff)
            print(f"{wl:6} seed {seed}: {len(ms)} traced runs, {len(counts)} "
                  f"job/stage/task counts, differing: {diff or 'none'}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    ap.add_argument("--overhead", nargs="+", metavar="FILE")
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    if args.overhead:
        return overhead(args.overhead[0], args.overhead[1:])
    seconds = spec()["run_seconds"]
    runs = []
    for seed in seeds(args.seeds):
        for wl in args.workload or [w["name"] for w in spec()["workloads"]]:
            r = run_once(wl, seed, seconds, args.trace)
            runs.append(r)
            res = r["result"] or {}
            print(f"{wl} seed {seed}: exit {r['exit']} run {r['run_wall_s']:.1f}s "
                  f"loop steal {r['loop_steal_s']} CPU-s "
                  f"correct {res.get('correct')} failed {res.get('failed')}",
                  file=sys.stderr, flush=True)
    table = summarise(runs)
    print_summary(table)
    if args.out:
        Path(args.out).write_text(json.dumps(
            {"runs": runs, "summary": table}, indent=1))
    return 0 if all(r["result"] and r["result"]["correct"] for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
