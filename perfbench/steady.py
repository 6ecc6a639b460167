"""Steadiness check: run each workload on several seeds and report, per
end-to-end metric, the median, the quartiles and the quartile spread
(Q3 - Q1) / median, against the bound in BENCHMARK.json.

    python3 perfbench/steady.py --workloads trickle backfill --seeds 1-10

Runs execute one after another (never concurrently: they would share the
cores being measured), each from the checkout root.  A spread at or
above a third of the bound is flagged; ``setup_s`` is reported but not
held to it.  ``--out`` keeps every run's result object for a later
comparison of two sets (``--compare A.json B.json``: the second median
must not be worse than the first by more than the bound).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def load_spec(checkout: str) -> dict:
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        return json.load(fh)


def seeds(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(spec: dict, workload: str, seed: int, seconds: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    if p.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {p.returncode}\n"
                           + p.stderr[-2000:])
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = wall
    return res


def summarize(spec: dict, results: dict[str, list[dict]]) -> dict:
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    out = {}
    for wl, runs in results.items():
        rows = {}
        for name, m in e2e.items():
            vals = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            rows[name] = {"median": med, "q1": q1, "q3": q3,
                          "spread": spread, "bound": m["bound"],
                          "steady": name == "setup_s"
                          or spread < m["bound"] / 3}
        out[wl] = {"runs": len(runs),
                   "all_correct": all(r["correct"] for r in runs),
                   "max_wall_s": max(r["wall_s"] for r in runs),
                   "mean_wall_s": statistics.mean(r["wall_s"] for r in runs),
                   "metrics": rows}
    return out


def compare(spec: dict, a: dict, b: dict) -> list[str]:
    """Metrics whose median in ``b`` is worse than in ``a`` by more than
    the bound."""
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    bad = []
    for wl in a:
        for name, m in e2e.items():
            ma = a[wl]["metrics"][name]["median"]
            mb = b[wl]["metrics"][name]["median"]
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            if worse > m["bound"]:
                bad.append(f"{wl}/{name}: {ma:.4g} -> {mb:.4g}")
    return bad


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", nargs="+")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--out", help="write the summary and raw results here")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args(argv)
    checkout = os.getcwd()
    spec = load_spec(checkout)
    if args.compare:
        with open(args.compare[0]) as fa, open(args.compare[1]) as fb:
            bad = compare(spec, json.load(fa)["summary"],
                          json.load(fb)["summary"])
        print("\n".join(bad) or "no metric worse than its bound")
        return 1 if bad else 0
    workloads = args.workloads or [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    results: dict[str, list[dict]] = {}
    for wl in workloads:
        for s in seeds(args.seeds):
            r = run_once(spec, wl, s, seconds)
            results.setdefault(wl, []).append(r)
            vals = " ".join(f"{m}={v['value']:.4g}"
                            for m, v in r["metrics"].items())
            print(f"{wl} seed={s} wall={r['wall_s']:.1f}s "
                  f"correct={r['correct']} {vals}", file=sys.stderr, flush=True)
    summary = summarize(spec, results)
    for wl, s in summary.items():
        print(f"== {wl}: {s['runs']} runs, correct={s['all_correct']}, "
              f"wall mean {s['mean_wall_s']:.1f}s max {s['max_wall_s']:.1f}s")
        for name, row in s["metrics"].items():
            flag = "" if row["steady"] else "  <-- spread >= bound/3"
            print(f"  {name:16s} median {row['median']:10.4g}  "
                  f"spread {row['spread']:.3f}  bound {row['bound']}{flag}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"summary": summary, "results": results}, fh, indent=1)
    return 0 if all(m["steady"] for s in summary.values()
                    for m in s["metrics"].values()) else 1


if __name__ == "__main__":
    sys.exit(main())
