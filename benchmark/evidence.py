"""Steadiness evidence for the benchmark.

    python3 benchmark/evidence.py runs --set A --seeds 1-10 [--workloads curation,pipeline]
    python3 benchmark/evidence.py runs --set T --seeds 7,7 --trace 1
    python3 benchmark/evidence.py summary

``runs`` calls run.py once per (seed, workload), interleaving workloads so
host drift falls on both alike, and appends every result and drift line to
``runs.jsonl`` in ``--dir`` (default ``evidence/``). ``summary`` writes
``summary.md`` there from it:
per set and metric the median, quartiles and spread (quartile distance over
median) against the metric's bound, the gap between sets, the first-half
vs second-half check of the timed passes, and whether every count repeats.
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
ROOT = os.path.dirname(HERE)
EVIDENCE = os.path.join(HERE, "evidence")


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def cmd_runs(args) -> None:
    bench = _bench()
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]
    ]
    runs = os.path.join(args.dir, "runs.jsonl")
    os.makedirs(args.dir, exist_ok=True)
    for seed in _seeds(args.seeds):
        for wl in workloads:
            cmd = bench["command"] + [
                "--workload", wl, "--seed", str(seed),
                "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace),
            ]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            rec = {"set": args.set, "workload": wl, "seed": seed, "trace": args.trace,
                   "exit": proc.returncode, "run_wall_s": wall}
            if proc.returncode == 0:
                rec["drift"] = json.loads(lines[-2].removeprefix("drift "))
                rec["result"] = json.loads(lines[-1])
            else:
                rec["stderr_tail"] = proc.stderr[-2000:]
            with open(runs, "a") as f:
                f.write(json.dumps(rec) + "\n")
            print(f"set {args.set} {wl} seed {seed}: exit {proc.returncode} "
                  f"in {wall:.0f} s", flush=True)


def _stats(xs: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0],) * 3
    med = statistics.median(xs)
    return {"n": len(xs), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def _fmt(v: float) -> str:
    return f"{v:.4g}"


def _corr(xs: list[float], ys: list[float]) -> str:
    try:
        return f"{statistics.correlation(xs, ys):.2f}"
    except statistics.StatisticsError:  # fewer than two runs, or a constant
        return "n/a"


def cmd_summary(args) -> None:
    bench = _bench()
    with open(os.path.join(args.dir, "runs.jsonl")) as f:
        recs = [json.loads(line) for line in f if line.strip()]
    bad = [r for r in recs if r["exit"] != 0]
    plain = [r for r in recs if r["exit"] == 0 and r["trace"] == 0]
    traced = [r for r in recs if r["exit"] == 0 and r["trace"] == 1]
    sets = sorted({r["set"] for r in plain})
    workloads = [w["name"] for w in bench["workloads"]]
    out = ["# Benchmark steadiness evidence", "",
           f"Generated by `benchmark/evidence.py summary` from {len(recs)} runs "
           f"in `evidence/runs.jsonl` ({len(bad)} failed).", ""]

    out += ["## End-to-end metrics per set", "",
            "spread = (q3 - q1) / median over the set's runs; target < bound / 3.", "",
            "| workload | metric | bound | set | runs | median | q1 | q3 | spread | spread < bound/3 |",
            "|---|---|---|---|---|---|---|---|---|---|"]
    medians: dict = {}
    for wl in workloads:
        for m in bench["end_to_end"]:
            for s in sets:
                xs = [r["result"]["metrics"][m["name"]]["value"]
                      for r in plain if r["workload"] == wl and r["set"] == s]
                if not xs:
                    continue
                st = _stats(xs)
                medians[(wl, m["name"], s)] = st["median"]
                out.append(
                    f"| {wl} | {m['name']} | {m['bound']} | {s} | {st['n']} | "
                    f"{_fmt(st['median'])} | {_fmt(st['q1'])} | {_fmt(st['q3'])} | "
                    f"{st['spread']:.3f} | {'yes' if st['spread'] < m['bound'] / 3 else 'NO'} |"
                )
    if len(sets) >= 2:
        a, b = sets[0], sets[1]
        out += ["", f"## Gap between sets {a} and {b}", "",
                "gap = (median_b - median_a) / median_a, signed so that positive is worse.", "",
                "| workload | metric | bound | gap | within bound |", "|---|---|---|---|---|"]
        for wl in workloads:
            for m in bench["end_to_end"]:
                ma, mb = medians.get((wl, m["name"], a)), medians.get((wl, m["name"], b))
                if ma is None or mb is None:
                    continue
                gap = (mb - ma) / ma if ma else 0.0
                if m["better"] == "higher":
                    gap = -gap
                out.append(f"| {wl} | {m['name']} | {m['bound']} | {gap:+.3f} | "
                           f"{'yes' if gap <= m['bound'] else 'NO'} |")

    out += ["", "## First half vs second half of the timed passes", "",
            "Per run, over the window of timed passes the end-to-end metrics are "
            "taken from: median of the first half over the median of the second "
            "half (odd middle pass dropped). Above 1 means the run was still "
            "getting faster.", "",
            "| workload | runs | window | ratio median | ratio q1 | ratio q3 |",
            "|---|---|---|---|---|---|"]
    for wl in workloads:
        ratios, npass = [], []
        for r in plain:
            if r["workload"] != wl:
                continue
            ps = r["drift"]["pass_s"][:r["drift"]["window"]]
            h = len(ps) // 2
            npass.append(len(ps))
            if h:
                ratios.append(statistics.median(ps[:h]) / statistics.median(ps[-h:]))
        if ratios:
            st = _stats(ratios)
            out.append(f"| {wl} | {len(ratios)} | {', '.join(map(str, sorted(set(npass))))} | "
                       f"{st['median']:.3f} | {st['q1']:.3f} | {st['q3']:.3f} |")

    out += ["", "## Host drift per set", "",
            "corr = Pearson correlation over the set's runs of `pass_s` with the "
            "run's steal % and with its calibration median.", "",
            "| workload | set | calib_s median | calib_s spread | steal % median | "
            "steal % max | load1 median | corr(pass_s, steal) | corr(pass_s, calib) |",
            "|---|---|---|---|---|---|---|---|---|"]
    for wl in workloads:
        for s in sets:
            rs = [r for r in plain if r["workload"] == wl and r["set"] == s]
            if not rs:
                continue
            cal = _stats([r["drift"]["calib_s"]["median"] for r in rs])
            steal = [r["drift"]["steal_pct"] for r in rs]
            load = [r["drift"]["load1"][1] for r in rs]
            walls = [r["result"]["metrics"]["pass_s"]["value"] for r in rs]
            cals = [r["drift"]["calib_s"]["median"] for r in rs]
            out.append(f"| {wl} | {s} | {_fmt(cal['median'])} | {cal['spread']:.3f} | "
                       f"{statistics.median(steal):.2f} | {max(steal):.2f} | "
                       f"{statistics.median(load):.2f} | {_corr(walls, steal)} | "
                       f"{_corr(walls, cals)} |")

    out += ["", "## Count metrics across traced passes and runs", "",
            "Each traced run records every count per traced pass. A count repeats "
            "when every traced pass of every traced run of the same workload and "
            "seed reads the same.", "",
            "| workload | seed | metric | runs | values | repeats |", "|---|---|---|---|---|---|"]
    keys = sorted({(r["workload"], r["seed"]) for r in traced})
    for wl, seed in keys:
        rs = [r for r in traced if r["workload"] == wl and r["seed"] == seed]
        for m in rs[0]["drift"]["traced_counts"]:
            vals = [v for r in rs for v in r["drift"]["traced_counts"][m]]
            distinct = sorted(set(vals))
            shown = ", ".join(_fmt(v) for v in distinct[:6])
            rep = "yes" if len(distinct) == 1 else (
                f"no (range {_fmt(min(vals))}-{_fmt(max(vals))}, "
                f"median {_fmt(statistics.median(vals))})")
            out.append(f"| {wl} | {seed} | {m} | {len(rs)} | {shown} | {rep} |")

    with open(os.path.join(args.dir, "summary.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print("\n".join(out))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("runs")
    r.add_argument("--set", required=True)
    r.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,3")
    r.add_argument("--workloads", default="")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    sm = sub.add_parser("summary")
    for p in (r, sm):
        p.add_argument("--dir", default=EVIDENCE, help="where runs.jsonl and summary.md live")
    args = ap.parse_args()
    {"runs": cmd_runs, "summary": cmd_summary}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
