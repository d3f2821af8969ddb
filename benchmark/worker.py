"""One benchmark run inside one fresh Spark session (started by run.py).

Closed loop, one client: the run executes whole passes over the
workload's items, one item at a time. Set-up is session start, input
generation and ``WARM_PASSES`` passes past the cold one (JIT and codegen
warm-up); then passes are timed until ``--seconds`` have elapsed and at
least ``WINDOW`` of them have run. Every pass checks every item's output.
The end-to-end metrics are medians over the first ``WINDOW`` timed passes
only, so that every run, fast or slow, is measured at the same point of
the JIT warm-up curve. With ``--trace 1`` the timed passes alternate
between untraced and traced; the traced ones give the per-layer metrics,
and the difference of the two medians is ``trace.overhead_s``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import meter  # noqa: E402
from digest import digest  # noqa: E402

DATA_DIR = os.path.join(HERE, "data")

# The curation items: near-duplicate corpus dedup (q44: shingles, MinHash,
# LSH banding, Jaccard verification, the dup_groups connected-components
# loop and the canonical-member join back to the corpus; 28 jobs per call)
# and the batched pandas semantic-dedup kernel (q102).
CURATION_ITEMS = ("q44_dedup_corpus", "q102_semantic_dedup")
WARM_PASSES = {"curation": 3, "pipeline": 2}
# Timed passes the end-to-end metrics are taken over: about as many as
# --seconds 20 fits on an unloaded host.
WINDOW = {"curation": 5, "pipeline": 6}


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _quartiles(xs: list[float]) -> list[float]:
    if len(xs) < 2:
        return [_median(xs)] * 3
    return statistics.quantiles(xs, n=4)


class CatalogItems:
    """Catalog queries checked against committed oracle digests."""

    def __init__(self, spark, names, expected: dict[str, str]):
        from nexgap_spark.plans import QUERIES

        self.spark, self.queries, self.expected = spark, QUERIES, expected
        self.names = list(names)
        self.stages: dict[str, float] = {}

    def items(self) -> dict:
        return {n: (lambda traced, n=n: self.run(n)) for n in self.names}

    def run(self, name: str) -> bool:
        t0 = time.perf_counter()
        df = self.queries[name](self.spark, DATA_DIR)
        t1 = time.perf_counter()
        rows = df.collect()
        t2 = time.perf_counter()
        self.stages["plans.build_s"] = self.stages.get("plans.build_s", 0.0) + t1 - t0
        self.stages["plans.collect_s"] = self.stages.get("plans.collect_s", 0.0) + t2 - t1
        return digest(df.columns, [tuple(r) for r in rows]) == self.expected.get(name)


def run_pass(items: dict, order: list[str], traced: bool, smeter, jmeter, source, pss) -> dict:
    """Run every item once; returns wall, CPU, peak PSS, per-item times,
    checks and (when traced) per-layer figures."""
    rec = {"items": {}, "ok": 0, "failed": [], "layers": {}}
    source.stages.clear()
    pss.new_window()
    j0 = jmeter.read() if traced else None
    pids = meter.process_tree()
    c0 = meter.tree_cpu_s(pids)
    t0 = time.perf_counter()
    for name in order:
        group = smeter.start(name) if traced else None
        ti = time.perf_counter()
        try:
            ok = bool(items[name](traced))
        except Exception as e:  # noqa: BLE001 -- a failed item is counted, not fatal
            print(f"[bench] {name} raised {type(e).__name__}: {e}", file=sys.stderr)
            ok = False
        dt = time.perf_counter() - ti
        rec["items"][name] = dt
        if ok:
            rec["ok"] += 1
        else:
            rec["failed"].append(name)
        if traced:
            s = smeter.finish(group, dt)
            short = name.split("_")[0]
            rec["layers"][f"{short}.jobs"] = s["jobs"]
            rec["layers"][f"{short}.wall_s"] = dt
            for k, v in s.items():
                key = f"spark.{'exec_run_s' if k == 'run_s' else 'jvm_cpu_s' if k == 'cpu_s' else k}"
                rec["layers"][key] = rec["layers"].get(key, 0.0) + v
    rec["wall_s"] = time.perf_counter() - t0
    rec["cpu_s"] = meter.tree_cpu_s(meter.process_tree()) - c0
    pss.sample()
    rec["pss_mb"] = pss.window_peak
    if traced:
        j1 = jmeter.read()
        rec["layers"].update({k: j1[k] - j0[k] for k in j1})
        rec["layers"].update(source.stages)
    return rec


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WARM_PASSES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--digests", default=os.path.join(HERE, "digests.json"))
    args = ap.parse_args()
    traced_run = bool(args.trace)

    from nexgap_spark.session import get_spark
    from pyspark import SparkContext

    t = time.perf_counter()
    # The heap is committed and touched up front (-Xms = the 4g -Xmx run.py
    # sets). With the default growing heap, PSS is set by when the GC
    # chooses to grow the heap and spreads wider between runs than any
    # bound (README, Steadiness); pre-touched, peak_pss_mb is steady and
    # moves with everything but heap use under 4g, which jvm.alloc_mb
    # reports instead.
    spark = get_spark("nexgap_benchmark", extra_conf={
        "spark.driver.extraJavaOptions": "-Xms4g -XX:+AlwaysPreTouch",
    })
    session_s = time.perf_counter() - t
    jvm_pid = SparkContext._gateway.proc.pid

    t = time.perf_counter()
    if args.workload == "pipeline":
        from pipeline import PipelineInputs, PipelineRunner

        source = PipelineRunner(spark, PipelineInputs(spark, DATA_DIR, args.seed, os.getcwd()))
    else:
        with open(args.digests) as f:
            source = CatalogItems(spark, CURATION_ITEMS, json.load(f))
    input_gen_s = time.perf_counter() - t
    items = source.items()
    order = sorted(items)
    random.Random(args.seed).shuffle(order)

    smeter, jmeter = meter.SparkMeter(spark), meter.JvmMeter(spark)
    steal0, total0 = meter.cpu_jiffies()
    load_start = meter.load1()
    with meter.PssSampler(jvm_pid) as pss:
        warm = [run_pass(items, order, False, smeter, jmeter, source, pss)
                for _ in range(1 + WARM_PASSES[args.workload])]
        setup_s = time.perf_counter() - T_START

        timed, calib = [], []
        steal1, total1 = meter.cpu_jiffies()
        t_timed = time.perf_counter()
        window = WINDOW[args.workload]
        min_passes = 2 if traced_run else window
        while len(timed) < min_passes or time.perf_counter() - t_timed < args.seconds:
            traced = traced_run and len(timed) % 2 == 1
            timed.append(run_pass(items, order, traced, smeter, jmeter, source, pss))
            timed[-1]["traced"] = traced
            calib.append(meter.calibration_unit())
        steal2, total2 = meter.cpu_jiffies()

    plain = [p for p in timed if not p["traced"]][:window]
    attempted = sum(len(p["items"]) for p in timed)
    ok = sum(p["ok"] for p in timed)
    failed_names = sorted({n for p in warm + timed for n in p["failed"]})
    walls = [p["wall_s"] for p in plain]
    drift = {
        "pass_s": [round(p["wall_s"], 4) for p in timed],
        "pass_pss_mb": [round(p["pss_mb"]) for p in timed],
        "window": window,
        "warm_pass_s": [round(p["wall_s"], 4) for p in warm],
        "calib_s": {"median": _median(calib), "quartiles": _quartiles(calib), "n": len(calib)},
        "steal_pct": 100.0 * (steal2 - steal1) / max(1, total2 - total1),
        "steal_pct_setup": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "load1": [load_start, meter.load1()],
        "session_s": session_s,
        "input_gen_s": input_gen_s,
        "order": order,
        "item_s": {n: _median([p["items"][n] for p in timed]) for n in order},
        "failed_items": failed_names,
    }
    if traced_run:
        drift["traced_counts"] = {
            k: [p["layers"].get(k, 0.0) for p in timed if p["traced"]] for k in COUNT_METRICS
        }

    if not traced_run:
        metrics = {
            "pass_s": (_median(walls), "s"),
            "cpu_s": (_median([p["cpu_s"] for p in plain]), "s"),
            "peak_pss_mb": (_median([p["pss_mb"] for p in plain]), "MB"),
            "setup_s": (setup_s, "s"),
            "ok_ratio": (ok / attempted, "ratio"),
        }
    else:
        metrics = layer_metrics(timed, pss, drift)
    result = {
        "correct": not failed_names,
        "attempted": attempted,
        "failed": attempted - ok,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(args.out, "w") as f:
        json.dump({"result": result, "drift": drift}, f)
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits on EOF, and its workers with it
    gateway.proc.wait(timeout=30)
    return 0


LAYER_UNITS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_s": "s", "spark.exec_run_s": "s", "spark.jvm_cpu_s": "s",
    "spark.python_s": "s", "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "plans.build_s": "s", "plans.collect_s": "s",
    "jvm.codegen_compiles": "count", "jvm.jit_s": "s", "jvm.gc_s": "s", "jvm.alloc_mb": "MB",
    "external.synthesize_s": "s", "external.execute_s": "s", "external.ok_ratio": "ratio",
    "sources.read_spans_s": "s", "sources.corrupt_ratio": "ratio",
    "operators.convert_s": "s", "operators.convert_records": "count",
    "functions.validate_s": "s", "functions.valid_ratio": "ratio", "functions.emit_s": "s",
    "sources.write_s": "s", "sources.write_mb": "MB",
}


COUNT_METRICS = ("spark.jobs", "spark.stages", "spark.tasks", "jvm.codegen_compiles") + tuple(
    f"{n.split('_')[0]}.jobs" for n in CURATION_ITEMS
)


def layer_metrics(timed: list[dict], pss, drift: dict) -> dict:
    traced = [p for p in timed if p["traced"]]
    plain = [p for p in timed if not p["traced"]]
    out: dict = {}
    keys = list(LAYER_UNITS) + [f"{n.split('_')[0]}.{m}" for n in CURATION_ITEMS
                                for m in ("jobs", "wall_s")]
    for k in keys:
        unit = LAYER_UNITS.get(k, "count" if k.endswith(".jobs") else "s")
        out[k] = (_median([p["layers"].get(k, 0.0) for p in traced]), unit)
    for k in ("driver", "jvm", "workers"):
        out[f"pss.{k}_mb"] = (pss.peak[k], "MB")
    pooled = sorted(v for p in timed for v in p["items"].values())
    q = statistics.quantiles(pooled, n=10) if len(pooled) >= 2 else [0.0] * 9
    out["item_s.p50"] = (_median(pooled), "s")
    out["item_s.p90"] = (q[8], "s")
    out["item_s.n"] = (len(pooled), "count")
    out["trace.overhead_s"] = (
        _median([p["wall_s"] for p in traced]) - _median([p["wall_s"] for p in plain]), "s"
    )
    out["drift.calib_s"] = (drift["calib_s"]["median"], "s")
    out["drift.steal_pct"] = (drift["steal_pct"], "%")
    return out


if __name__ == "__main__":
    sys.exit(main())
