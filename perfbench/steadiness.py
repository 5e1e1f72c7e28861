"""Run the benchmark on two sets of ten seeds per workload and record the
spread of every reported metric: the evidence BENCHMARK.json's bounds rest
on. Writes ``perfbench/STEADINESS.json``.

    python3 perfbench/steadiness.py

Run from the checkout root. The two sets use the seeds in ``SETS``. Their
runs are interleaved: seed i of the first set, then seed i of the second,
for each workload in turn. So a change in the machine's load during the
session hits both sets alike, and the comparison between the sets measures
the benchmark, not the load. After the sets, each workload gets one traced
run on a held-out seed.

Per set, workload and metric: the values, their median, quartiles (as
``statistics.quantiles(values, n=4)`` gives them) and the spread
(IQR / median). The per-workload record fields that are not gated metrics
(``detail``: backfill_seqs_per_s, mix_total_s, …, and the whole-tree
``peak_rss_mb``) are summarized the same way. ``trace_overhead`` is the
traced run's op_geomean_s over the untraced median of both sets, minus
one. ``agreement`` holds, per workload and gated metric, both medians, the
relative change between them, and whether each spread (``setup_s``
exempt) and the change, in either direction, stay within the metric's
bound.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import spread  # noqa: E402

SETS = (range(101, 111), range(201, 211))
TRACED_SEED = 301
OUT = os.path.join(HERE, "STEADINESS.json")


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict, float]:
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, check=True)
    wall = time.time() - t0
    result = json.loads(p.stdout.strip().splitlines()[-1])
    recs = glob.glob(os.path.join(".perfbench", "records",
                                  f"{workload}-seed{seed}-trace{trace}-*.json"))
    with open(max(recs, key=os.path.getmtime)) as fh:
        record = json.load(fh)
    return result, record, wall


def _stats(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"values": values, "median": statistics.median(values),
            "q1": q1, "q3": q3, "spread": spread(values)}


def _numeric_leaves(d: dict, prefix: str = "") -> dict[str, float]:
    out = {}
    for k, v in d.items():
        key = f"{prefix}{k}"
        if isinstance(v, dict):
            out.update(_numeric_leaves(v, key + "."))
        elif isinstance(v, (int, float)) and not isinstance(v, bool):
            out[key] = float(v)
    return out


def agreement(first: dict, second: dict, bench: dict) -> dict:
    """Per workload and gated metric: each set's spread within the bound
    (``setup_s`` exempt), and the second median within the bound of the
    first, better or worse."""
    out: dict = {}
    for m in bench["end_to_end"]:
        name, bound = m["name"], m["bound"]
        for w, b_set in second["workloads"].items():
            a = first["workloads"][w]["metrics"][name]
            b = b_set["metrics"][name]
            change = (b["median"] - a["median"]) / a["median"]
            spreads_ok = name == "setup_s" or (
                a["spread"] <= bound and b["spread"] <= bound)
            out.setdefault(w, {})[name] = {
                "bound": bound, "first_median": a["median"],
                "second_median": b["median"], "change": change,
                "spreads": [a["spread"], b["spread"]],
                "ok": spreads_ok and abs(change) <= bound}
    return out


class _Set:
    def __init__(self, first_seed: int):
        self.first_seed = first_seed
        self.w: dict[str, dict] = {}

    def add(self, workload: str, seed: int, result: dict, record: dict,
            wall: float) -> None:
        r = self.w.setdefault(workload, {"seeds": [], "correct": [],
                                         "walls": [], "metrics": {},
                                         "detail": {}})
        r["seeds"].append(seed)
        r["walls"].append(wall)
        r["correct"].append(result["correct"] and result["failed"] == 0)
        for k, v in result["metrics"].items():
            r["metrics"].setdefault(k, []).append(v["value"])
        leaves = _numeric_leaves(record["detail"])
        leaves["error_rate"] = record["error_rate"]
        leaves["peak_rss_mb"] = record["peak_rss_mb"]
        for k, v in leaves.items():
            r["detail"].setdefault(k, []).append(v)

    def report(self) -> dict:
        return {"first_seed": self.first_seed, "workloads": {
            w: {"seeds": r["seeds"], "all_correct": all(r["correct"]),
                "run_wall_s": _stats(r["walls"]),
                "metrics": {k: _stats(v) for k, v in r["metrics"].items()},
                "detail": {k: _stats(v) for k, v in r["detail"].items()
                           if len(v) == len(r["seeds"])
                           and statistics.median(v)}}
            for w, r in self.w.items()}}


def main() -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    seconds = bench["run_seconds"]
    sets = [_Set(s[0]) for s in SETS]
    for i in range(len(SETS[0])):
        for w in workloads:
            for seeds, st in zip(SETS, sets):
                result, record, wall = _run(w, seeds[i], seconds, 0)
                print(f"{w} seed {seeds[i]}: {wall:.1f}s {json.dumps(result)}",
                      file=sys.stderr, flush=True)
                st.add(w, seeds[i], result, record, wall)
    reports = [st.report() for st in sets]
    traced = {}
    for w in workloads:
        result, record, wall = _run(w, TRACED_SEED, seconds, 1)
        print(f"{w} traced: {wall:.1f}s correct={result['correct']}",
              file=sys.stderr, flush=True)
        untraced = statistics.median(
            v for st in sets for v in st.w[w]["metrics"]["op_geomean_s"])
        traced[w] = {
            "seed": TRACED_SEED, "wall_s": wall,
            "correct": result["correct"] and result["failed"] == 0,
            "per_layer_metrics": len(result["metrics"]),
            "trace_overhead":
                result["metrics"]["trace.op_geomean_s"]["value"]
                / untraced - 1}
    doc = {"run_seconds": seconds, "order": "interleaved", "sets": reports,
           "traced_runs": traced,
           "agreement": agreement(reports[0], reports[1], bench)}
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    for w, r in doc["agreement"].items():
        for k, a in r.items():
            print(f"{w:10s} {k:20s} medians {a['first_median']:.4g} "
                  f"{a['second_median']:.4g} change {a['change']:+.3f} "
                  f"spreads {a['spreads'][0]:.3f} {a['spreads'][1]:.3f} "
                  f"ok {a['ok']}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
