"""tsrollup benchmark: one command, three workloads.

Run from the root of a tsrollup checkout::

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 6 --trace 0

Workloads: ``backfill``, ``live``, ``query_mix`` (see README.md). One Spark
session at ``local[2]`` and one closed-loop client (each call waits for its
reply). Inputs are generated from ``--seed``; every run starts from an
empty work directory (``.perfbench/work``, which also holds the engine's
``TSROLLUP_BENCH_CACHE``), so every run pays the same set-up.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` the per-layer ones.
The full record of the run (seed, machine, input sizes, every sample,
per-workload detail) is written to ``.perfbench/records/``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SLOTS = 2            # local[2]: each Arrow/pandas slot also drives a worker
DRIVER_MEM = "4g"

END_TO_END = {
    "setup_s": "s",
    "op_geomean_s": "s",
    "python_peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from layers import SPARK_SPANS
    from workloads import MIX_ROWS

    units = {
        "session.start_s": "s",
        "io.scan_s": "s", "io.write_s": "s", "io.bytes_written": "bytes",
        "kernels.busy_s": "s", "kernels.points_per_s": "1/s",
        "codec.encode_s": "s", "codec.decode_s": "s",
        "codec.bytes_per_point": "bytes",
        "rollup.map_s": "s", "rollup.points": "count",
        "rollup.read_plan_s": "s", "rollup.read_exec_s": "s",
        "checkpoint.run_s": "s", "checkpoint.lineage_read_s": "s",
        "checkpoint.watermark_read_s": "s",
        "checkpoint.refresh_scan_s": "s", "checkpoint.useful_ratio": "ratio",
        "checkpoint.store_files": "count",
    }
    for row in MIX_ROWS:
        units[f"entry.{row}.build_s"] = "s"
        units[f"entry.{row}.exec_s"] = "s"
    for span in SPARK_SPANS:
        units[f"spark.{span}.jobs"] = "count"
        units[f"spark.{span}.shuffle_write_bytes"] = "bytes"
        units[f"spark.{span}.executor_cpu_s"] = "s"
    units["trace.op_geomean_s"] = "s"
    return units


class Ctx:
    """What a workload needs from the run: the session, the tracer, its
    work directory and seed; it reports input sizes back."""

    def __init__(self, spark, tracer, work: str, seed: int, session_s: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.session_s = session_s
        self.sizes: dict = {}
        self.probe_errors: list[str] = []


def _children(pid: int) -> list[int]:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            kids.append(int(d))
    return kids


def _tree() -> list[int]:
    pids, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by this process's tree."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def reset_peak_rss() -> None:
    """Reset the peak RSS (VmHWM) of every process in this process's tree
    to its current RSS, so a peak read later covers only what ran after
    the reset, not the benchmark's own set-up."""
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            continue


def tree_peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of each live process in this process's tree —
    driver Python, the JVM and its Python workers — keyed ``pid:name``."""
    out = {}
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh)
        except OSError:
            continue
        if "VmHWM" in fields:
            out[f"{pid}:{fields['Name'].strip()}"] = \
                int(fields["VmHWM"].split()[0]) / 1024
    return out


def machine_record(root: str) -> dict:
    import numpy
    import pyarrow
    import pyspark

    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           capture_output=True, text=True, check=False)
        commit = r.stdout.strip() or None
    h = hashlib.sha256()
    pkg = os.path.join(root, "tsrollup")
    for f in [os.path.join(pkg, n) for n in sorted(os.listdir(pkg))
              if n.endswith(".py")] + [os.path.join(root, "__spark_entry__.py")]:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "slots": SLOTS,
        "driver_memory": DRIVER_MEM,
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "git_commit": commit,
        "source_sha256": h.hexdigest(),
    }


def _prepare_env(work: str, trace: bool) -> str:
    """Point every scratch location of the process tree into ``work``;
    returns the event-log directory (traced runs)."""
    tmp = os.path.join(work, "tmp")
    evlog = os.path.join(work, "eventlog")
    for d in (tmp, evlog, os.path.join(work, "spark-local"),
              os.path.join(work, "cache")):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["TSROLLUP_BENCH_CACHE"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TSROLLUP_DRIVER_MEM"] = DRIVER_MEM
    # every JVM of the tree (spark-submit's launcher too): temp files go to
    # ``tmp``, and no /tmp/hsperfdata_* is written
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    confs = [f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
             "spark.ui.showConsoleProgress=false"]
    if trace:
        confs += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{evlog}",
                  "spark.eventLog.compress=false",
                  "spark.eventLog.rolling.enabled=false"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(c)}" for c in confs) + " pyspark-shell"
    import tempfile
    tempfile.tempdir = None
    return evlog


def _stop(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run(args, root: str) -> dict:
    from measure import error_rate, geomean
    from spans import Tracer, reduce_event_log, self_times

    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    evlog = _prepare_env(work, args.trace)
    sys.path.insert(0, root)

    import workloads
    from tsrollup.session import get_spark

    run_id = uuid.uuid4().hex[:12]
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=f"local[{SLOTS}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    tracer = Tracer(run_id, enabled=bool(args.trace),
                    spark_context=spark.sparkContext)
    ctx = Ctx(spark, tracer, work, args.seed, session_s)
    try:
        main = workloads.WORKLOADS[args.workload](ctx)
        main.setup()
        setup_s = session_s + sum(main.setup_parts.values())
        _log(f"setup {setup_s:.2f}s {main.setup_parts}")
        reset_peak_rss()
        cpu0 = tree_cpu_s()
        main.loop(args.seconds)
        loop_cpu_s = tree_cpu_s() - cpu0
        _log(f"loop done: {len(main.latencies())} timed ops")
        peak_rss = tree_peak_rss_mb()
        runs = [main]
        layer: dict[str, float] = {}
        if args.trace:
            import layers

            runs = layers.tour(ctx, main)
            layer = layers.probe(ctx, runs)
            layer["trace.op_geomean_s"] = geomean(main.latencies())
        for w in runs:
            w.check()
        detail = main.detail()
    finally:
        _stop(spark)

    attempted = sum(w.attempted for w in runs)
    failed = sum(w.failed for w in runs) + len(ctx.probe_errors)
    notes = [n for w in runs for n in w.notes] + ctx.probe_errors
    if args.trace:
        logs = [os.path.join(evlog, f) for f in os.listdir(evlog)
                if not f.startswith(".")]
        if len(logs) != 1 or not os.path.isfile(logs[0]):
            raise RuntimeError(f"expected one event log file, found {logs}")
        with open(logs[0]) as fh:
            counters = reduce_event_log(fh)
        spans_run: dict[str, int] = {}
        for s in tracer.spans:
            spans_run[s.name] = spans_run.get(s.name, 0) + 1
        layer.update(layers.spark_counters(counters, spans_run))
        units = per_layer_units()
        metrics = {k: {"value": layer[k], "unit": u}
                   for k, u in units.items() if k in layer}
    else:
        values = {"setup_s": setup_s,
                  "op_geomean_s": geomean(main.latencies()),
                  "python_peak_rss_mb": sum(
                      v for k, v in peak_rss.items()
                      if k.split(":", 1)[1].startswith("python"))}
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in END_TO_END.items()}

    self_s: dict[str, float] = {}
    selfs = self_times(tracer.spans)
    for s in tracer.spans:
        self_s[s.name] = self_s.get(s.name, 0.0) + selfs[s.span_id]

    record = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "machine": machine_record(root), "inputs": ctx.sizes,
        "setup": {"session_s": session_s, **main.setup_parts},
        "ops": {k: main.latencies(k)
                for k in sorted({o.kind for o in main.ops if o.timed})},
        "detail": {**detail, "loop_cpu_s_per_op":
                   loop_cpu_s / len(main.latencies())},
        "peak_rss_mb": sum(peak_rss.values()),
        "peak_rss_mb_by_process": peak_rss,
        "error_rate": error_rate(failed, attempted),
        "notes": notes, "span_self_s": self_s,
        "result": {"correct": failed == 0, "attempted": attempted,
                   "failed": failed, "metrics": metrics},
    }
    rec_dir = os.path.join(base, "records")
    os.makedirs(rec_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{run_id}"
    with open(os.path.join(rec_dir, stem + ".json"), "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    if args.trace:
        tracer.write(os.path.join(rec_dir, stem + ".spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)
    return record


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("backfill", "live", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    missing = [p for p in ("tsrollup", "__spark_entry__.py", "tools")
               if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: {', '.join(missing)} not found in {root}; run "
              "from the root of a tsrollup checkout", file=sys.stderr)
        return 2
    record = run(args, root)
    _log(json.dumps({k: record[k] for k in ("setup", "detail", "notes")},
                    default=str)[:4000])
    print(json.dumps(record["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
