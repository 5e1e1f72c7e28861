"""Measure what each workload costs at several input sizes and what
dominates one unit of its work: the evidence the sizes in ``workloads.py``
are chosen from. Writes ``perfbench/SIZING.json``.

    python3 perfbench/sizing.py [--fixture-dir SF_DIR]

Run from the checkout root. One Spark session, set up as ``run.py`` sets
it up, runs every size in turn.

* ``backfill``, for each doc count in ``BACKFILL_DOCS``: the input build,
  the cold and the warm checkpointed passes, and the split of a pass into
  the input scan (``io.scan_s``), the scan plus the kernels and the Arrow
  boundary (``rollup.map_s``, one job over the whole input with no
  checkpointing), and the rest: per-bucket jobs, lineage and commit.
* ``query_mix``, for each multiple in ``MIX_SCALES`` of the row counts in
  ``workloads.STAR_ROWS``: the input build, the cold (collected) pass and
  warm passes split into build and execute per row.
* ``--fixture-dir``: summary statistics of star tables generated at that
  fixture's row counts beside the fixture's own (distinct keys, value
  quantiles, duplicate texts), so the generator can be checked against it.

Every pass is checked as in a benchmark run; the result counts failures.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

BACKFILL_DOCS = (3_000, 8_000, 16_000, 32_000)
MIX_SCALES = (1, 10)
WARM_PASSES = 3
PROBES = 3
STAR_STATS = {
    "events": "count(*) AS n, count(DISTINCT user_id) AS users, "
              "quantile_cont(value, [0.1, 0.5, 0.9, 0.99]) AS value_q, "
              "count(DISTINCT event_type) AS types",
    "documents": "count(*) AS n, count(DISTINCT text) AS texts, "
                 "quantile_cont(n_chars, [0.1, 0.5, 0.9]) AS chars_q, "
                 "count(DISTINCT lang) AS langs, "
                 "count(DISTINCT source) AS sources",
    "lineitem": "count(*) AS n, count(DISTINCT l_orderkey) AS orders, "
                "count(DISTINCT l_partkey) AS parts, "
                "count(DISTINCT l_suppkey) AS suppliers, "
                "avg(l_quantity) AS qty, avg(l_extendedprice) AS price",
}


def _median_wall(fn, n: int = PROBES) -> float:
    from measure import median

    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return median(ts)


def backfill_at(ctx, docs: int) -> dict:
    from measure import median
    import workloads
    from tsrollup.io import read_table
    from tsrollup.rollup import rollup_sequences

    workloads.BACKFILL_FILES = docs // workloads.BACKFILL_DOCS_PER_FILE
    w = workloads.Backfill(ctx)
    w.setup()
    cold, first_warm = (o.seconds for o in w.ops)
    w.warming = False
    for _ in range(WARM_PASSES):
        w.unit()
    warm = median(w.latencies())
    spark = ctx.spark
    scan = _median_wall(lambda: workloads._noop(
        read_table(spark, w.input).select("doc_id", "tokens", "source",
                                          "gap_mask")))
    mapped = _median_wall(lambda: workloads._noop(
        rollup_sequences(read_table(spark, w.input))))
    w.check()
    return {
        "docs": w.n_docs, "tokens": ctx.sizes["backfill"]["tokens"],
        "bytes": w.input_bytes, "inputs_s": w.setup_parts["inputs_s"],
        "cold_pass_s": cold, "second_pass_s": first_warm,
        "warm_passes_s": w.latencies(), "warm_pass_s": warm,
        "io.scan_s": scan, "rollup.map_s": mapped,
        "share": {"scan": scan / warm,
                  "kernels_and_boundary": (mapped - scan) / warm,
                  "buckets_lineage_commit": (warm - mapped) / warm},
        "seqs_per_s": w.n_docs / warm,
        "attempted": w.attempted, "failed": w.failed, "notes": w.notes,
    }


def query_mix_at(ctx, rows: dict[str, int]) -> dict:
    from measure import median
    import workloads

    workloads.STAR_ROWS = rows
    w = workloads.QueryMix(ctx)
    w.setup()
    cold = {o.kind[len("mix."):]: o.seconds for o in w.ops}
    w.warming = False
    for _ in range(WARM_PASSES):
        w.unit()
    w.check()
    for k in w.SPLIT_CONFS:
        ctx.spark.conf.unset(k)
    build = {r: median(w.builds[r]) for r in workloads.MIX_ROWS}
    execute = {r: median(w.execs[r]) for r in workloads.MIX_ROWS}
    return {
        "rows": rows, "bytes": ctx.sizes["query_mix"]["bytes"],
        "inputs_s": w.setup_parts["inputs_s"],
        "cold_pass_s": sum(cold.values()), "warm_passes_s": w.passes,
        "warm_pass_s": median(w.passes),
        "build_s": sum(build.values()), "exec_s": sum(execute.values()),
        "per_row": {r: {"cold_s": cold[r], "build_s": build[r],
                        "exec_s": execute[r]} for r in workloads.MIX_ROWS},
        "attempted": w.attempted, "failed": w.failed, "notes": w.notes,
    }


def compare_star(fixture_dir: str, work: str, seed: int) -> dict:
    """The same statistics over the fixture and over tables generated at
    its row counts."""
    import duckdb

    import inputs

    def stats(d: str) -> dict:
        con = duckdb.connect()
        try:
            out = {}
            for t, sql in STAR_STATS.items():
                rel = con.sql(f"SELECT {sql} FROM read_parquet('{d}/{t}.parquet')")
                out[t] = dict(zip(rel.columns, rel.fetchone()))
            return out
        finally:
            con.close()

    fixture = stats(fixture_dir)
    gen = os.path.join(work, "star-compare")
    inputs.write_star_tables(gen, seed, n_events=fixture["events"]["n"],
                             n_docs=fixture["documents"]["n"],
                             n_lineitem=fixture["lineitem"]["n"])
    return {"fixture": fixture, "generated": stats(gen)}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--fixture-dir")
    args = ap.parse_args()

    import run

    root = os.getcwd()
    work = os.path.join(root, ".perfbench", "sizing")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run._prepare_env(work, trace=False)
    sys.path.insert(0, root)
    from spans import Tracer
    from tsrollup.session import get_spark

    import workloads

    workloads.INPUT_BUILDS = 1
    seed = 1
    star_rows = dict(workloads.STAR_ROWS)
    t0 = time.perf_counter()
    spark = get_spark("perfbench-sizing", master=f"local[{run.SLOTS}]")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    out: dict = {"machine": run.machine_record(root), "seed": seed,
                 "session_s": session_s, "backfill": [], "query_mix": []}
    try:
        for docs in BACKFILL_DOCS:
            ctx = run.Ctx(spark, Tracer("sizing", enabled=False),
                          os.path.join(work, f"backfill-{docs}"), seed,
                          session_s)
            out["backfill"].append(backfill_at(ctx, docs))
            run._log(f"backfill {docs}: {json.dumps(out['backfill'][-1])}")
        for scale in MIX_SCALES:
            os.environ["TSROLLUP_BENCH_CACHE"] = os.path.join(
                work, f"cache-x{scale}")
            ctx = run.Ctx(spark, Tracer("sizing", enabled=False),
                          os.path.join(work, f"query_mix-x{scale}"), seed,
                          session_s)
            out["query_mix"].append(query_mix_at(
                ctx, {k: v * scale for k, v in star_rows.items()}))
            run._log(f"query_mix x{scale}: {json.dumps(out['query_mix'][-1])}")
    finally:
        run._stop(spark)
    if args.fixture_dir:
        out["star_tables"] = compare_star(args.fixture_dir, work, seed)
    with open(os.path.join(HERE, "SIZING.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True, default=str)
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
