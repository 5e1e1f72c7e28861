"""Per-layer probes for the traced run. Each probe times calls into one
module's public functions from here, under a span named after the metric;
layers are the repository's modules (session, io, kernels, codec, rollup,
checkpoint, entry) plus Spark's own runtime counters.

A traced run of any workload reports every per-layer metric: the layers
its own loop does not reach are measured by a tour that sets up the other
workloads (their warm-up passes run traced) and one live refresh cycle.
"""

from __future__ import annotations

import os
import time

import numpy as np

import inputs
from measure import median
from workloads import MIX_ROWS, Backfill, Live, QueryMix, _noop

KERNEL_BATCH = 2048   # rows per Arrow batch, as the rollup's mapInArrow gets
SPARK_SPANS = ("backfill.run", "live.refresh", "live.point_read",
               "live.range_read") + tuple(f"mix.{r}" for r in MIX_ROWS)


def tour(ctx, main) -> list:
    """Set up every workload other than ``main`` under the tracer (its
    warm-up work is traced), plus one timed live cycle. Returns all
    workload objects, ``main`` first."""
    out = [main]
    for cls in (Backfill, Live, QueryMix):
        if isinstance(main, cls):
            continue
        _session_defaults(ctx.spark)
        w = cls(ctx)
        w.setup()
        if cls is Live:
            w.warming = False
            w.unit()
        out.append(w)
    return out


def _session_defaults(spark) -> None:
    """Undo the split-size settings ``query_mix`` applies, so every other
    workload and probe runs on the session as ``get_spark`` built it."""
    for key in QueryMix.SPLIT_CONFS:
        spark.conf.unset(key)


def _timed(tracer, name: str, fn):
    t0 = time.perf_counter()
    with tracer.span(name):
        out = fn()
    return time.perf_counter() - t0, out


def _kernel_and_codec(files: list[str]) -> tuple[dict[str, float], bool]:
    """Direct in-process calls of the rollup kernels over the fixture's
    2048-row Arrow batches, then the codecs over the per-(doc, tier)
    arrays those produce. Returns the metrics and whether every codec round
    trip was exact."""
    import pyarrow.parquet as pq

    from tsrollup import TIER_FACTOR
    from tsrollup.codec import (dod_decode_many, dod_encode_many,
                                gorilla_decode_many, gorilla_encode_many)
    from tsrollup.kernels import (batch_tier_chain, batch_window_partials,
                                  derive_stats, gap_fill)

    busy = 0.0
    points = 0
    ints: list[np.ndarray] = []
    floats: list[np.ndarray] = []
    n_windows = 0
    for f in files:
        for rb in pq.ParquetFile(f).iter_batches(KERNEL_BATCH):
            toks = rb.column("tokens").to_pylist()
            masks = rb.column("gap_mask").to_pylist()
            arrs = [np.asarray(t, np.int32) for t in toks]
            ms = [np.asarray(m, bool) for m in masks]
            t0 = time.perf_counter()
            filled = [gap_fill(t, m) for t, m in zip(arrs, ms)]
            base, nw = batch_window_partials(filled)
            chain = batch_tier_chain(base, nw, TIER_FACTOR)
            stats = {tier: derive_stats(p) for tier, (p, _) in chain.items()}
            busy += time.perf_counter() - t0
            points += sum(a.shape[0] for a in filled)
            for tier, (p, tnw) in chain.items():
                ends = np.cumsum(tnw)
                n_windows += int(tnw.sum())
                for s, e in zip(ends - tnw, ends):
                    for k in ("window_start", "count", "sum", "sumsq",
                              "min", "max"):
                        ints.append(p[k][s:e].astype(np.int64))
                    for k in ("mean", "var", "spec_centroid"):
                        floats.append(stats[tier][k][s:e])
                    for k in ("spec_energy", "spec_mass"):
                        floats.append(p[k][s:e])
                    floats.append(p["band_energy"][s:e].reshape(-1))
    t0 = time.perf_counter()
    ib = dod_encode_many(ints)
    fb = gorilla_encode_many(floats)
    t1 = time.perf_counter()
    ii = dod_decode_many(ib)
    ff = gorilla_decode_many(fb)
    t2 = time.perf_counter()
    exact = (all(np.array_equal(a, b) for a, b in zip(ints, ii))
             and all(a.tobytes() == b.tobytes() for a, b in zip(floats, ff)))
    return {
        "kernels.busy_s": busy,
        "kernels.points_per_s": points / busy,
        "codec.encode_s": t1 - t0,
        "codec.decode_s": t2 - t1,
        "codec.bytes_per_point":
            (sum(map(len, ib)) + sum(map(len, fb))) / n_windows,
    }, exact


def probe(ctx, runs: list) -> dict[str, float]:
    """Every per-layer metric except Spark's event-log counters."""
    from tsrollup.checkpoint import (completed_buckets, read_watermarks,
                                     refresh_lag)
    from tsrollup.io import read_table, write_table
    from tsrollup.rollup import rollup_sequences

    spark, tr = ctx.spark, ctx.tracer
    _session_defaults(spark)
    bf = next(w for w in runs if isinstance(w, Backfill))
    live = next(w for w in runs if isinstance(w, Live))
    m: dict[str, float] = {"session.start_s": ctx.session_s}

    cols = ["doc_id", "tokens", "source", "gap_mask"]
    m["io.scan_s"], _ = _timed(tr, "io.scan", lambda: _noop(
        read_table(spark, bf.input).select(*cols)))
    m["rollup.map_s"], _ = _timed(tr, "rollup.map", lambda: _noop(
        rollup_sequences(read_table(spark, bf.input))))
    pinned = rollup_sequences(read_table(spark, bf.input)).localCheckpoint()
    m["rollup.points"] = pinned.count()
    dest = os.path.join(ctx.work, "probe-write")
    m["io.write_s"], _ = _timed(tr, "io.write",
                                lambda: write_table(pinned, dest))
    m["io.bytes_written"] = inputs.tree_bytes(dest)

    kc, exact = _kernel_and_codec(bf.files)
    m.update(kc)
    if not exact:
        ctx.probe_errors.append("codec round trip not exact")

    read_plan = tr.durations("rollup.read_plan")
    read_exec = tr.durations("rollup.read_exec")
    m["rollup.read_plan_s"] = median(read_plan)
    m["rollup.read_exec_s"] = median(read_exec)

    m["checkpoint.run_s"] = median(tr.durations("backfill.run"))
    store = bf.runs[-1][1]
    m["checkpoint.lineage_read_s"], _ = _timed(
        tr, "checkpoint.lineage_read", lambda: completed_buckets(spark, store))
    m["checkpoint.watermark_read_s"], _ = _timed(
        tr, "checkpoint.watermark_read",
        lambda: read_watermarks(spark, live.store))
    m["checkpoint.refresh_scan_s"], _ = _timed(
        tr, "checkpoint.refresh_scan",
        lambda: refresh_lag(spark, live.input, live.store).collect())
    m["checkpoint.useful_ratio"] = median(live.useful)
    m["checkpoint.store_files"] = inputs.tree_files(f"{live.store}/data")

    # the timed passes where the workload ran them, else the traced
    # correctness pass of the tour
    mix = next(w for w in runs if isinstance(w, QueryMix))
    for row in MIX_ROWS:
        for part, timed in (("build", mix.builds[row]),
                            ("exec", mix.execs[row])):
            m[f"entry.{row}.{part}_s"] = median(
                timed or tr.durations(f"entry.{row}.{part}"))
    return m


def spark_counters(event_log: dict[str, dict[str, float]],
                   spans_run: dict[str, int]) -> dict[str, float]:
    """``spark.<span>.{jobs,shuffle_write_bytes,executor_cpu_s}`` per
    execution of the span, for the spans whose jobs carry their name as
    job group; ``spans_run`` counts each span's executions."""
    m: dict[str, float] = {}
    for span in SPARK_SPANS:
        rec = event_log.get(span, {"jobs": 0, "shuffle_write_bytes": 0,
                                   "executor_cpu_s": 0.0})
        n = max(1, spans_run.get(span, 0))
        for k in ("jobs", "shuffle_write_bytes", "executor_cpu_s"):
            m[f"spark.{span}.{k}"] = rec[k] / n
    return m
