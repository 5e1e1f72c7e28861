"""The three workloads. Each has a set-up, a closed loop of timed
operations (one client, each call waits for its reply), and correctness
checks that run after the loop, untimed.

* ``backfill``  — full checkpointed backfills of the F1 fixture.
* ``live``      — a continuous aggregate refreshed epoch by epoch while the
                  same client reads it (point and range reads).
* ``query_mix`` — twelve ``__spark_entry__.queries()`` rows, built and
                  materialized to the noop sink in a fixed order.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from dataclasses import dataclass

import numpy as np

import inputs
from measure import median

# ---- sizes. Chosen so one run (set-up, loop, checks) fits the benchmark's
# time budget on a 4-core box. sizing.py measures the cost and the make-up
# of a unit at these and larger sizes (SIZING.json, README.md).
BACKFILL_FILES, BACKFILL_DOCS_PER_FILE = 12, 250       # 3,000 docs
BACKFILL_WARM_PASSES = 2
LIVE_E0_FILES, LIVE_DOCS_PER_FILE = 4, 500             # 2,000 docs at epoch 0
LIVE_POINT_READS, LIVE_RANGE_READS = 3, 1              # per refresh cycle
STAR_ROWS = {"n_events": 10_000, "n_docs": 500, "n_lineitem": 60_000}
MIX_ROWS = (
    "rollup_compressed_roundtrip", "rollup_tier_reagg",
    "cross_channel_spectral", "sketch_distinct", "dedup_cluster",
    "lttb_series", "asof_nearest", "binary_segments", "heavy_hitters",
    "topk_events", "token_budget", "tier_join",
)
INPUT_BUILDS = 3       # set-up repeats input generation; its median counts
N_BUCKETS = 8


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def seq_column():
    """Explicit ingest sequence for the F1 ids ``<source>-<batch>-<index>``:
    the index restarts at 0 in every file, so the sequence is
    ``batch * 10^8 + index`` (monotone per source across files)."""
    from pyspark.sql import functions as F

    parts = F.split(F.col("doc_id"), "-")
    return (F.element_at(parts, -2).cast("long") * F.lit(100_000_000)
            + F.element_at(parts, -1).cast("long"))


def _timed_builds(build) -> float:
    """Run ``build`` INPUT_BUILDS times (each writes the same bytes); the
    median wall is the input part of set-up."""
    ts = []
    for _ in range(INPUT_BUILDS):
        t0 = time.perf_counter()
        build()
        ts.append(time.perf_counter() - t0)
    return median(ts)


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    timed: bool


class Docs:
    """Where each generated F1 doc lives and how many tokens it has. The
    oracle reads a doc's tokens back from its file when it needs them, so
    the benchmark process never holds the corpus in memory."""

    def __init__(self):
        self.length: dict[str, int] = {}
        self.file: dict[str, str] = {}

    def add_files(self, files: list[str]) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        for f in files:
            t = pq.read_table(f, columns=["doc_id", "tokens"])
            n = pc.list_value_length(t["tokens"]).to_pylist()
            for d, ln in zip(t["doc_id"].to_pylist(), n):
                self.length[d] = ln
                self.file[d] = f

    def oracle_rows(self, doc_id: str) -> list[dict]:
        import pyarrow.parquet as pq

        from tsrollup.oracle import rollup_doc

        t = pq.read_table(self.file[doc_id],
                          filters=[("doc_id", "==", doc_id)]).to_pydict()
        return rollup_doc(doc_id, t["source"][0],
                          np.asarray(t["tokens"][0], np.int32),
                          np.asarray(t["gap_mask"][0], bool))


def _same_rows(got: list[dict], want: list[dict]) -> bool:
    """Exact equality of rollup rows, order-insensitive. Floats compare by
    bit pattern (the engine and the oracle run the same kernels, and NaN
    must equal NaN)."""
    from tsrollup.oracle import ROLLUP_COLUMNS

    def bits(v):
        if isinstance(v, float):
            return np.float64(v).tobytes()
        if isinstance(v, (list, np.ndarray)):
            return tuple(bits(float(x)) for x in v)
        return int(v) if isinstance(v, (np.integer,)) else v

    def norm(r):
        return tuple(bits(r[k]) for k in ROLLUP_COLUMNS)

    return sorted(map(norm, got)) == sorted(map(norm, want))


class Workload:
    """Shared bookkeeping. Every operation is recorded as an ``Op``; those
    run during set-up (warm-up, the correctness pass) are checked like the
    rest but kept out of the timings. An operation fails when it raises or
    when its output fails a check; failures count against operations
    attempted."""

    name = ""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.work = os.path.join(ctx.work, self.name)
        os.makedirs(self.work, exist_ok=True)
        self.ops: list[Op] = []
        self.warming = True
        self.notes: list[str] = []
        self.setup_parts: dict[str, float] = {}

    def fail(self, ops: list[Op], what: str) -> None:
        for op in ops:
            op.ok = False
        self.notes.append(what)

    def timed(self, kind: str, fn):
        """Run one operation under a span whose name tags its Spark jobs,
        and record it. Returns ``(op, result)``; an exception fails the op
        and gives ``None``."""
        op = Op(kind, 0.0, True, not self.warming)
        self.ops.append(op)
        t0 = time.perf_counter()
        try:
            with self.tracer.span(kind, spark_group=True):
                out = fn()
        except Exception:  # noqa: BLE001 — counted, reported, run goes on
            op.seconds = time.perf_counter() - t0
            self.fail([op], f"{kind}: {traceback.format_exc()[-2000:]}")
            return op, None
        op.seconds = time.perf_counter() - t0
        return op, out

    def latencies(self, kind: str | None = None) -> list[float]:
        return [o.seconds for o in self.ops
                if o.timed and (kind is None or o.kind == kind)]

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(1 for o in self.ops if not o.ok)

    def loop(self, seconds: float) -> None:
        """Closed loop: whole units of work until ``seconds`` have passed
        (at least one unit)."""
        self.warming = False
        t_end = time.perf_counter() + seconds
        while True:
            self.unit()
            if time.perf_counter() >= t_end:
                return

    # subclasses: setup(), unit(), check(), detail()


class Backfill(Workload):
    name = "backfill"

    def setup(self) -> None:
        self.input = os.path.join(self.work, "input")
        self.files: list[str] = []

        def build():
            shutil.rmtree(self.input, ignore_errors=True)
            self.files = inputs.write_sequence_files(
                self.input, self.ctx.seed, BACKFILL_FILES,
                BACKFILL_DOCS_PER_FILE)

        self.setup_parts["inputs_s"] = _timed_builds(build)
        self.docs = Docs()
        self.docs.add_files(self.files)
        self.n_docs = len(self.docs.length)
        self.input_bytes = inputs.tree_bytes(self.input)
        self.ctx.sizes["backfill"] = {
            "docs": self.n_docs, "files": len(self.files),
            "tokens": sum(self.docs.length.values()),
            "bytes": self.input_bytes}
        self.runs: list[tuple[Op, str]] = []
        t0 = time.perf_counter()
        # warm-up passes, checked like the timed ones: the first pays the
        # cold start, and the next ones still run up to 30% slow while the
        # JVM's JIT catches up
        for _ in range(BACKFILL_WARM_PASSES):
            self.unit()
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def unit(self) -> None:
        from tsrollup.checkpoint import run_checkpointed

        k = len(self.runs)
        store = os.path.join(self.work, f"store-{k}")
        op, _ = self.timed("backfill.run", lambda: run_checkpointed(
            self.spark, self.input, store, n_buckets=N_BUCKETS,
            run_id=f"pass-{k}"))
        self.runs.append((op, store))

    def check(self) -> None:
        """Every pass: each bucket has a ``done`` lineage row and lineage
        doc counts sum to the fixture's. The first and the last pass: a
        seeded doc sample equals the oracle exactly (every pass runs the
        same plan over the same input)."""
        from pyspark.sql import functions as F

        from tsrollup.checkpoint import read_lineage
        from tsrollup.io import read_table

        rng = np.random.default_rng(self.ctx.seed + 1)
        ids = sorted(self.docs.length)
        for i, (op, store) in enumerate(self.runs):
            if not op.ok:
                continue
            lin = read_lineage(self.spark, store).collect()
            done = {r["bucket"] for r in lin if r["status"] == "done"}
            n_docs = sum(int(r["n_docs"]) for r in lin)
            bad = []
            if done != set(range(N_BUCKETS)):
                bad.append(f"buckets done {sorted(done)}")
            if n_docs != len(ids):
                bad.append(f"lineage n_docs {n_docs} != {len(ids)}")
            if i in (0, len(self.runs) - 1):
                sample = [str(d) for d in
                          rng.choice(ids, size=3, replace=False)]
                got = [r.asDict() for r in
                       read_table(self.spark, f"{store}/data")
                       .filter(F.col("doc_id").isin(sample)).collect()]
                want = [r for d in sample for r in self.docs.oracle_rows(d)]
                if not _same_rows(got, want):
                    bad.append(f"sampled docs {sample} differ from the oracle")
            if bad:
                self.fail([op], f"{store}: " + "; ".join(bad))
        self.store_bytes = inputs.tree_bytes(f"{self.runs[-1][1]}/data")
        for _, store in self.runs:
            shutil.rmtree(store, ignore_errors=True)

    def detail(self) -> dict:
        from measure import summary

        return {"backfill_seqs_per_s": self.n_docs / median(self.latencies()),
                "backfill_s": summary(self.latencies()),
                "store_bytes_per_input_byte":
                    self.store_bytes / self.input_bytes}


class Live(Workload):
    name = "live"

    def setup(self) -> None:
        from tsrollup.checkpoint import refresh_incremental

        self.input = os.path.join(self.work, "input")
        self.staging = os.path.join(self.work, "staging")
        self.store = os.path.join(self.work, "store")
        self.files: list[str] = []

        def build():
            shutil.rmtree(self.input, ignore_errors=True)
            self.files = inputs.write_sequence_files(
                self.input, self.ctx.seed, LIVE_E0_FILES, LIVE_DOCS_PER_FILE)

        self.setup_parts["inputs_s"] = _timed_builds(build)
        self.docs = Docs()
        self.docs.add_files(self.files)
        self.rng = np.random.default_rng(self.ctx.seed + 2)
        self.epoch = 0
        self.seq = seq_column()
        self.cycle_s: list[float] = []
        self.useful: list[float] = []
        self.ctx.sizes["live"] = {
            "epoch0_docs": len(self.docs.length),
            "epoch0_tokens": sum(self.docs.length.values()),
            "epoch0_bytes": inputs.tree_bytes(self.input),
            "docs_per_cycle": LIVE_DOCS_PER_FILE}
        t0 = time.perf_counter()
        op, n0 = self.timed("live.refresh", lambda: refresh_incremental(
            self.spark, self.input, self.store, epoch=0, run_id="epoch-0",
            seq=self.seq))
        if n0 is not None and n0 != len(self.docs.length):
            self.fail([op], f"epoch 0 refreshed {n0} of {len(self.docs.length)}")
        self.point_read()    # warm the read paths (checked, not timed)
        self.range_read()
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def _arrive(self) -> int:
        """One new fixture file lands in the input: written to staging,
        then hard-linked in, so no reader sees a partial file."""
        b = LIVE_E0_FILES + self.epoch - 1
        f = inputs.write_sequence_files(self.staging, self.ctx.seed, 1,
                                        LIVE_DOCS_PER_FILE, first_file=b)[0]
        self.docs.add_files([f])
        os.link(f, os.path.join(self.input, os.path.basename(f)))
        return LIVE_DOCS_PER_FILE

    def unit(self) -> None:
        from tsrollup.checkpoint import refresh_incremental

        self.epoch += 1
        arrived = self._arrive()
        t0 = time.perf_counter()
        op, n = self.timed("live.refresh", lambda: refresh_incremental(
            self.spark, self.input, self.store, epoch=self.epoch,
            run_id=f"epoch-{self.epoch}", seq=self.seq))
        if n is not None:
            self.useful.append(n / len(self.docs.length))
            if n != arrived:
                self.fail([op], f"epoch {self.epoch} refreshed {n} docs, "
                          f"{arrived} arrived")
        for _ in range(LIVE_POINT_READS):
            self.point_read()
        for _ in range(LIVE_RANGE_READS):
            self.range_read()
        self.cycle_s.append(time.perf_counter() - t0)

    def point_read(self) -> None:
        """``read_routed`` for one doc over a random position range under a
        random point budget, over a fresh ``read_incremental``."""
        from pyspark.sql import functions as F

        from tsrollup.checkpoint import read_incremental
        from tsrollup.rollup import read_routed, route_tier

        ids = sorted(self.docs.length)
        doc = ids[int(self.rng.integers(len(ids)))]
        n = self.docs.length[doc]
        lo = int(self.rng.integers(0, n))
        hi = int(self.rng.integers(lo + 1, n + 1))
        budget = int(self.rng.integers(1, 65))

        def read():
            with self.tracer.span("rollup.read_plan"):
                df = read_routed(read_incremental(self.spark, self.store)
                                 .filter(F.col("doc_id") == doc),
                                 lo, hi, budget)
            with self.tracer.span("rollup.read_exec"):
                return df.collect()

        op, rows = self.timed("live.point_read", read)
        if rows is None:
            return
        tier = route_tier(hi - lo, budget)
        want = [r for r in self.docs.oracle_rows(doc)
                if r["tier"] == tier and lo <= r["window_start"] < hi]
        if not _same_rows([r.asDict() for r in rows], want):
            self.fail([op], f"point read {doc}[{lo},{hi}) budget {budget} "
                      "differs from the oracle")

    def range_read(self) -> None:
        """``read_range`` over every doc of the store for a random range;
        the doc set and a sample of docs' aggregates are checked."""
        from tsrollup import BASE_WINDOW as W
        from tsrollup.checkpoint import read_incremental
        from tsrollup.rollup import read_range

        a = int(self.rng.integers(0, 4096 // W)) * W
        b = int(self.rng.integers(a // W + 1, 4096 // W + 1)) * W

        def read():
            with self.tracer.span("rollup.read_plan"):
                df = read_range(read_incremental(self.spark, self.store), a, b)
            with self.tracer.span("rollup.read_exec"):
                return df.collect()

        op, rows = self.timed("live.range_read", read)
        if rows is None:
            return
        got = {r["doc_id"]: r for r in rows}
        want_docs = sorted(d for d, n in self.docs.length.items() if n > a)
        bad = set(got) != set(want_docs)
        for d in want_docs[:: max(1, len(want_docs) // 4)]:
            ws = [r for r in self.docs.oracle_rows(d)
                  if r["tier"] == "1m" and a <= r["window_start"] < b]
            exp = (sum(r["count"] for r in ws), sum(r["sum"] for r in ws),
                   sum(r["sumsq"] for r in ws), min(r["min"] for r in ws),
                   max(r["max"] for r in ws))
            g = got.get(d)
            bad = bad or g is None or (
                g["count"], g["sum"], g["sumsq"], g["min"], g["max"]) != exp
        if bad:
            self.fail([op], f"range read [{a},{b}) differs from the oracle")

    def check(self) -> None:
        """The final store equals one clean rollup of the final input: the
        same row count and the same order-free hash over every column."""
        from pyspark.sql import functions as F

        from tsrollup.checkpoint import read_incremental
        from tsrollup.io import read_table
        from tsrollup.rollup import ROLLUP_SCHEMA, rollup_sequences

        cols = [c.split(" ")[0] for c in ROLLUP_SCHEMA.split(", ")]

        def digest(df):
            r = df.select(*cols).agg(
                F.count("*").alias("n"),
                F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")
            ).collect()[0]
            return int(r["n"]), int(r["h"] or 0)

        stored = digest(read_incremental(self.spark, self.store))
        clean = digest(rollup_sequences(read_table(self.spark, self.input)))
        if stored != clean:
            # every refresh contributed to the store, so all of them fail
            self.fail([o for o in self.ops if o.kind == "live.refresh"],
                      f"final store {stored} != clean rollup {clean}")
        self.store_files = inputs.tree_files(f"{self.store}/data")

    def detail(self) -> dict:
        from measure import summary

        out = {"cycles": len(self.cycle_s), "store_files": self.store_files,
               "useful_ratio": median(self.useful) if self.useful else None}
        for kind, key in (("live.refresh", "refresh_s"),
                          ("live.point_read", "point_read_s"),
                          ("live.range_read", "range_read_s")):
            lat = self.latencies(kind)
            if lat:
                out[key] = summary(lat)
        return out


class QueryMix(Workload):
    name = "query_mix"
    # split abundance as bench.py sets it: the sf tables are single small
    # files, and these let their scans split the way a large table's do
    SPLIT_CONFS = {"spark.sql.files.maxPartitionBytes": str(1024 * 1024),
                   "spark.sql.files.openCostInBytes": str(64 * 1024)}

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.sf = os.path.join(self.work, "sf")
        sizes: dict[str, int] = {}

        def build():
            shutil.rmtree(self.sf, ignore_errors=True)
            sizes.update(inputs.write_star_tables(
                self.sf, self.ctx.seed, **STAR_ROWS))

        self.setup_parts["inputs_s"] = _timed_builds(build)
        self.ctx.sizes["query_mix"] = {**STAR_ROWS, "bytes": sizes}
        self.qs = entry.queries()
        self.builds: dict[str, list[float]] = {r: [] for r in MIX_ROWS}
        self.execs: dict[str, list[float]] = {r: [] for r in MIX_ROWS}
        self.passes: list[float] = []
        t0 = time.perf_counter()
        for k, v in self.SPLIT_CONFS.items():
            self.spark.conf.set(k, v)
        for t in sizes:     # touch every table once
            _noop(self.spark.read.parquet(f"{self.sf}/{t}.parquet"))
        # the warm-up pass is the correctness pass: each row's collected
        # output is compared with its DuckDB oracle after the timed loop
        self.outputs = {}
        for row in MIX_ROWS:
            def collect(row=row):
                with self.tracer.span(f"entry.{row}.build"):
                    df = self.qs[row](self.spark, self.sf)
                with self.tracer.span(f"entry.{row}.exec"):
                    return df.toPandas()

            self.outputs[row] = self.timed(f"mix.{row}", collect)
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def unit(self) -> None:
        t_pass = 0.0
        for row in MIX_ROWS:
            parts: dict[str, float] = {}

            def op(row=row, parts=parts):
                t0 = time.perf_counter()
                with self.tracer.span(f"entry.{row}.build"):
                    df = self.qs[row](self.spark, self.sf)
                t1 = time.perf_counter()
                with self.tracer.span(f"entry.{row}.exec"):
                    _noop(df)
                parts["build"], parts["exec"] = t1 - t0, time.perf_counter() - t1

            o, _ = self.timed(f"mix.{row}", op)
            t_pass += o.seconds
            if o.ok:
                self.builds[row].append(parts["build"])
                self.execs[row].append(parts["exec"])
        self.passes.append(t_pass)

    def check(self) -> None:
        """Each row's output equals its ``oracle_sql()`` in DuckDB
        (``tools/check_correctness.compare``); a wrong row fails its
        correctness pass and every timed execution of it."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_correctness import compare

        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("events", "documents", "lineitem"):
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.sf}/{t}.parquet')")
            for row in MIX_ROWS:
                op, pdf = self.outputs[row]
                if pdf is None:
                    errs = ["no output"]
                else:
                    errs = compare(row, pdf, con.sql(oracles[row]).df())
                if errs:
                    self.fail([op] + [o for o in self.ops
                                      if o.kind == f"mix.{row}"],
                              f"{row}: {errs[:3]}")
        finally:
            con.close()

    def detail(self) -> dict:
        from measure import geomean

        rows = {r: {"build_s": median(self.builds[r]),
                    "exec_s": median(self.execs[r])}
                for r in MIX_ROWS if self.builds[r]}
        per_row = [median(self.latencies(f"mix.{r}")) for r in MIX_ROWS]
        return {"mix_total_s": median(self.passes),
                "mix_geomean_s": geomean(per_row),
                "passes": len(self.passes), "rows": rows}


WORKLOADS = {"backfill": Backfill, "live": Live, "query_mix": QueryMix}
