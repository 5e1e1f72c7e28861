"""Checkpointed, resumable rollup runs with per-partition lineage + metrics.

The engine's analog of the reference's ModelCheckpoint/early-resume discipline
(``experiments/keras_experiment.py:69``, weight reload at
``models_keras.py:75-77``): work is divided into hash BUCKETS of documents
(``pmod(xxhash64(doc_id), n_buckets)``), committed via dynamic partition
overwrite of (bucket, tier) partitions + per-bucket lineage rows. A killed
run resumes by skipping every bucket whose lineage row says ``done``;
re-running a finished run is a no-op; outputs are bit-identical to a single
clean run (tested in tests/test_checkpoint.py).

One call = ONE input scan: all pending buckets roll up in a single job (the
round-1 design filtered and re-scanned the input once per bucket — thousands
of 100 TB scans at the docstring's own target scale). The bucket remains the
RESUME and metrics granularity; ``max_buckets`` bounds one spark-submit
invocation, and concurrent invocations shard cleanly because buckets are
disjoint by construction.

Layout under ``output_root`` (all reads/writes via ``tsrollup.io``, so the
parquet ⇄ Iceberg boundary is one config flag):
    data/bucket=<b>/tier=<t>/*.parquet   rolled-up points (or packed rows)
    _lineage/*.parquet                   one row per completed bucket
"""

from __future__ import annotations

import time

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import BASE_WINDOW, TIER_FACTOR
from .io import (is_missing_table_error, read_table, table_format,
                 write_table)
from .rollup import rollup_compressed, rollup_sequences

# wall_time_sec is the wall clock of the COMMITTING CALL (all its pending
# buckets roll up in one single-scan job), recorded identically on each of
# that call's lineage rows — per-bucket wall time is not observable in a
# single-pass commit and would be the scan cost multiplied out.
LINEAGE_SCHEMA = (
    "bucket int, status string, n_docs long, n_points long, "
    "run_id string, wall_time_sec double, completed_at string"
)


def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def _sql_literal(v) -> str:
    """``v`` as Spark SQL literal text. Strings go as hex UTF-8, so no
    content needs escaping (quotes, backslashes, ``${…}`` substitution);
    floats go as their round-trip repr, which the caller's cast parses back
    exactly."""
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return f"CAST(X'{v.encode().hex()}' AS STRING)"
    if isinstance(v, float):
        return f"'{v!r}'"
    return str(int(v))


def _literal_frame(spark: SparkSession, rows: list[tuple],
                   schema: str) -> DataFrame:
    """A few Python-side ``rows`` as a DataFrame of DDL ``schema``, built
    JVM-side as a literal relation (SQL ``VALUES``) from one SQL text — one
    Py4J call, not several per value. ``createDataFrame(list)`` ships the
    rows through a parallelized Python RDD instead, so every write of it
    pays a Python-worker job. Each row is cast as one struct, by position,
    to ``schema``."""
    if not rows:  # VALUES needs a row; an empty literal array does not
        return spark.sql(
            f"SELECT inline(CAST(array() AS array<struct<{schema}>>))")
    values = ", ".join(f"({', '.join(map(_sql_literal, row))})"
                       for row in rows)
    return spark.sql(f"SELECT r.* FROM (SELECT CAST(struct(*) AS "
                     f"struct<{schema}>) AS r FROM VALUES {values})")


def _stored_lineage(spark: SparkSession, output_root: str) -> DataFrame | None:
    """The committed lineage table, or None ONLY when the store genuinely
    doesn't exist yet (first run) — answered from the missing-path error,
    with no Spark job. Any other read failure — permissions, storage blip,
    corrupt files — re-raises: treating it as 'no lineage' would silently
    mark every bucket pending, i.e. one full input rescan + rewrite of every
    partition plus duplicate 'done' rows, with no signal that resume state
    was lost."""
    try:
        return read_table(spark, f"{output_root}/_lineage")
    except Exception as e:
        msg = str(e)
        # is_missing_table_error checks the structured error condition
        # (getCondition/getErrorClass) before falling back to the message
        if is_missing_table_error(e):
            return None
        # UNABLE_TO_INFER_SCHEMA is ambiguous: a killed FIRST commit leaves
        # _lineage holding only _temporary/ (genuinely "no lineage yet"),
        # but the same error fires when committed lineage FILES were lost
        # while data partitions survive — silently treating that as
        # first-run would rescan the full input and duplicate 'done' rows.
        # Distinguish via the filesystem: recover only if the dir holds no
        # committed (non-underscore/dot) entries.
        if "UNABLE_TO_INFER_SCHEMA" in msg and _is_uncommitted_dir(
                spark, f"{output_root}/_lineage"):
            return None
        raise


def read_lineage(spark: SparkSession, output_root: str) -> DataFrame:
    """The lineage table; empty ONLY when the store doesn't exist yet (see
    :func:`_stored_lineage` for why every other failure raises)."""
    lin = _stored_lineage(spark, output_root)
    return lin if lin is not None else _literal_frame(spark, [], LINEAGE_SCHEMA)


def _is_uncommitted_dir(spark: SparkSession, ident: str) -> bool:
    """True iff ``ident`` is missing or contains only temporary/hidden
    entries (``_``/``.`` prefixes) — checked through the Hadoop FileSystem
    API so any scheme Spark can read (file://, s3a://, …) works."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(ident)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return True
    for status in fs.listStatus(path):
        name = status.getPath().getName()
        if not name.startswith(("_", ".")):
            return False
    return True


def completed_buckets(spark: SparkSession, output_root: str) -> set[int]:
    """Buckets with a ``done`` lineage row. A fresh store answers with no
    Spark job; an existing one collects its (one row per bucket per commit)
    lineage and dedups in Python — no distinct() shuffle."""
    lin = _stored_lineage(spark, output_root)
    if lin is None:
        return set()
    return {r["bucket"] for r in
            lin.filter("status = 'done'").select("bucket").collect()}


def run_checkpointed(spark: SparkSession, input_path: str, output_root: str,
                     n_buckets: int = 8, run_id: str = "run-0",
                     window: int = BASE_WINDOW,
                     tiers: dict[str, int] = TIER_FACTOR,
                     compressed: bool = False,
                     max_buckets: int | None = None,
                     bucket_range: tuple[int, int] | None = None) -> list[int]:
    """Process all pending buckets in ONE pass; returns the buckets completed.

    The input is scanned exactly once per call regardless of n_buckets: all
    pending buckets roll up in a single job whose output is committed with a
    DYNAMIC partition overwrite of just those (bucket, tier) partitions —
    at 10^12-sequence scale this is one 100 TB scan, not one per bucket (the
    round-1 design re-scanned per bucket). The bucket stays the RESUME unit:
    lineage rows are per bucket, a killed call leaves its buckets pending
    (partially-written partitions are simply overwritten on retry), and
    ``max_buckets`` bounds one spark-submit invocation. Metrics derive from
    one scan of the (small) committed output, which also validates the write.

    Precondition: one input row per ``doc_id``. Lineage ``n_docs`` counts
    rolled-up docs by their first finest-tier row, so a doc_id repeated
    across input rows counts once per row.

    ``bucket_range=(lo, hi)`` restricts this call to buckets in [lo, hi) —
    the sharding handle for CONCURRENT submissions: give each submission a
    disjoint range and they never contend for the same buckets
    (``max_buckets`` alone always takes the first pending prefix, so two
    unranged concurrent runs would duplicate work — same deterministic
    bytes, wasted scans).
    """
    done = completed_buckets(spark, output_root)
    pending = [b for b in range(n_buckets) if b not in done]
    if bucket_range is not None:
        lo, hi = bucket_range
        if not (0 <= lo < hi <= n_buckets):
            raise ValueError(
                f"bucket_range {bucket_range} outside [0, {n_buckets})")
        pending = [b for b in pending if lo <= b < hi]
    if max_buckets is not None:
        pending = pending[:max_buckets]
    if not pending:
        return []
    t0 = time.time()
    src = read_table(spark, input_path) \
        .withColumn("_bucket", _bucket_col(n_buckets))
    part = src.filter(F.col("_bucket").isin(pending)).drop("_bucket")
    out = (rollup_compressed(part, window, tiers) if compressed
           else rollup_sequences(part, window, tiers))
    # bucket recomputed from doc_id post-rollup (the map drops helper cols);
    # one cheap hash per output row, and the scan stays single-pass
    out = out.withColumn("bucket", _bucket_col(n_buckets))
    write_table(out, f"{output_root}/data", mode="overwrite",
                partition_by=("bucket", "tier"), dynamic_overwrite=True)
    wall = time.time() - t0

    # per-bucket metrics from the committed files (one scan of the output,
    # read with the written frame's own schema: no footer-inference job).
    # n_docs counts each doc's one first row of the finest tier — every
    # non-empty doc emits exactly one window_start = 0 row per tier (one
    # packed row per tier) — so one hash aggregate, no countDistinct expand
    written = read_table(spark, f"{output_root}/data", schema=out.schema)
    written = written.filter(F.col("bucket").isin(pending))
    first = F.col("tier") == min(tiers, key=tiers.get)
    if compressed:
        pts = F.sum("n_windows")
    else:
        pts = F.count("*")
        first = first & (F.col("window_start") == 0)
    stats = {r["bucket"]: r for r in (
        written.groupBy("bucket")
        .agg(pts.cast("long").alias("n_points"),
             F.count_if(first).alias("n_docs"))
        .collect())}
    now = time.strftime("%Y-%m-%dT%H:%M:%S")
    rows = [(b, "done",
             int(stats[b]["n_docs"]) if b in stats else 0,
             int(stats[b]["n_points"]) if b in stats else 0,
             run_id, wall, now) for b in pending]
    write_table(_literal_frame(spark, rows, LINEAGE_SCHEMA),
                f"{output_root}/_lineage", mode="append")
    return pending


# ---------------------------------------------------- incremental refresh ---

# one row per (source, epoch) committed by refresh_incremental; the CURRENT
# watermark of a source is the max over its rows
WATERMARK_SCHEMA = ("source string, max_seq long, n_docs long, epoch int, "
                    "run_id string, committed_at string")


def doc_seq(col: str = "doc_id") -> Column:
    """The engine's doc-id convention ``<source>-…-<number>`` → the monotone
    per-arrival sequence number (the trailing dash segment). Production
    tables should carry an explicit ingest-sequence column instead — a real
    (source, seq) literal predicate then prunes parquet/Iceberg files via
    min/max stats, which a derived expression cannot.

    try_cast, not cast: a non-integer trailing segment must yield NULL in
    BOTH ANSI modes (ANSI cast throws CAST_INVALID_INPUT mid-scan) so
    refresh_incremental's NULL-seq validation can report it as one loud,
    counted error instead of a task failure."""
    return F.element_at(F.split(F.col(col), "-"), -1).try_cast("long")


def _watermark_state(spark: SparkSession, output_root: str
                     ) -> tuple[dict[str, int], set[int]]:
    """(per-source high-water marks, committed epoch ids). Bounded
    driver-side collect: one row per (source, epoch) — |sources| is small
    by contract (the mixture/per_source_stats argument)."""
    try:
        wm = read_table(spark, f"{output_root}/_watermarks")
    except Exception as e:  # noqa: BLE001
        if is_missing_table_error(e):
            return {}, set()
        raise
    rows = wm.select("source", "max_seq", "epoch").collect()
    marks: dict[str, int] = {}
    for r in rows:
        marks[r["source"]] = max(marks.get(r["source"], -1),
                                 int(r["max_seq"]))
    return marks, {int(r["epoch"]) for r in rows}


def read_watermarks(spark: SparkSession, output_root: str) -> dict[str, int]:
    """Current per-source high-water marks (max over committed epochs)."""
    return _watermark_state(spark, output_root)[0]


def _watermark_threshold(wm: dict[str, int]) -> Column:
    """Per-row watermark for ``source`` as a literal-map lookup (watermarks
    are a tiny driver-side dict by contract — no broadcast join needed);
    unseen sources default to −1 (fully included)."""
    if not wm:
        return F.lit(-1)
    entries = []
    for k, v in sorted(wm.items()):
        entries += [F.lit(k), F.lit(v)]
    return F.coalesce(F.element_at(F.create_map(*entries), F.col("source")),
                      F.lit(-1))


def refresh_lag(spark: SparkSession, input_path: str,
                output_root: str) -> DataFrame:
    """Per-source refresh LAG report — the staleness monitor an on-call
    pages on before anyone trusts a continuous aggregate: for every
    source in the raw input, the committed watermark, the input's actual
    high seq, and how many docs are waiting for the next
    :func:`refresh_incremental` (``read_realtime`` serves them fresh
    meanwhile; this reports the store's debt).

    Sources absent from the store report watermark −1 and a full backlog
    (exactly the delta semantics refresh uses — `_watermark_threshold`'s
    unseen-source default, so the report can never disagree with what a
    refresh would actually roll). One aggregation over the raw scan;
    the watermark side is the tiny committed dict, joined as a literal
    map, never a shuffle.

    Output: source, watermark_seq (long, −1 if never refreshed),
    input_max_seq (long), pending_docs (long), caught_up (int).
    """
    wm = read_watermarks(spark, output_root)
    thr = _watermark_threshold(wm)
    # read_table, not read.parquet: the input resolves through the same
    # format boundary refresh_incremental uses, so the report holds on
    # Iceberg deployments too (review finding)
    raw = read_table(spark, input_path).withColumn("_s", doc_seq())
    return (raw
            .withColumn("_wm", thr.cast("long"))
            .groupBy("source")
            .agg(F.max("_wm").alias("watermark_seq"),
                 F.max("_s").cast("long").alias("input_max_seq"),
                 F.sum(F.when(F.col("_s") > F.col("_wm"), 1).otherwise(0))
                 .cast("long").alias("pending_docs"))
            .withColumn("caught_up",
                        (F.col("pending_docs") == 0).cast("int")))


def refresh_incremental(spark: SparkSession, input_path: str,
                        output_root: str, epoch: int,
                        run_id: str = "refresh-0",
                        window: int = BASE_WINDOW,
                        tiers: dict[str, int] = TIER_FACTOR,
                        seq: Column | None = None,
                        n_buckets: int = 8,
                        compressed: bool = False) -> int:
    """Continuous-aggregate REFRESH for an append-only corpus: roll up only
    the documents that arrived since the last refresh and commit them as a
    new epoch — the incremental-maintenance leg the north rule's
    "continuous aggregates" implies (a full re-run per arrival batch would
    re-scan 100 TB to add a few GB).

    Increment contract: docs are immutable once written and carry a
    monotone per-source sequence number (``seq``, default
    :func:`doc_seq`) — exactly how a training corpus grows. The delta is
    ``seq > watermark[source]`` via a broadcast-free literal map lookup
    (watermarks are a tiny driver-side dict by contract), new sources
    default to watermark −1 (fully included).

    Idempotency / crash-safety, in commit order:

    1. delta rollup → DYNAMIC partition overwrite of
       ``data/epoch=<e>/bucket=<b>/tier=<t>`` — only THIS epoch's
       partitions are touched; earlier epochs are immutable.
    2. per-source watermark rows (epoch-tagged) appended AFTER the data
       commit. A crash between 1 and 2 leaves the watermarks unmoved, so
       the re-run recomputes the SAME delta (same filter ⇒ same bytes)
       and overwrites the same epoch partitions — convergent, never
       duplicated. Re-running a FULLY COMMITTED epoch is an up-front
       no-op: its id is in the watermark table, so the call returns 0
       without touching data — if it instead recomputed "its" delta after
       still-newer docs arrived, the dynamic overwrite would REPLACE the
       epoch's original partitions and destroy committed rows (review
       finding; guarded + tested). New arrivals always go to a NEW epoch.

    Docs whose ``seq`` is NULL (an id that doesn't end in an integer, with
    the default :func:`doc_seq`) would otherwise be silently excluded from
    every epoch while the full backfill path includes them — the refresh
    counts them in the same stats pass and raises instead.

    Returns the number of new docs rolled up. Read the store with
    :func:`read_incremental`; total rows across epochs equal one clean
    rollup of the full input bit-for-bit (tested). ``compressed=True``
    stores codec-packed tier rows instead (Gorilla/delta-of-delta, the
    run_checkpointed twin) — decode with ``rollup.decompress_rollup``;
    don't mix packed and plain epochs in one store.
    """
    if epoch < 0:
        raise ValueError("epoch must be >= 0")
    wm, committed = _watermark_state(spark, output_root)
    if epoch in committed:
        return 0  # fully committed — never rewrite an epoch's partitions
    s = seq if seq is not None else doc_seq()
    src = read_table(spark, input_path)
    thr = _watermark_threshold(wm)
    # stats + NULL-seq validation BEFORE the data write (the filter is
    # deterministic, so pre- and post-write stats are identical — and the
    # validation must fire before anything is committed)
    stats = (src.filter(s.isNull() | (s > thr))
             .groupBy("source")
             .agg(F.max(s).cast("long").alias("max_seq"),
                  F.countDistinct("doc_id").cast("long").alias("n_docs"),
                  F.sum(s.isNull().cast("long")).alias("n_null_seq"))
             .collect())
    n_null = sum(int(r["n_null_seq"]) for r in stats)
    if n_null:
        raise ValueError(
            f"{n_null} doc(s) have a NULL ingest sequence (doc_id does not "
            "end in an integer?) — they would be silently excluded from "
            "every refresh; fix the ids or pass an explicit seq column")
    if not stats:
        return 0
    # packed and plain epochs must never mix in one store: a parquet union
    # across the two schemas reads back as nulls/garbage long after the
    # bad commit — fail fast on the flag mismatch instead
    try:
        existing = read_table(spark, f"{output_root}/data")
    except Exception as e:  # noqa: BLE001
        if not is_missing_table_error(e):
            raise
        existing = None
    if existing is not None:
        was_packed = "n_windows" in existing.columns
        if was_packed != compressed:
            raise ValueError(
                f"store at {output_root} holds "
                f"{'packed' if was_packed else 'plain'} epochs but this "
                f"refresh asked for compressed={compressed} — one store, "
                "one mode")
    delta = src.filter(s > thr)
    rolled = (rollup_compressed(delta, window, tiers) if compressed
              else rollup_sequences(delta, window, tiers))
    out = rolled \
        .withColumn("bucket", _bucket_col(n_buckets)) \
        .withColumn("epoch", F.lit(int(epoch)))
    write_table(out, f"{output_root}/data", mode="overwrite",
                partition_by=("epoch", "bucket", "tier"),
                dynamic_overwrite=True)
    now = time.strftime("%Y-%m-%dT%H:%M:%S")
    rows = [(r["source"], int(r["max_seq"]), int(r["n_docs"]),
             int(epoch), run_id, now) for r in stats]
    write_table(_literal_frame(spark, rows, WATERMARK_SCHEMA),
                f"{output_root}/_watermarks", mode="append")
    return int(sum(r["n_docs"] for r in stats))


def read_incremental(spark: SparkSession, output_root: str,
                     as_of_epoch: int | None = None) -> DataFrame:
    """All epochs of an incrementally-refreshed store, rollup-row schema
    (epoch retained for audit; drop it for value comparisons).

    ``as_of_epoch`` TIME-TRAVELS the read: epochs are disjoint per-source
    deltas (refresh_incremental only rolls docs past the committed
    watermarks), so ``epoch <= N`` reproduces exactly the table state the
    post-refresh-N reader saw — training-data reproducibility ("the
    corpus as the epoch-N train run consumed it"), at partition-prune
    cost only (epoch is the leading partition directory, no data outside
    the horizon is scanned). History lasts until :func:`compact_epochs`
    deliberately folds it (documented there); orphan-epoch exclusion
    remains :func:`read_realtime`'s domain, as for the plain read."""
    df = read_table(spark, f"{output_root}/data")
    if as_of_epoch is not None:
        if as_of_epoch < 0:
            raise ValueError("need as_of_epoch >= 0")
        df = df.filter(F.col("epoch") <= int(as_of_epoch))
    return df


def read_realtime(spark: SparkSession, input_path: str, output_root: str,
                  window: int = BASE_WINDOW,
                  tiers: dict[str, int] = TIER_FACTOR,
                  seq: Column | None = None) -> DataFrame:
    """REAL-TIME continuous-aggregate view: the stored epochs UNION a
    fresh rollup of only the raw tail past the per-source watermarks — the
    read-side twin of :func:`refresh_incremental` (cf. TimescaleDB's
    real-time continuous aggregates). Readers see results identical to a
    clean rollup of the FULL input bit-for-bit (tested) no matter how far
    the refresh schedule lags, while the scan cost of the query is
    store + delta, never the 100 TB history.

    Consistency rules, matching the refresh commit protocol:

    * only COMMITTED epochs are served from the store. An orphan epoch
      (data written, watermark append lost to a crash) is excluded — its
      docs still sit past the watermark, so they arrive via the fresh
      tail instead; served rows are never duplicated and never missing.
    * docs with a NULL ``seq`` (which :func:`refresh_incremental` refuses
      to commit) are ALWAYS served fresh: the view stays exact even while
      the refresh path is blocked on the bad ids.
    * a compressed store (codec-packed epochs) is decoded on read; the
      transient tail is always computed plain — nothing packs rows that
      were never at rest.

    ``window``/``tiers``/``seq`` must match the store's refresh
    parameters — they define the rows the store already holds.
    """
    wm, committed = _watermark_state(spark, output_root)
    s = seq if seq is not None else doc_seq()
    src = read_table(spark, input_path)
    tail = src.filter(s.isNull() | (s > _watermark_threshold(wm)))
    fresh = rollup_sequences(tail, window, tiers)
    if not committed:
        return fresh
    stored = read_incremental(spark, output_root) \
        .filter(F.col("epoch").isin(*[int(e) for e in committed])) \
        .drop("epoch", "bucket")
    if "n_windows" in stored.columns:  # codec-packed store
        from .rollup import decompress_rollup

        stored = decompress_rollup(stored)
    return stored.select(*fresh.columns).unionByName(fresh)


def epoch_ranges(spark: SparkSession, output_root: str
                 ) -> dict[int, dict[str, tuple[int, int]]]:
    """Per-epoch, per-source half-open ingest-seq ranges ``(lo, hi]``
    reconstructed from the watermark log: for each source, its watermark
    rows sorted by ``max_seq`` ARE the commit order (every refresh's delta
    strictly raises the source's max), so epoch e covers
    ``prev_max < seq <= max_seq(source, e)``. A source absent from an
    epoch's rows contributed no docs to it. Bounded driver-side state —
    one entry per (source, epoch), both small by contract."""
    try:
        wm = read_table(spark, f"{output_root}/_watermarks")
    except Exception as e:  # noqa: BLE001
        if is_missing_table_error(e):
            return {}
        raise
    per_src: dict[str, list[tuple[int, int]]] = {}
    for r in wm.select("source", "max_seq", "epoch").collect():
        per_src.setdefault(r["source"], []).append(
            (int(r["max_seq"]), int(r["epoch"])))
    out: dict[int, dict[str, tuple[int, int]]] = {}
    for src_name, pairs in per_src.items():
        lo = -1
        # convergent crash re-runs may append a duplicate (source, epoch)
        # row with the same max_seq — dedup before ordering
        for hi, e in sorted(set(pairs)):
            out.setdefault(e, {})[src_name] = (lo, hi)
            lo = hi
    return out


def repair_epochs(spark: SparkSession, input_path: str, output_root: str,
                  epochs, window: int = BASE_WINDOW,
                  tiers: dict[str, int] = TIER_FACTOR,
                  seq: Column | None = None, n_buckets: int = 8) -> int:
    """Recompute the given COMMITTED epochs from the CURRENT raw input —
    the invalidation-repair motion of a continuous aggregate (cf.
    TimescaleDB's invalidation log → refresh_continuous_aggregate over a
    window). Two situations need it, and :func:`refresh_incremental`
    handles neither by design (its delta filter only looks PAST the
    watermark):

    * a doc already rolled up was corrected in place (same doc_id, new
      tokens) — the stored epoch silently disagrees with the raw table;
    * a doc arrived LATE with an ingest seq below its source's watermark —
      no future refresh will ever see it.

    Each requested epoch's doc set is its reconstructed per-source
    ``(lo, hi]`` seq range (:func:`epoch_ranges`) evaluated against the
    CURRENT raw table, so corrected docs re-roll, late docs appear, and
    deleted docs vanish. Ranges are watermark-log facts, so watermarks are
    NOT touched — the repair changes rows, never boundaries.

    Commit: one dynamic partition overwrite of the epochs' (epoch, bucket,
    tier) partitions, then stale leftover partitions under each repaired
    epoch (a bucket/tier the new rows no longer populate) are pruned.
    A crash between the two steps leaves stale extras only; re-running the
    repair converges — same discipline as the refresh protocol. The prune
    walks the local filesystem, so (like :func:`compact_epochs`) object
    stores / Iceberg catalogs are rejected up front: there the equivalent
    is a REPLACE-partition snapshot commit.

    Refused: uncommitted/orphan epoch ids (re-run the refresh instead) and
    compacted stores (physical epoch set ≠ committed set — per-epoch
    provenance was folded; repair before compacting). Returns the number
    of docs in the repaired epochs after repair.
    """
    import os
    import shutil

    if "://" in output_root or table_format() == "iceberg":
        raise NotImplementedError(
            "stale-partition pruning needs a local-filesystem parquet "
            "store; on object stores / Iceberg catalogs the equivalent is "
            "a REPLACE-partition snapshot commit (not implemented)")
    epochs = sorted({int(e) for e in epochs})
    if not epochs:
        raise ValueError("no epochs requested")
    _, committed = _watermark_state(spark, output_root)
    bad = [e for e in epochs if e not in committed]
    if bad:
        raise ValueError(
            f"epoch(s) {bad} are not committed in {output_root} — an "
            "orphan/unstarted epoch is repaired by re-running its refresh")
    existing = read_table(spark, f"{output_root}/data")
    physical = {int(r["epoch"]) for r in
                existing.select("epoch").distinct().collect()}
    if physical != committed:
        raise ValueError(
            f"store at {output_root} was compacted (physical epochs "
            f"{sorted(physical)} != committed {sorted(committed)}) — "
            "per-epoch provenance is folded; repair before compacting")
    packed = "n_windows" in existing.columns
    ranges = epoch_ranges(spark, output_root)
    s = seq if seq is not None else doc_seq()
    src = read_table(spark, input_path)
    assign = None
    for e in epochs:
        for src_name, (lo, hi) in sorted(ranges.get(e, {}).items()):
            cond = (F.col("source") == src_name) & (s > lo) & (s <= hi)
            assign = (F.when(cond, e) if assign is None
                      else assign.when(cond, e))
    if assign is None:  # committed epochs always have >=1 watermark row
        raise ValueError(f"no watermark ranges found for epochs {epochs}")
    docs = src.withColumn("_repair_epoch", assign).filter(
        F.col("_repair_epoch").isNotNull())
    parts = []
    for e in epochs:  # few epochs by contract — one bounded loop
        d = docs.filter(F.col("_repair_epoch") == e).drop("_repair_epoch")
        rolled = (rollup_compressed(d, window, tiers) if packed
                  else rollup_sequences(d, window, tiers))
        parts.append(rolled.withColumn("bucket", _bucket_col(n_buckets))
                           .withColumn("epoch", F.lit(e)))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    data = f"{output_root}/data"
    write_table(out, data, mode="overwrite",
                partition_by=("epoch", "bucket", "tier"),
                dynamic_overwrite=True)
    # prune stale partitions the overwrite did not touch (a bucket/tier the
    # repaired rows no longer populate would otherwise serve deleted docs).
    # The fresh set comes from the REPAIRED rows — reading the store back
    # would see the stale partitions too and protect them from the prune.
    fresh = {(int(r["epoch"]), int(r["bucket"]), r["tier"]) for r in
             out.select("epoch", "bucket", "tier").distinct().collect()}
    for e in epochs:
        edir = os.path.join(data, f"epoch={e}")
        if not os.path.isdir(edir):
            continue
        for bdir in os.listdir(edir):
            if not bdir.startswith("bucket="):
                continue
            b = int(bdir.split("=", 1)[1])
            for tdir in os.listdir(os.path.join(edir, bdir)):
                if not tdir.startswith("tier="):
                    continue
                t = tdir.split("=", 1)[1]
                if (e, b, t) not in fresh:
                    shutil.rmtree(os.path.join(edir, bdir, tdir))
            if not os.listdir(os.path.join(edir, bdir)):
                shutil.rmtree(os.path.join(edir, bdir))
        if not any(x.startswith("bucket=") for x in os.listdir(edir)):
            shutil.rmtree(edir)
    return int(docs.select("doc_id").distinct().count())


def compact_epochs(spark: SparkSession, output_root: str,
                   into_epoch: int | None = None) -> int:
    """Fold every committed epoch of an incremental store into ONE
    (``into_epoch``, default the smallest committed epoch) — the periodic
    maintenance that stops per-refresh epoch partitions from accumulating
    (hourly top-ups = thousands of small partitions a year; readers pay
    the listing).

    Rows are copied verbatim — compaction is layout-only, the row multiset
    before and after is identical (validated by row count before the swap,
    multiset-tested). Watermarks are NOT rewritten: the committed-epoch
    set keeps every historical epoch id reserved, so a late retry of a
    folded epoch stays a no-op and new refreshes keep allocating fresh
    ids. ``into_epoch`` must itself be a COMMITTED id (review finding: an
    unreserved target — e.g. a default 0 that was never refreshed — would
    let a later ``--refresh 0`` dynamically overwrite the whole compacted
    history). ORPHAN epochs (data committed, watermark append lost to a
    crash) are refused: folding one would duplicate its rows when the
    crashed refresh's convergent re-run rewrites that epoch — retry the
    refresh first.

    Commit protocol on a plain filesystem: write the compacted layout to a
    sibling ``data.compact``, validate its row count equals the source,
    then swap (rename data → ``data.old``, rename compact → data, delete
    old). The swap window is two renames — not atomic; a crash mid-swap
    leaves the full original under ``data.old``, which the next call
    RESTORES before doing anything destructive. With
    TSROLLUP_TABLE_FORMAT=iceberg this whole operation should be a
    REPLACE TABLE snapshot commit instead — not implemented here, so the
    iceberg mode is rejected up front rather than half-renamed.

    Returns the number of rows in the compacted store.
    """
    import os
    import shutil

    if "://" in output_root or table_format() == "iceberg":
        raise NotImplementedError(
            "directory-swap compaction needs a local-filesystem parquet "
            "store; on object stores / Iceberg catalogs the equivalent is "
            "a REPLACE TABLE snapshot commit (not implemented)")
    data = f"{output_root}/data"
    tmp = f"{output_root}/data.compact"
    old = f"{output_root}/data.old"
    # crash recovery FIRST, before any delete: a mid-swap crash leaves
    # data/ missing and the full original under data.old — restore it
    # (the original, not the unvalidated compact copy, is truth)
    if not os.path.exists(data) and os.path.exists(old):
        os.rename(old, data)
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    _, committed = _watermark_state(spark, output_root)
    if not committed:
        raise ValueError(f"no committed epochs under {output_root}")
    if into_epoch is None:
        into_epoch = min(committed)
    if into_epoch not in committed:
        raise ValueError(
            f"into_epoch={into_epoch} is not a committed epoch "
            f"{sorted(committed)} — an unreserved target could later be "
            "overwritten by a refresh reusing that id")
    src = read_table(spark, data)
    data_epochs = {int(r["epoch"]) for r in
                   src.select("epoch").distinct().collect()}
    orphans = data_epochs - committed
    if orphans:
        raise ValueError(
            f"epoch(s) {sorted(orphans)} have data but no watermark row — "
            "a crashed refresh is mid-commit; re-run it (convergent) "
            "before compacting, or folding would duplicate its rows")
    n_src = src.count()
    df = src.withColumn("epoch", F.lit(int(into_epoch)))
    write_table(df, tmp, mode="overwrite",
                partition_by=("epoch", "bucket", "tier"))
    n = read_table(spark, tmp).count()
    if n != n_src:
        raise RuntimeError(
            f"compacted copy has {n} rows, source has {n_src} — swap "
            "aborted, store untouched (data.compact left for inspection)")
    os.rename(data, old)
    os.rename(tmp, data)
    shutil.rmtree(old, ignore_errors=True)
    return int(n)


def apply_retention_to_store(spark: SparkSession, output_root: str,
                             keep_windows: dict[str, int]) -> int:
    """Enforce a retention policy ON the checkpointed store (the third leg of
    rollup+downsample+RETENTION as a store operation): per (doc, tier) keep
    only the trailing ``keep_windows[tier]`` windows, rewriting ONLY the
    (bucket, tier) partitions the policy names via dynamic partition
    overwrite — tiers outside the policy are never touched or rewritten.
    Returns the number of rows aged out.

    At the 10^12 scale this is the periodic maintenance job: each affected
    partition is bounded (one bucket × one tier), the rewrite is one job,
    and untouched tiers' files are never opened (partition pruning on the
    tier directory key — plan-guarded in tests/test_plans.py).
    """
    from .rollup import apply_retention

    assert all(n >= 1 for n in keep_windows.values()), \
        "retention must keep ≥1 window (an emptied partition would not be " \
        "replaced by a dynamic overwrite)"
    tiers = list(keep_windows.keys())
    store = read_table(spark, f"{output_root}/data",
                       base_path=f"{output_root}/data")
    # an incrementally-refreshed store carries a leading epoch partition
    # key: the rewrite must preserve it, or the dynamic overwrite would
    # write bucket=… dirs beside the epoch=… dirs and corrupt the layout
    part_cols = (("epoch", "bucket", "tier") if "epoch" in store.columns
                 else ("bucket", "tier"))
    affected = store.filter(F.col("tier").isin(tiers))
    before = affected.count()          # scan 1: pre-image row count
    kept = apply_retention(affected, keep_windows)
    write_table(kept, f"{output_root}/data", mode="overwrite",
                partition_by=part_cols, dynamic_overwrite=True)
    # post-image count from the (much smaller) committed partitions — the
    # same validate-from-committed-output pattern as run_checkpointed,
    # instead of re-running the retention window a second time
    after = read_table(spark, f"{output_root}/data",
                       base_path=f"{output_root}/data") \
        .filter(F.col("tier").isin(tiers)).count()
    return before - after


def read_rollup(spark: SparkSession, output_root: str) -> DataFrame:
    """Read back the full rolled-up dataset (all buckets, partition-pruned on
    bucket/tier predicates for free)."""
    return read_table(spark, f"{output_root}/data",
                      base_path=f"{output_root}/data").drop("bucket")


def table_diff(a: DataFrame, b: DataFrame, key_cols: Sequence[str],
               value_cols: Sequence[str]) -> DataFrame:
    """Key-aligned diff between two table versions — the audit an
    incremental store runs after a refresh/compaction/backfill ("what
    actually changed between these two states"): a FULL OUTER join on
    ``key_cols`` classifies every key as only_a / only_b / changed /
    unchanged, with exact value-delta magnitudes for the changed set.

    Exactness: classification is NULL-safe equality on the raw column
    values (no tolerance — the store's own contract is bit-equality,
    see incremental_rollup's oracle); delta magnitudes sum |a − b| per
    numeric column in the column's own exact type (caller passes cents/
    integer columns; the time_weighted_avg conversion argument).

    Scale shape: one shuffle per side on the key columns (the join),
    then a single global partial-aggregated summary row per class —
    nothing row-grain leaves the join stage. Broadcast is deliberately
    NOT hinted: both sides are same-order-of-magnitude stores.

    Output: one row per class (class, n_keys, abs_delta, n_null_deltas).
    abs_delta is NULL for only_a/only_b (the other side has no value) and
    sums only fully-comparable deltas; a changed row where ONE side's
    value is NULL has no magnitude (|a − NULL| is NULL) and is counted in
    ``n_null_deltas`` instead of vanishing silently (review finding).
    """
    keys = list(key_cols)
    vals = list(value_cols)
    if not keys or not vals:
        raise ValueError("need at least one key column and one value column")
    # explicit presence markers: keying presence off a value column would
    # misclassify a present row whose value is genuinely NULL
    an = a.select(*keys, F.lit(1).alias("_a_present"),
                  *[F.col(c).alias(f"_a_{c}") for c in vals])
    bn = b.select(*keys, F.lit(1).alias("_b_present"),
                  *[F.col(c).alias(f"_b_{c}") for c in vals])
    j = an.join(bn, keys, "full_outer")
    in_a = F.col("_a_present").isNotNull()
    in_b = F.col("_b_present").isNotNull()
    same = None
    for c in vals:
        eq = F.col(f"_a_{c}").eqNullSafe(F.col(f"_b_{c}"))
        same = eq if same is None else (same & eq)
    cls = (F.when(in_a & ~in_b, F.lit("only_a"))
           .when(~in_a & in_b, F.lit("only_b"))
           .when(same, F.lit("unchanged"))
           .otherwise(F.lit("changed")))
    delta = None
    for c in vals:
        d = F.abs(F.col(f"_a_{c}") - F.col(f"_b_{c}"))
        delta = d if delta is None else (delta + d)
    null_delta = ((cls == "changed") & delta.isNull()).cast("long")
    return (j.select(cls.alias("class"), delta.alias("_d"),
                     null_delta.alias("_nd"))
            .groupBy("class")
            .agg(F.count("*").cast("long").alias("n_keys"),
                 F.sum("_d").cast("long").alias("abs_delta"),
                 F.sum("_nd").cast("long").alias("n_null_deltas")))
