"""Table-format boundary: every scan/write of engine tables goes through this
module so parquet ⇄ Iceberg is a config flag, not a code change (SURVEY §7.1).

The sandbox has no Iceberg runtime jar (re-probed each round — round 5:
still absent, so the V2-writer branches remain fake-writer-tested in
tests/test_io.py), so the default is parquet; on a real cluster set
``TSROLLUP_TABLE_FORMAT=iceberg`` (and the usual Spark catalog confs) and
identifiers are treated as catalog table names instead of paths.
Iceberg buys the engine: atomic snapshot commits for checkpoint buckets,
snapshot-id lineage instead of path fingerprints, partition pruning on
(source, tier) metadata, and streaming scans of appended files.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def table_format() -> str:
    return os.environ.get("TSROLLUP_TABLE_FORMAT", "parquet")


# Error-class names for "the table/path doesn't exist yet" across the two
# runtimes this boundary spans: Spark's own conditions (PATH_NOT_FOUND,
# TABLE_OR_VIEW_NOT_FOUND — stable names in the PySpark 4.x error framework)
# and Iceberg's NoSuchTableException (surfaces as a plain JVM exception whose
# class name appears in the message, no Spark condition attached).
_MISSING_TABLE_TAGS = ("PATH_NOT_FOUND", "TABLE_OR_VIEW_NOT_FOUND",
                       "NoSuchTable", "Path does not exist")


def error_condition(e: Exception) -> str | None:
    """The structured Spark error-condition name for ``e``, if it carries
    one. PySpark 4 exposes it as ``getCondition()`` (``getErrorClass()`` in
    3.x, still present as a deprecated alias); prefer these over message
    substrings — the condition NAME is the stable contract, the human
    message is not."""
    for attr in ("getCondition", "getErrorClass"):
        fn = getattr(e, attr, None)
        if callable(fn):
            try:
                cond = fn()
            except Exception:
                cond = None
            if cond:
                return cond
    return None


def is_missing_table_error(e: Exception) -> bool:
    """True iff ``e`` means the table/path genuinely doesn't exist yet.

    Checks the structured error condition first; when a condition IS present
    it is authoritative — a non-missing condition (e.g. INTERNAL_ERROR whose
    wrapped cause text happens to mention a path) must NOT be classified as
    missing, because read_lineage silently discards resume state on a missing
    table. The message scan remains only as a fallback for exceptions that
    carry no condition at all (Iceberg's NoSuchTableException, raw Hadoop
    FileNotFound messages)."""
    cond = error_condition(e)
    if cond is not None:
        return any(t in cond for t in _MISSING_TABLE_TAGS)
    msg = str(e)
    return any(t in msg for t in _MISSING_TABLE_TAGS)


def read_table(spark: SparkSession, ident: str,
               base_path: str | None = None,
               schema: StructType | str | None = None) -> DataFrame:
    """``ident`` is a path (parquet) or a catalog table name (iceberg).
    ``base_path`` (parquet only) keeps partition-directory columns when
    reading a subtree of a partitioned layout. ``schema`` (parquet only)
    declares the table's schema, partition columns included, so the read
    skips the footer-inference job; an Iceberg table carries its own
    schema, so that branch ignores it."""
    if table_format() == "iceberg":
        _require_iceberg(spark)
        return spark.read.format("iceberg").load(ident)
    r = spark.read
    if base_path is not None:
        r = r.option("basePath", base_path)
    if schema is not None:
        r = r.schema(schema)
    return r.parquet(ident)


def write_table(df: DataFrame, ident: str, mode: str = "overwrite",
                partition_by: tuple[str, ...] = (),
                dynamic_overwrite: bool = False) -> None:
    """``dynamic_overwrite=True`` replaces ONLY the partitions present in
    ``df`` (the checkpoint commit primitive): parquet via
    partitionOverwriteMode=dynamic (set/restored around the write), Iceberg
    via the V2 writer's ``overwritePartitions()`` — NOT saveAsTable, whose
    overwrite mode replaces the whole table regardless of the conf.

    Iceberg idents must be catalog table names; the checkpoint layout
    composes path-style idents (``root/data``), so an Iceberg deployment
    maps output_root to a namespace (``ns.data``, ``ns.lineage``) — see
    checkpoint.py module docstring."""
    if table_format() == "iceberg":
        # capability check only when a real session is attached — the fake
        # writers in tests/test_io.py exercise the branch logic jar-less
        sess = getattr(df, "sparkSession", None)
        if sess is not None:
            _require_iceberg(sess)
        wv2 = df.writeTo(ident)
        if partition_by:
            from pyspark.sql import functions as F

            wv2 = wv2.partitionedBy(*[F.col(c) for c in partition_by])
        if dynamic_overwrite:
            try:
                wv2.overwritePartitions()
            except Exception as e:
                # only the first-commit case falls through to create();
                # anything else (schema drift, commit conflict, storage
                # error) must surface with its real cause
                if is_missing_table_error(e):
                    wv2.create()
                else:
                    raise
        elif mode == "append":
            try:
                wv2.append()
            except Exception as e:
                # first append must bootstrap the table (parquet's
                # saveAsTable-style auto-create) — e.g. the lineage store's
                # very first commit; any other failure surfaces as-is
                if is_missing_table_error(e):
                    wv2.create()
                else:
                    raise
        else:
            wv2.createOrReplace()
        return
    spark = df.sparkSession
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "static") if dynamic_overwrite else None
    try:
        if dynamic_overwrite:
            spark.conf.set(conf_key, "dynamic")
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(ident)
    finally:
        if prev is not None:
            spark.conf.set(conf_key, prev)


def parquet_split_atoms(path: str, cap: int = 1 << 30) -> int | None:
    """Count the parquet ROW GROUPS under ``path`` (file or directory) — the
    true split atom. ``getNumPartitions()`` reports size-based splits, but a
    scan task whose byte range contains no row-group START reads nothing, so
    a single-row-group file scans as ONE working task no matter how many
    nominal splits the size formula produces (observed: the sf1.0 fixtures
    are one row group per table → 32 nominal splits, 31 of them empty, and
    every per-doc operator serialized on one core of 32).

    Stops early once ``cap`` atoms are found: a production table carries
    orders of magnitude more row groups than cores, and the caller only needs
    to know whether the count is BELOW its parallelism target — so at scale
    this touches a handful of footers, never the full manifest. Returns None
    when the layout isn't plain parquet files (caller falls back to the
    split count)."""
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = sorted(
            os.path.join(path, f) for f in os.listdir(path)
            if f.endswith((".parquet", ".parq")) and not f.startswith(("_", ".")))
    elif os.path.isfile(path):
        files = [path]
    else:
        return None
    if not files:
        return None
    total = 0
    for f in files:
        try:
            total += pq.ParquetFile(f).metadata.num_row_groups
        except Exception:  # noqa: BLE001 — not parquet we can read: no claim
            return None
        if total >= cap:
            break
    return total


def scan_min_parallel(df: DataFrame,
                      min_partitions: int | None = None,
                      known_partitions: int | None = None,
                      spread_cols: tuple[str, ...] | None = None) -> DataFrame:
    """Guard against a SMALL scan serializing a wide pipeline: a table that
    arrives as fewer splits than the session's parallelism (e.g. one file
    with one parquet row group — row groups are the split atom, so
    maxPartitionBytes can't cut finer) runs every pre-shuffle operator on
    that handful of cores. Repartition up-front when, and only when, the
    scan is below ``min_partitions`` (default: defaultParallelism); the
    shuffled bytes are by construction tiny (the whole table fit in too few
    splits), and explode/hash-heavy downstream work then uses the machine.

    At production scale this is a structural NO-OP — a real table carries
    orders of magnitude more splits than cores — so plans on big inputs are
    untouched; only the pathological small-scan case pays one small
    exchange.

    ``known_partitions`` lets a caller that memoizes the split-count probe
    (the probe is ~0.1 s of driver-side RDD conversion per call) skip it —
    see ``_fact`` in __spark_entry__.py.

    ``spread_cols`` switches the widening exchange from round-robin to
    HASH partitioning on those columns (pass a high-cardinality unique
    key). Round-robin repartition first LOCALLY SORTS every input
    partition (sortBeforeRepartition, for deterministic retries) — and on
    an under-split scan that sort runs on the scan's few real tasks,
    serializing a full-table sort onto the critical path the guard exists
    to shorten. Hash repartition needs no sort, is retry-deterministic by
    construction, and downstream operators keyed on the same columns can
    reuse the partitioning outright."""
    spark = df.sparkSession
    want = min_partitions or spark.sparkContext.defaultParallelism
    n = (known_partitions if known_partitions is not None
         else df.rdd.getNumPartitions())
    if n < want:
        if spread_cols:
            from pyspark.sql import functions as F

            return df.repartition(want, *[F.col(c) for c in spread_cols])
        return df.repartition(want)
    return df


_ICEBERG_OK: bool | None = None


def _require_iceberg(spark: SparkSession) -> None:
    """Fail fast with the fix named when the iceberg format is selected but
    the runtime isn't on the classpath — otherwise reads die with a cryptic
    DATA_SOURCE_NOT_FOUND and writes with a misleading SCHEMA_NOT_FOUND
    (both observed in round-5 probing)."""
    global _ICEBERG_OK
    if _ICEBERG_OK is None:
        try:
            spark._jvm.java.lang.Class.forName(
                "org.apache.iceberg.spark.source.IcebergSource")
            _ICEBERG_OK = True
        except Exception:
            _ICEBERG_OK = False
    if not _ICEBERG_OK:
        raise RuntimeError(
            "TSROLLUP_TABLE_FORMAT=iceberg, but the Iceberg Spark runtime "
            "is not on the classpath. Launch with --packages "
            "org.apache.iceberg:iceberg-spark-runtime-<spark>_<scala>:<ver> "
            "(or the equivalent jar) and configure a catalog, e.g. "
            "spark.sql.catalog.<name>=org.apache.iceberg.spark.SparkCatalog.")


def zorder_key(cols, bits: int = 16):
    """Morton/Z-order key: interleave the low ``bits`` bits of each column
    so rows close in EVERY dimension land close in the one sort order —
    the layout primitive behind multi-dimension scan pruning (Delta's
    OPTIMIZE ZORDER; Iceberg's z-ordered rewrites). A layout sorted on
    (a) alone prunes row groups only for filters on a; a z-ordered layout
    tightens the min/max ranges of BOTH a and b in every file, so a
    filter on either (or both) skips row groups.

    Inputs must be non-negative ints already bounded below ``2**bits``
    (bucket/rank/scale first — e.g. ``pmod(xxhash64(key), 2**bits)`` or a
    min-max scale); bits above the window are deliberately ignored
    (documented, not silently clamped data). Pure JVM bit arithmetic —
    ``bits × len(cols)`` shift/or terms, no UDF.
    """
    from functools import reduce

    from pyspark.sql import Column, functions as F

    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    if not cols:
        raise ValueError("need at least one column")
    k = len(cols)
    if bits < 1 or bits * k > 63:
        raise ValueError("need 1 <= bits and bits * len(cols) <= 63")
    terms: list[Column] = []
    for j, c in enumerate(cols):
        x = c.cast("long")
        for i in range(bits):
            terms.append(
                F.shiftleft(F.shiftright(x, i).bitwiseAND(F.lit(1)),
                            i * k + j))
    return reduce(lambda a, b: a.bitwiseOR(b), terms)


def zorder_layout(df: DataFrame, cols, bits: int = 16,
                  n_files: int = 8) -> DataFrame:
    """Return ``df`` re-laid-out in Z-order over ``cols`` (see
    :func:`zorder_key`): range-partitioned then sorted by the interleaved
    key, so each written file covers a compact hyper-rectangle and its
    parquet min/max statistics prune on EVERY z-ordered dimension.
    Row multiset is untouched — this is a LAYOUT operator; the pruning
    evidence lives in tests/test_io.py (row-group stats measured via the
    parquet footers)."""
    z = zorder_key(cols, bits=bits)
    return (df.repartitionByRange(int(n_files), z.alias("_z"))
            .sortWithinPartitions(z.alias("_z")))


def write_bucketed(df: DataFrame, table: str, key, buckets: int,
                   sort: bool = True, mode: str = "overwrite",
                   path: str | None = None) -> None:
    """Save ``df`` as a catalog table hash-BUCKETED (and by default sorted)
    on ``key`` — the co-located layout for the store's hot join/regroup
    keys. Two tables bucketed on the same key with the same bucket count
    sort-merge-join with ZERO exchanges (each bucket pairs file-to-file),
    and aggregations whose grouping keys start with ``key`` skip their
    shuffle too: at 100 TB the store is written once but joined every
    refresh/read, so the one-time bucketed write amortizes immediately.
    Plan evidence lives in tests/test_io.py::TestBucketed — the bucketed
    join's audit shows 0 exchanges vs 2 for the same join unbucketed.

    Bucket metadata lives in the session catalog: durable across restarts
    with a persistent metastore (production), session-scoped with the
    default in-memory catalog (this sandbox — documented, not a bug).
    On Iceberg deployments the equivalent is the ``bucket(N, col)``
    partition transform on the DataFrameWriterV2 path (env-gated like the
    rest of write_table); plain ``partition_by`` there covers the coarse
    layout, so this helper intentionally targets the parquet/catalog
    format only.

    ``path`` makes it an external table (data at ``path``, metadata in
    the catalog); default is a managed table under the warehouse dir.
    """
    if buckets < 1:
        raise ValueError("need buckets >= 1")
    if table_format() == "iceberg":
        raise ValueError(
            "write_bucketed targets the parquet/catalog format; on "
            "Iceberg use write_table with a bucket(N, col) partition "
            "transform instead")
    keys = [key] if isinstance(key, str) else list(key)
    if not keys:
        raise ValueError("need at least one bucket key")
    w = (df.write.format("parquet").mode(mode)
         .bucketBy(int(buckets), keys[0], *keys[1:]))
    if sort:
        w = w.sortBy(keys[0], *keys[1:])
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def profile_table(df: DataFrame, numeric_cols, key_cols=()) -> DataFrame:
    """Data-quality profile — the schema-drift / null-audit pass an ingest
    runs before trusting a new drop: one row per profiled column with
    exact row/null/distinct counts and (for numerics) exact integer-cents
    min/max/sum. ``numeric_cols`` are profiled fully; ``key_cols`` get
    count/null/distinct only.

    Exactness: distincts are EXACT (count_distinct — the one pass pays
    Spark's expand by #distinct-aggregates, the standard cost of exact
    multi-column profiling; an HLL approx_count_distinct would be cheaper
    but its estimate is engine-specific and un-oracle-able); numeric
    stats ride int64 cents. Everything reduces in ONE aggregation over
    one scan — no per-column passes — then explodes to column grain.

    Output: column (string), n_rows, n_null, n_distinct, min_cents,
    max_cents, sum_cents (longs; NULL for key columns).
    """
    from pyspark.sql import functions as F

    ncols = list(numeric_cols)
    kcols = list(key_cols)
    if not ncols and not kcols:
        raise ValueError("nothing to profile")
    dupes = set(ncols) & set(kcols) | {c for cs in (ncols, kcols)
                                       for c in cs if cs.count(c) > 1}
    if dupes:
        # the duplicated aggregate aliases would otherwise surface as an
        # opaque AMBIGUOUS_REFERENCE at analysis time (review finding)
        raise ValueError(f"columns listed more than once: {sorted(dupes)}")
    aggs = [F.count("*").cast("long").alias("_n")]
    for c in ncols + kcols:
        aggs.append(F.count(c).cast("long").alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(F.col(c)).cast("long").alias(f"_nd_{c}"))
    for c in ncols:
        cents = (F.col(c).cast("decimal(18,2)") * 100).cast("long")
        aggs.append(F.min(cents).alias(f"_mn_{c}"))
        aggs.append(F.max(cents).alias(f"_mx_{c}"))
        aggs.append(F.sum(cents.cast("decimal(18,0)")).cast("long")
                    .alias(f"_sm_{c}"))
    one = df.agg(*aggs)
    null_l = F.lit(None).cast("long")
    rows = F.array(*(
        [F.struct(F.lit(c).alias("column"),
                  F.col("_n").alias("n_rows"),
                  (F.col("_n") - F.col(f"_nn_{c}")).alias("n_null"),
                  F.col(f"_nd_{c}").alias("n_distinct"),
                  F.col(f"_mn_{c}").alias("min_cents"),
                  F.col(f"_mx_{c}").alias("max_cents"),
                  F.col(f"_sm_{c}").alias("sum_cents"))
         for c in ncols] +
        [F.struct(F.lit(c).alias("column"),
                  F.col("_n").alias("n_rows"),
                  (F.col("_n") - F.col(f"_nn_{c}")).alias("n_null"),
                  F.col(f"_nd_{c}").alias("n_distinct"),
                  null_l.alias("min_cents"),
                  null_l.alias("max_cents"),
                  null_l.alias("sum_cents"))
         for c in kcols]))
    return one.select(F.explode(rows).alias("r")).select("r.*")
