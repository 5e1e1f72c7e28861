"""Resumability (north_rule): kill after part of the buckets, re-run, outputs
identical to a clean single run; lineage rows present and idempotent."""

from __future__ import annotations

import pytest

from tsrollup.checkpoint import (
    completed_buckets, read_lineage, read_rollup, run_checkpointed,
)
from tests.test_rollup_spark import assert_exact_match


def test_kill_resume_identical(spark, sequences_path, tmp_path):
    clean_root = str(tmp_path / "clean")
    resumed_root = str(tmp_path / "resumed")

    # clean run: everything in one call
    done = run_checkpointed(spark, sequences_path, clean_root, n_buckets=4,
                            run_id="clean")
    assert done == [0, 1, 2, 3]

    # killed run: only 2 buckets, then "crash"
    part = run_checkpointed(spark, sequences_path, resumed_root, n_buckets=4,
                            run_id="r1", max_buckets=2)
    assert part == [0, 1]
    assert completed_buckets(spark, resumed_root) == {0, 1}

    # resume: picks up exactly the rest
    rest = run_checkpointed(spark, sequences_path, resumed_root, n_buckets=4,
                            run_id="r2")
    assert rest == [2, 3]

    a = read_rollup(spark, clean_root).toPandas()
    b = read_rollup(spark, resumed_root).toPandas()
    assert_exact_match(a, b)

    # idempotent: nothing left to do, lineage unchanged
    assert run_checkpointed(spark, sequences_path, resumed_root, n_buckets=4) == []
    lin = read_lineage(spark, resumed_root).toPandas()
    assert len(lin) == 4
    assert set(lin["status"]) == {"done"}
    assert (lin["n_points"] > 0).all()
    # per-partition metrics present
    assert (lin["wall_time_sec"] > 0).all()
    assert lin["n_docs"].sum() == 120  # every doc in exactly one bucket


def _jobs_started(spark, group: str, fn):
    """(fn(), number of Spark jobs it started)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setJobGroup(None, None)
    return out, len(spark._jsc.sc().statusTracker().getJobIdsForGroup(group))


def test_clean_run_scans_input_once(spark, sequences_path, tmp_path):
    # the number of Spark jobs for a clean run must be a small constant,
    # NOT proportional to n_buckets (the round-1 bug: one input scan per
    # bucket). A fresh store takes 5: input schema inference, the data
    # write, the per-bucket metrics aggregate (map + result stage) and the
    # lineage append. No lineage probe job, no footer inference of the
    # written output.
    for nb in (4, 8, 16):
        done, n_jobs = _jobs_started(
            spark, f"ckpt-one-scan-{nb}",
            lambda: run_checkpointed(spark, sequences_path,
                                     str(tmp_path / f"onescan{nb}"),
                                     n_buckets=nb, run_id="onescan"))
        assert done == list(range(nb))
        assert n_jobs <= 5, (nb, n_jobs)


def test_completed_buckets_on_fresh_store_starts_no_job(spark, tmp_path):
    got, n_jobs = _jobs_started(
        spark, "ckpt-fresh-probe",
        lambda: completed_buckets(spark, str(tmp_path / "nowhere")))
    assert got == set()
    assert n_jobs == 0


@pytest.mark.parametrize("compressed", [False, True])
def test_lineage_counts_match_committed_store(spark, sequences_path, tmp_path,
                                              compressed):
    """Per-bucket lineage n_docs / n_points equal an independent
    countDistinct(doc_id) / count(*) (packed: sum(n_windows)) over the
    committed store; a pending bucket that receives no docs gets zeros."""
    from pyspark.sql import functions as F

    from tsrollup.io import read_table

    root = str(tmp_path / "contract")
    # 120 docs over 512 buckets: most buckets of the first 64 get no doc
    done = run_checkpointed(spark, sequences_path, root, n_buckets=512,
                            bucket_range=(0, 64), compressed=compressed)
    assert done == list(range(64))
    data = read_table(spark, f"{root}/data")
    pts = F.sum("n_windows") if compressed else F.count("*")
    want = {r["bucket"]: (r["n_docs"], r["n_points"]) for r in
            data.groupBy("bucket")
            .agg(F.countDistinct("doc_id").alias("n_docs"),
                 pts.cast("long").alias("n_points")).collect()}
    lin = read_lineage(spark, root)
    assert dict(lin.dtypes)["n_docs"] == "bigint"
    assert dict(lin.dtypes)["n_points"] == "bigint"
    got = {r["bucket"]: (r["n_docs"], r["n_points"]) for r in lin.collect()}
    assert set(got) == set(range(64))
    empty = set(range(64)) - set(want)
    assert empty, "fixture must leave some pending bucket without docs"
    for b in range(64):
        assert got[b] == want.get(b, (0, 0)), b


def test_literal_frame_round_trips_rows(spark):
    from tsrollup.checkpoint import LINEAGE_SCHEMA, _literal_frame

    rows = [(0, "done", None, 6 * 10**12, "r'\\x\"${env:HOME}é", 1 / 3, ""),
            (7, "done", 12, 0, "run-0", float("inf"), "2026-01-01T00:00:00")]
    df = _literal_frame(spark, rows, LINEAGE_SCHEMA)
    assert df.dtypes == [("bucket", "int"), ("status", "string"),
                         ("n_docs", "bigint"), ("n_points", "bigint"),
                         ("run_id", "string"), ("wall_time_sec", "double"),
                         ("completed_at", "string")]
    assert [tuple(r) for r in df.collect()] == rows
    empty = _literal_frame(spark, [], LINEAGE_SCHEMA)
    assert empty.dtypes == df.dtypes and empty.count() == 0


def test_checkpoint_compressed_mode(spark, sequences_path, tmp_path):
    root = str(tmp_path / "packed")
    run_checkpointed(spark, sequences_path, root, n_buckets=2, compressed=True)
    from tsrollup.rollup import decompress_rollup

    back = decompress_rollup(read_rollup(spark, root)).count()
    assert back > 0


def test_store_retention_rewrites_only_policy_tiers(spark, sequences_path,
                                                    tmp_path):
    from pyspark.sql import functions as F

    from tsrollup.checkpoint import apply_retention_to_store
    from tsrollup.rollup import apply_retention

    root = str(tmp_path / "ret")
    run_checkpointed(spark, sequences_path, root, n_buckets=4,
                     tiers={"1m": 1, "1h": 60})
    before = read_rollup(spark, root).toPandas()
    aged = apply_retention_to_store(spark, root, {"1m": 3})
    after = read_rollup(spark, root)
    # aged-out rows really gone; policy math matches the DataFrame operator
    want = apply_retention(
        spark.createDataFrame(before[before.tier == "1m"]), {"1m": 3}) \
        .count()
    got_1m = after.filter("tier = '1m'").count()
    assert got_1m == want
    assert aged == len(before[before.tier == "1m"]) - want and aged > 0
    # the 1h tier (outside the policy) is untouched, row for row
    b1h = before[before.tier == "1h"].sort_values(
        ["doc_id", "window_start"]).reset_index(drop=True)
    a1h = after.filter("tier = '1h'").toPandas().sort_values(
        ["doc_id", "window_start"]).reset_index(drop=True)
    assert len(a1h) == len(b1h)
    assert (a1h["sum"].values == b1h["sum"].values).all()
    # every doc keeps exactly its trailing ≤3 base windows
    mx = (after.filter("tier = '1m'").groupBy("doc_id")
          .agg(F.count("*").alias("n")).agg(F.max("n")).collect()[0][0])
    assert mx <= 3


def test_read_lineage_missing_vs_corrupt(spark, tmp_path):
    """Missing lineage (first run) → empty frame; a CORRUPT/unreadable
    lineage store must raise, not silently mark every bucket pending (which
    would rescan and rewrite the whole store and duplicate lineage rows)."""
    import pytest

    from tsrollup.checkpoint import read_lineage

    root = str(tmp_path / "store")
    assert read_lineage(spark, root).count() == 0  # PATH_NOT_FOUND → empty
    bad = tmp_path / "store" / "_lineage"
    bad.mkdir(parents=True)
    (bad / "part-0.parquet").write_bytes(b"this is not parquet")
    with pytest.raises(Exception):
        read_lineage(spark, root).count()


def test_read_lineage_uncommitted_dir_recovers(spark, tmp_path):
    """A killed FIRST lineage commit leaves _lineage/ holding only
    _temporary/ — that is 'no lineage yet' and must recover as first-run,
    while a dir with committed files plus a schema failure still raises
    (covered by the corrupt-file test above)."""
    from tsrollup.checkpoint import read_lineage

    root = tmp_path / "store2"
    (root / "_lineage" / "_temporary").mkdir(parents=True)
    assert read_lineage(spark, str(root)).count() == 0


def test_bucket_range_shards_disjointly(spark, sequences_path, tmp_path):
    """bucket_range=(lo, hi) restricts a call to its shard; two disjoint
    shards cover the corpus exactly and match an unsharded run."""
    import pytest as _pytest

    root = str(tmp_path / "sharded")
    a = run_checkpointed(spark, sequences_path, root, n_buckets=4,
                         run_id="sa", bucket_range=(0, 2))
    assert a == [0, 1]
    b = run_checkpointed(spark, sequences_path, root, n_buckets=4,
                         run_id="sb", bucket_range=(2, 4))
    assert b == [2, 3]
    assert completed_buckets(spark, root) == {0, 1, 2, 3}
    # shard of an already-done range is a no-op
    assert run_checkpointed(spark, sequences_path, root, n_buckets=4,
                            bucket_range=(0, 2)) == []

    clean = str(tmp_path / "unsharded")
    run_checkpointed(spark, sequences_path, clean, n_buckets=4)
    assert_exact_match(read_rollup(spark, root).toPandas(),
                       read_rollup(spark, clean).toPandas())

    with _pytest.raises(ValueError, match="bucket_range"):
        run_checkpointed(spark, sequences_path, root, n_buckets=4,
                         bucket_range=(2, 5))
