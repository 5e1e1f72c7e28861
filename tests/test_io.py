"""Table-format boundary (tsrollup.io): Iceberg branch logic unit-tested via
a fake DataFrameWriterV2 (no Iceberg runtime in this sandbox — the fallback
paths must still be exercised, not ship silently broken)."""

from __future__ import annotations

import pytest


class _FakeWV2:
    """Mimics DataFrameWriterV2: first append/overwritePartitions on a
    not-yet-created table raises; create() bootstraps it."""

    def __init__(self, log, exists=False, fail_msg="NoSuchTable"):
        self.log, self.exists, self.fail_msg = log, exists, fail_msg

    def partitionedBy(self, *cols):
        self.log.append("partitionedBy")
        return self

    def append(self):
        if not self.exists:
            raise RuntimeError(self.fail_msg)
        self.log.append("append")

    def overwritePartitions(self):
        if not self.exists:
            raise RuntimeError(self.fail_msg)
        self.log.append("overwritePartitions")

    def create(self):
        self.log.append("create")
        self.exists = True

    def createOrReplace(self):
        self.log.append("createOrReplace")


class _FakeDF:
    def __init__(self, wv2):
        self._wv2 = wv2

    def writeTo(self, ident):
        return self._wv2


@pytest.fixture
def iceberg_env(monkeypatch):
    monkeypatch.setenv("TSROLLUP_TABLE_FORMAT", "iceberg")


def test_append_bootstraps_missing_table(iceberg_env):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log)), "ns.t", mode="append")
    assert log == ["create"]  # first append auto-creates


def test_append_on_existing_table_appends(iceberg_env):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log, exists=True)), "ns.t", mode="append")
    assert log == ["append"]


def test_append_reraises_real_errors(iceberg_env):
    from tsrollup.io import write_table

    log = []
    df = _FakeDF(_FakeWV2(log, fail_msg="storage unavailable"))
    with pytest.raises(RuntimeError, match="storage unavailable"):
        write_table(df, "ns.t", mode="append")
    assert log == []  # no silent create on a non-missing-table failure


def test_dynamic_overwrite_bootstraps_missing_table(iceberg_env, spark):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log)), "ns.t", mode="overwrite",
                partition_by=("bucket",), dynamic_overwrite=True)
    assert log == ["partitionedBy", "create"]


def test_dynamic_overwrite_on_existing_table(iceberg_env):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log, exists=True)), "ns.t",
                mode="overwrite", partition_by=("bucket",),
                dynamic_overwrite=True)
    assert log == ["partitionedBy", "overwritePartitions"]


def test_dynamic_overwrite_reraises_real_errors(iceberg_env):
    from tsrollup.io import write_table

    log = []
    df = _FakeDF(_FakeWV2(log, fail_msg="commit conflict"))
    with pytest.raises(RuntimeError, match="commit conflict"):
        write_table(df, "ns.t", mode="overwrite", dynamic_overwrite=True)
    assert log == []  # no silent create on a non-missing-table failure


def test_plain_overwrite_uses_create_or_replace(iceberg_env):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log)), "ns.t", mode="overwrite")
    assert log == ["createOrReplace"]


def test_partitioned_append_partitions_before_append(iceberg_env):
    from tsrollup.io import write_table

    log = []
    write_table(_FakeDF(_FakeWV2(log, exists=True)), "ns.t", mode="append",
                partition_by=("source", "tier"))
    assert log == ["partitionedBy", "append"]


def test_missing_table_detection_prefers_error_condition():
    """is_missing_table_error consults getCondition()/getErrorClass() before
    the message text — a wrapped/cause-chain message no longer decides."""
    from tsrollup.io import is_missing_table_error

    class CondErr(Exception):
        def __init__(self, cond, msg):
            super().__init__(msg)
            self._c = cond

        def getCondition(self):
            return self._c

    # condition says missing, message says nothing: classified missing
    assert is_missing_table_error(
        CondErr("PATH_NOT_FOUND", "opaque wrapped text"))
    # condition present and NOT a missing-tag: message tag still rescues
    # (Iceberg's NoSuchTable surfaces in the message with no condition)
    assert is_missing_table_error(RuntimeError("NoSuchTableException: x"))
    # neither: not missing
    assert not is_missing_table_error(
        CondErr("INTERNAL_ERROR", "something else"))


def test_condition_is_authoritative_over_message_text():
    """A structured non-missing condition (e.g. INTERNAL_ERROR) whose wrapped
    cause text happens to mention 'Path does not exist' must NOT be
    classified missing — read_lineage would silently discard resume state."""
    from tsrollup.io import is_missing_table_error

    class CondErr(Exception):
        def __init__(self, cond, msg):
            super().__init__(msg)
            self._c = cond

        def getCondition(self):
            return self._c

    assert not is_missing_table_error(
        CondErr("INTERNAL_ERROR", "cause: Path does not exist: /x"))
    # condition-less exceptions still use the message fallback
    assert is_missing_table_error(RuntimeError("Path does not exist: /x"))


def test_read_table_declared_schema_skips_inference(spark, tmp_path):
    """A declared-schema read of a (bucket, tier)-partitioned store returns
    the inferred read's rows and starts no footer-inference job."""
    from pyspark.sql import functions as F

    from tsrollup.io import read_table, write_table

    df = (spark.range(200)
          .select((F.col("id") % 3).cast("int").alias("bucket"),
                  F.when(F.col("id") % 2 == 0, "1m").otherwise("1h")
                  .alias("tier"),
                  F.col("id").cast("long").alias("window_start"),
                  (F.col("id") * 0.5).alias("mean")))
    p = str(tmp_path / "store")
    write_table(df, p, partition_by=("bucket", "tier"))
    sc = spark.sparkContext

    def jobs(group, **kw):
        sc.setJobGroup(group, group)
        try:
            out = read_table(spark, p, **kw)
        finally:
            sc.setJobGroup(None, None)
        return out, len(
            spark._jsc.sc().statusTracker().getJobIdsForGroup(group))

    declared, n_declared = jobs("declared-read", schema=df.schema)
    inferred, n_inferred = jobs("inferred-read")
    assert (n_declared, n_inferred) == (0, 1)
    assert dict(declared.dtypes) == dict(inferred.dtypes)
    cols = ["bucket", "tier", "window_start", "mean"]
    assert (sorted(declared.select(*cols).collect())
            == sorted(inferred.select(*cols).collect()))


def test_read_table_iceberg_ignores_declared_schema(monkeypatch):
    """An Iceberg table carries its own schema: the branch accepts the
    argument and loads the table without declaring it."""
    import tsrollup.io as tio

    class _Reader:
        def format(self, fmt):
            assert fmt == "iceberg"
            return self

        def schema(self, _):
            raise AssertionError("iceberg reads must not declare a schema")

        def load(self, ident):
            return ("loaded", ident)

    class _Spark:
        read = _Reader()

    monkeypatch.setenv("TSROLLUP_TABLE_FORMAT", "iceberg")
    monkeypatch.setattr(tio, "_ICEBERG_OK", True)
    assert tio.read_table(_Spark(), "ns.data", schema="x long") == (
        "loaded", "ns.data")


def test_scan_min_parallel_widens_small_scans_only(spark, tmp_path):
    """An under-split scan is repartitioned up to the requested parallelism;
    a scan already at/above it is returned untouched (the production
    no-op)."""
    import pandas as pd

    from tsrollup.io import scan_min_parallel

    p = str(tmp_path / "small")
    pd.DataFrame({"x": range(100)}).to_parquet(p + ".parquet")
    df = spark.read.parquet(p + ".parquet")
    assert df.rdd.getNumPartitions() == 1
    widened = scan_min_parallel(df, min_partitions=8)
    assert widened.rdd.getNumPartitions() == 8
    assert widened.count() == 100
    # already wide enough → same plan object, no repartition inserted
    wide = df.repartition(8)
    assert scan_min_parallel(wide, min_partitions=4) is wide


def test_parquet_split_atoms_counts_row_groups(tmp_path):
    """Row groups are the parquet split atom: the probe must report the
    ROW-GROUP count (what scan tasks can actually parallelize over), not
    the file count, and it must cap early and refuse non-parquet input."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from tsrollup.io import parquet_split_atoms

    one = str(tmp_path / "one.parquet")
    pd.DataFrame({"x": range(1000)}).to_parquet(one)
    assert parquet_split_atoms(one) == 1

    many = str(tmp_path / "many.parquet")
    tbl = pa.Table.from_pandas(pd.DataFrame({"x": range(1000)}))
    pq.write_table(tbl, many, row_group_size=100)  # 10 row groups
    assert parquet_split_atoms(many) == 10
    # cap stops early at file granularity — it may overshoot within the
    # final footer read, the caller only asks "is it below my target"
    assert parquet_split_atoms(many, cap=4) >= 4

    d = tmp_path / "dir"
    d.mkdir()
    pd.DataFrame({"x": range(10)}).to_parquet(str(d / "a.parquet"))
    pq.write_table(tbl, str(d / "b.parquet"), row_group_size=500)
    (d / "_SUCCESS").write_text("")  # marker files are skipped
    assert parquet_split_atoms(str(d)) == 3

    notpq = tmp_path / "x.parquet"
    notpq.write_text("not parquet")
    assert parquet_split_atoms(str(notpq)) is None
    assert parquet_split_atoms(str(tmp_path / "missing")) is None


def test_shingle_explode_keeps_transform_above_exchange(spark):
    """The inferred size()>0 filter from exploding a STAGED shingle array
    used to be pushed below the scan-widening exchange, re-evaluating the
    whole interpreted shingle transform per row on the scan's few real
    tasks. The inline form must keep the gram transform OUT of every
    pre-exchange Filter/Scan node (split+size there is fine)."""
    import pandas as pd

    from tsrollup.dedup import word_shingles

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2], "text": ["a b c d", "b c d e"]}))
    plan = word_shingles(docs.repartition(4), 3) \
        ._jdf.queryExecution().executedPlan().toString()
    for line in plan.splitlines():
        node = line.lstrip(" +-*(0123456789)")
        if node.startswith(("Filter", "Scan", "FileScan")):
            assert "array_join" not in line, plan


def test_iceberg_without_runtime_fails_with_actionable_error(
        spark, monkeypatch):
    """Selecting the iceberg format without the runtime jar must name the
    fix (--packages + catalog conf), not die with DATA_SOURCE_NOT_FOUND."""
    import tsrollup.io as tio

    monkeypatch.setenv("TSROLLUP_TABLE_FORMAT", "iceberg")
    monkeypatch.setattr(tio, "_ICEBERG_OK", None)
    with pytest.raises(RuntimeError, match="iceberg-spark-runtime"):
        tio.read_table(spark, "ns.sequences")


class TestZOrder:
    def test_key_interleaves_bits(self, spark):
        from tsrollup.io import zorder_key
        df = spark.createDataFrame([(3, 5)], "a long, b long")
        # a=0b011, b=0b101 at bits=3 -> z = interleave(a into even,
        # b into odd positions): bit layout z = b2 a2 b1 a1 b0 a0
        #   a0=1,b0=1,a1=1,b1=0,a2=0,b2=1 -> 0b100111 = 39
        z = df.select(zorder_key(["a", "b"], bits=3).alias("z")).collect()
        assert z[0].z == 0b100111

    def test_validation(self, spark):
        from tsrollup.io import zorder_key
        import pytest as _pytest
        with _pytest.raises(ValueError):
            zorder_key([], bits=8)
        with _pytest.raises(ValueError):
            zorder_key(["a", "b"], bits=32)  # 64 > 63

    def test_layout_prunes_both_dimensions(self, spark, tmp_path):
        """The load-bearing property: against a box filter on the SECOND
        dimension, a layout sorted on the first dimension alone prunes
        nothing (every file spans all of b), while the z-ordered layout's
        per-file min/max stats exclude most files — measured from the
        real parquet footers, the same stats Spark's scan uses."""
        import pyarrow.parquet as pq

        from tsrollup.io import zorder_layout

        rows = [(a, b) for a in range(64) for b in range(64)]
        df = spark.createDataFrame(rows, "a long, b long")

        def matching_groups(root, lo_b, hi_b):
            import os
            n_match = n_total = 0
            for f in os.listdir(root):
                if not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                for g in range(md.num_row_groups):
                    stats = {md.row_group(g).column(i).path_in_schema:
                             md.row_group(g).column(i).statistics
                             for i in range(md.row_group(g).num_columns)}
                    s = stats["b"]
                    n_total += 1
                    if not (s.max < lo_b or s.min > hi_b):
                        n_match += 1
            return n_match, n_total

        linear = str(tmp_path / "linear")
        (df.repartitionByRange(8, "a").sortWithinPartitions("a")
         .write.parquet(linear))
        zord = str(tmp_path / "zord")
        zorder_layout(df, ["a", "b"], bits=6, n_files=8).write.parquet(zord)

        lin_match, lin_total = matching_groups(linear, 0, 7)
        z_match, z_total = matching_groups(zord, 0, 7)
        assert lin_match == lin_total  # a-sort cannot prune a b-filter
        assert z_match < z_total // 2, (z_match, z_total)

        # layout only: row multiset unchanged
        back = spark.read.parquet(zord)
        assert back.count() == len(rows)
        assert back.groupBy().sum("a", "b").collect() == \
            df.groupBy().sum("a", "b").collect()


class TestProfileTable:
    def test_counts_nulls_distincts_and_cents(self, spark):
        from tsrollup.io import profile_table
        df = spark.createDataFrame(
            [("a", 1.25), ("b", 1.25), ("a", None), (None, 3.00)],
            "k string, v double")
        out = {r.column: r for r in
               profile_table(df, ["v"], ["k"]).collect()}
        v, k = out["v"], out["k"]
        assert v.n_rows == 4 and v.n_null == 1 and v.n_distinct == 2
        assert v.min_cents == 125 and v.max_cents == 300
        assert v.sum_cents == 125 + 125 + 300
        assert k.n_rows == 4 and k.n_null == 1 and k.n_distinct == 2
        assert k.min_cents is None and k.sum_cents is None

    def test_single_aggregation_one_scan(self, spark):
        import re

        from tsrollup.io import profile_table
        from tsrollup.planaudit import formatted_plan
        df = spark.createDataFrame([("a", 1.0)], "k string, v double")
        plan = formatted_plan(profile_table(df, ["v"], ["k"]))
        scans = re.findall(r"^\(\d+\) Scan ExistingRDD", plan, re.M)
        assert len(scans) == 1, plan

    def test_validation(self, spark):
        from tsrollup.io import profile_table
        import pytest as _pytest
        df = spark.createDataFrame([("a",)], "k string")
        with _pytest.raises(ValueError):
            profile_table(df, [], [])

    def test_rejects_overlapping_column_lists(self, spark):
        # review finding: duplicate aliases surfaced as an opaque
        # AMBIGUOUS_REFERENCE at analysis time
        from tsrollup.io import profile_table
        import pytest as _pytest
        df = spark.createDataFrame([("a", 1.0)], "k string, v double")
        with _pytest.raises(ValueError, match="more than once"):
            profile_table(df, ["v"], ["v"])
        with _pytest.raises(ValueError, match="more than once"):
            profile_table(df, ["v", "v"], [])


class TestBucketed:
    """Co-located joins via catalog bucketing (io.write_bucketed): the
    100 TB store layout — same key, same bucket count, zero exchanges."""

    @staticmethod
    def _frames(spark):
        from pyspark.sql import functions as F
        a = spark.range(0, 1000).select(
            F.col("id").alias("doc_id"), (F.col("id") * 2).alias("v"))
        b = spark.range(0, 1000).select(
            F.col("id").alias("doc_id"), (F.col("id") * 3).alias("w"))
        return a, b

    def test_colocated_join_zero_exchanges_vs_two_plain(
            self, spark, tmp_path):
        from pyspark.sql import functions as F
        from tsrollup.io import write_bucketed
        from tsrollup.planaudit import formatted_plan, n_data_exchanges

        a, b = self._frames(spark)
        write_bucketed(a, "tb_join_a", "doc_id", 4,
                       path=str(tmp_path / "a"))
        write_bucketed(b, "tb_join_b", "doc_id", 4,
                       path=str(tmp_path / "b"))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = spark.table("tb_join_a").join(spark.table("tb_join_b"),
                                              "doc_id")
            plan = formatted_plan(j)
            assert n_data_exchanges(plan) == 0, plan
            got = j.agg(F.sum(F.col("v") + F.col("w"))).collect()[0][0]
            assert got == sum(5 * i for i in range(1000))
            # the same join without the layout shuffles BOTH sides
            plain = formatted_plan(a.join(b, "doc_id"))
            assert n_data_exchanges(plain) == 2, plain
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
            spark.sql("DROP TABLE IF EXISTS tb_join_a")
            spark.sql("DROP TABLE IF EXISTS tb_join_b")

    def test_groupby_on_bucket_key_skips_shuffle(self, spark, tmp_path):
        from pyspark.sql import functions as F
        from tsrollup.io import write_bucketed
        from tsrollup.planaudit import formatted_plan, n_data_exchanges

        a, _ = self._frames(spark)
        write_bucketed(a, "tb_grp", "doc_id", 4, path=str(tmp_path / "g"))
        try:
            g = spark.table("tb_grp").groupBy("doc_id").agg(
                F.sum("v").alias("s"))
            assert n_data_exchanges(formatted_plan(g)) == 0
            assert g.count() == 1000
        finally:
            spark.sql("DROP TABLE IF EXISTS tb_grp")

    def test_validation_and_iceberg_gate(self, spark, monkeypatch):
        from tsrollup.io import write_bucketed
        a, _ = self._frames(spark)
        with pytest.raises(ValueError, match="buckets"):
            write_bucketed(a, "tb_bad", "doc_id", 0)
        with pytest.raises(ValueError, match="bucket key"):
            write_bucketed(a, "tb_bad", [], 4)
        monkeypatch.setenv("TSROLLUP_TABLE_FORMAT", "iceberg")
        with pytest.raises(ValueError, match="bucket\\(N, col\\)"):
            write_bucketed(a, "tb_bad", "doc_id", 4)
