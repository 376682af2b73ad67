"""Pins for the round-16 driver-side metadata I/O fast path
(sources/warehouse.py: overwrite_rows / read_rows / copy_table /
count_rows) and the §2.6 overlap helper (session.run_concurrently).

The optimization claim these pins protect: a pyarrow-written pointer
row is indistinguishable from a Spark-written one (schema AND
values), reads work on both writers' files, the atomic-swap crash
convention is preserved (same __tmp_/__old_ naming gc_orphans
sweeps), and stamp enumeration from hive directory names equals the
distinct() it replaced — including on escaped ad-hoc stamps.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from etl_process_for_fraud_transactions_spark.operators.epochs import (
    hive_partition_values,
)
from etl_process_for_fraud_transactions_spark.session import run_concurrently
from etl_process_for_fraud_transactions_spark.sources.warehouse import (
    Warehouse,
    count_rows_path,
)

PTR_DDL = "version int, id_type string, compacted_through long"
META_DDL = (
    "text_col string, id_col string, n_buckets int, k1 double, b double, "
    "partitioned boolean, versioned boolean, id_type string, "
    "compacted_through long"
)


def test_overwrite_rows_matches_spark_writer(spark, tmp_path):
    """Schema and values of a pyarrow-written pointer equal the Spark
    writer's for the same DDL — a reader cannot tell them apart."""
    wh = Warehouse(spark, str(tmp_path))
    row = [(3, "bigint", None)]
    wh.overwrite_rows("ptr_fast", row, PTR_DDL)
    wh.overwrite("ptr_spark", spark.createDataFrame(row, PTR_DDL))
    fast = spark.read.parquet(wh.path("ptr_fast"))
    ref = spark.read.parquet(wh.path("ptr_spark"))
    assert fast.schema == ref.schema
    assert fast.collect() == ref.collect()
    # and the driver-side reader reads BOTH writers' files
    assert wh.read_rows("ptr_fast") == wh.read_rows("ptr_spark")


def test_overwrite_rows_full_meta_schema_roundtrip(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    row = [("text", "doc_id", 64, 1.5, 0.75, True, False, "string", 7)]
    wh.overwrite_rows("meta", row, META_DDL)
    got = wh.read_rows("meta")[0]
    assert got == {
        "text_col": "text",
        "id_col": "doc_id",
        "n_buckets": 64,
        "k1": 1.5,
        "b": 0.75,
        "partitioned": True,
        "versioned": False,
        "id_type": "string",
        "compacted_through": 7,
    }
    # Spark sees the same row
    assert spark.read.parquet(wh.path("meta")).collect()[0].asDict() == got


def test_overwrite_rows_array_double_matches_spark(spark, tmp_path):
    """The codebook/rotation shape: array<double> columns round-trip
    with the Spark-compliant 3-level list layout."""
    wh = Warehouse(spark, str(tmp_path))
    rows = [(0, [1.0, -2.5]), (1, [0.25, 0.0])]
    ddl = "i int, r array<double>"
    wh.overwrite_rows("rot_fast", rows, ddl)
    wh.overwrite("rot_spark", spark.createDataFrame(rows, ddl))
    fast = spark.read.parquet(wh.path("rot_fast"))
    ref = spark.read.parquet(wh.path("rot_spark"))
    assert fast.schema == ref.schema
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, ref.collect())
    )


def test_overwrite_rows_is_atomic_swap(spark, tmp_path):
    """Re-overwrite replaces the directory in one rename (no stale
    part files survive) and unknown DDL types refuse loudly BEFORE
    any write, leaving the old table serving."""
    wh = Warehouse(spark, str(tmp_path))
    wh.overwrite_rows("t", [(1, "a", None)], PTR_DDL)
    first = set(os.listdir(wh.path("t")))
    wh.overwrite_rows("t", [(2, "b", 9)], PTR_DDL)
    assert wh.read_rows("t") == [
        {"version": 2, "id_type": "b", "compacted_through": 9}
    ]
    # swap cleanliness (ADVICE r16 — the old disjunction was vacuous):
    # after the second overwrite exactly ONE data file exists and the
    # directory holds no stale first-write files; with both writers
    # naming their file part-00000.parquet, "exactly one file whose
    # rows are the new row" is the assertion that bites if the swap
    # ever degrades to an append
    after = [
        f
        for f in os.listdir(wh.path("t"))
        if not f.startswith(("_", "."))
    ]
    assert after == ["part-00000.parquet"]
    with pytest.raises(KeyError):
        wh.overwrite_rows("t", [(1,)], "x timestamp")
    # refused write left the table untouched
    assert wh.read_rows("t")[0]["version"] == 2
    # no stranded __tmp_ dirs beyond gc_orphans' naming convention
    strays = [d for d in os.listdir(str(tmp_path)) if "__tmp_" in d]
    assert strays == []


def test_copy_table_is_byte_identical(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    wh.overwrite("src", df)
    wh.copy_table("src", "dst")
    src_rows = sorted(map(tuple, spark.read.parquet(wh.path("src")).collect()))
    dst_rows = sorted(map(tuple, spark.read.parquet(wh.path("dst")).collect()))
    assert src_rows == dst_rows
    # copy over an existing table swaps atomically
    wh.overwrite("dst2", spark.range(3).toDF("id").withColumn("v", F.lit(0)))
    wh.copy_table("src", "dst2")
    assert spark.read.parquet(wh.path("dst2")).count() == 100


def test_count_rows_matches_spark_count(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(257).withColumn("cell", F.col("id") % 3)
    df.write.partitionBy("cell").parquet(wh.path("cells"))
    assert wh.count_rows("cells") == 257
    assert count_rows_path(wh.path("cells")) == spark.read.parquet(
        wh.path("cells")
    ).count()


def test_hive_partition_values_equals_distinct(spark, tmp_path):
    """Stamp enumeration from directory names == the distinct() it
    replaced, including on hive-ESCAPED ad-hoc stamps and two-level
    (__tb, __batch) layouts; empty dirs without data files don't
    count."""
    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "__build__"), (2, "7"), (3, "ep 1")],  # 'ep 1' hive-escapes
        "v int, __batch string",
    )
    df.write.partitionBy("__batch").parquet(p)
    want = {
        r["__batch"]
        for r in spark.read.parquet(p).select("__batch").distinct().collect()
    }
    assert hive_partition_values(p, "__batch") == want == {
        "__build__",
        "7",
        "ep 1",
    }
    # two-level layout
    p2 = str(tmp_path / "t2")
    df2 = spark.createDataFrame(
        [(1, 0, "__build__"), (2, 1, "3")], "v int, __tb int, __batch string"
    )
    df2.write.partitionBy("__tb", "__batch").parquet(p2)
    assert hive_partition_values(p2, "__batch") == {"__build__", "3"}
    # a fileless leftover dir has no rows -> not a stamp
    os.makedirs(os.path.join(p2, "__tb=1", "__batch=ghost"))
    assert "ghost" not in hive_partition_values(p2, "__batch")
    # an in-flight append's staging tree (ADVICE r16): partition dirs
    # WITH data files under _temporary are uncommitted — a stamp
    # surfaced from there would let compact() advance the watermark
    # past an epoch that commits later (silent replay no-op)
    staged = os.path.join(
        p2, "_temporary", "0", "task_1", "__tb=1", "__batch=99"
    )
    os.makedirs(staged)
    with open(os.path.join(staged, "part-00000.parquet"), "wb") as f:
        f.write(b"x")
    assert "99" not in hive_partition_values(p2, "__batch")


def test_run_concurrently_order_and_exceptions():
    out = run_concurrently(lambda: 1, lambda: 2, lambda: 3)
    assert out == [1, 2, 3]
    assert run_concurrently(lambda: "solo") == ["solo"]

    def boom():
        raise ValueError("x")

    with pytest.raises(ValueError):
        run_concurrently(lambda: 1, boom)


def test_conf_scope_refused_inside_run_concurrently(spark):
    """Conf-scope rule pin (r17, VERDICT r16 item 4):
    spark.sql.shuffle.partitions is session-level and shared by every
    pool thread, so entering scratch_shuffle_partitions INSIDE a
    run_concurrently thunk must raise instead of racing the sibling
    jobs — and wrapping the pool from OUTSIDE stays legal."""
    from etl_process_for_fraud_transactions_spark.session import (
        scratch_shuffle_partitions,
    )

    def bad():
        with scratch_shuffle_partitions(spark, 4):
            return 1

    with pytest.raises(RuntimeError, match="OUTSIDE"):
        run_concurrently(bad, lambda: 2)
    # single-thunk path takes the same guard
    with pytest.raises(RuntimeError, match="OUTSIDE"):
        run_concurrently(bad)
    # the legal shape: scope outside, thunks inside
    before = spark.conf.get("spark.sql.shuffle.partitions")
    with scratch_shuffle_partitions(spark, 4):
        assert run_concurrently(lambda: 1, lambda: 2) == [1, 2]
        assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_read_rows_refuses_partitioned_tables(spark, tmp_path):
    """read_rows is the flat metadata reader: on a hive-partitioned
    table (files under col=value subdirs) it must refuse loudly, not
    silently return zero rows."""
    wh = Warehouse(spark, str(tmp_path))
    spark.createDataFrame([(1, "a")], "v int, p string").write.partitionBy(
        "p"
    ).parquet(wh.path("part_t"))
    with pytest.raises(ValueError, match="partitioned"):
        wh.read_rows("part_t")
    # MIXED layout (ADVICE r16): top-level data files PLUS a col=value
    # subdir holding data files — the flat reader would silently drop
    # the subdirectory rows; must refuse, not truncate
    mixed = wh.path("mixed_t")
    sub = os.path.join(mixed, "p=b")
    os.makedirs(sub)
    with open(os.path.join(mixed, "part-00000.parquet"), "wb") as f:
        f.write(b"x")
    with open(os.path.join(sub, "part-00000.parquet"), "wb") as f:
        f.write(b"x")
    with pytest.raises(ValueError, match="partitioned"):
        wh.read_rows("mixed_t")
    # but a _temporary staging tree next to committed top-level files
    # is NOT table data (in-flight append) — the flat read proceeds
    wh.overwrite_rows("flat_t", [(1, "a", None)], PTR_DDL)
    staged = os.path.join(wh.path("flat_t"), "_temporary", "0")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-00000.parquet"), "wb") as f:
        f.write(b"x")
    assert wh.read_rows("flat_t")[0]["version"] == 1


def test_remove_table_and_table_bytes(spark, tmp_path):
    """The FS-boundary accessors operators now use instead of direct
    shutil/os.walk (r17): remove_table is a no-op-on-absent recursive
    delete, table_bytes is the at-rest data-byte stat with _temporary
    staging pruned."""
    wh = Warehouse(spark, str(tmp_path))
    assert wh.remove_table("nope") is False
    wh.overwrite("t", spark.range(10).toDF("id"))
    assert wh.table_bytes("t") > 0
    staged = os.path.join(wh.path("t"), "_temporary", "0")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-00000.parquet"), "wb") as f:
        f.write(b"\x00" * 4096)
    committed = wh.table_bytes("t")
    assert committed > 0  # staging bytes never counted
    shutil_total = sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(wh.path("t"))
        for f in fs
        if f.startswith("part-")
    )
    assert shutil_total == committed + 4096
    assert wh.remove_table("t") is True
    assert not os.path.exists(wh.path("t"))


def test_read_takes_the_footer_schema_without_a_job(spark, tmp_path):
    """`Warehouse.read` of a Spark-written table, flat or partitioned,
    starts no Spark job and returns the schema inference would; a
    pyarrow-written table (no Spark schema in its footer) still reads
    correctly through inference."""
    from .conftest import spark_jobs

    wh = Warehouse(spark, str(tmp_path))
    df = spark.range(10).select(
        "id",
        F.col("id").cast("string").alias("s"),
        F.to_date(F.lit("2024-01-02")).alias("d"),
        (F.col("id") % 2 == 0).alias("even"),
    )
    wh.overwrite("flat", df)
    df.write.partitionBy("d").parquet(wh.path("parted"))
    for t in ("flat", "parted"):
        with spark_jobs(spark) as jobs:
            got = wh.read(t)
        assert jobs == [], t
        assert got.schema == spark.read.parquet(wh.path(t)).schema, t
    assert sorted(map(tuple, wh.read("parted").select(*df.columns).collect())) == sorted(
        map(tuple, df.collect())
    )
    wh.overwrite_rows("ptr", [(3, "bigint", None)], PTR_DDL)
    ptr = wh.read("ptr")
    assert ptr.schema == spark.read.parquet(wh.path("ptr")).schema
    assert [tuple(r) for r in ptr.collect()] == [(3, "bigint", None)]


def test_append_then_overwrite_splits_in_one_job(spark, tmp_path):
    """One Spark job writes both sides; true rows append, false rows
    replace the target; an empty side leaves a readable empty target;
    a null split value refuses before anything is committed."""
    from .conftest import spark_jobs

    wh = Warehouse(spark, str(tmp_path))
    wh.overwrite("cur", spark.createDataFrame([(0, "old")], "id long, v string"))
    rows = spark.createDataFrame(
        [(1, "a", True), (2, "b", False), (3, "c", True)], "id long, v string, out boolean"
    )
    with spark_jobs(spark) as jobs:
        wh.append_then_overwrite(rows, "out", "hist", "cur")
    assert len(jobs) == 1
    assert sorted(map(tuple, wh.read("hist").collect())) == [(1, "a"), (3, "c")]
    assert [tuple(r) for r in wh.read("cur").collect()] == [(2, "b")]
    wh.append_then_overwrite(rows.filter("out"), "out", "hist", "cur")
    assert wh.read("hist").count() == 4
    assert wh.read("cur").count() == 0
    assert wh.read("cur").columns == ["id", "v"]
    with pytest.raises(ValueError):
        wh.append_then_overwrite(
            spark.createDataFrame([(9, "z", None)], "id long, v string, out boolean"),
            "out", "hist", "cur",
        )
    assert wh.read("hist").count() == 4
    assert [d for d in os.listdir(str(tmp_path)) if "__tmp_" in d] == []
