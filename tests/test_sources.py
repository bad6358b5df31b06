"""Format round-trips, partitioned sinks with dynamic overwrite,
bucketed join without Exchange."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from aichemy_data_pipelines_spark.catalog import load_table
from aichemy_data_pipelines_spark.plans.explain import formatted_plan
from aichemy_data_pipelines_spark.sources.formats import (
    bucketed_join,
    compact_parquet,
    read_csv,
    read_json,
    write_bucketed,
    write_partitioned,
)
from tests.conftest import SF_SMOKE


def test_csv_json_roundtrip(spark, tmp_path):
    nation = load_table(spark, SF_SMOKE, "nation")
    csv_p, json_p = str(tmp_path / "n_csv"), str(tmp_path / "n_json")
    nation.write.mode("overwrite").option("header", "true").csv(csv_p)
    nation.write.mode("overwrite").json(json_p)
    schema = "n_nationkey int, n_name string, n_regionkey int"
    got_csv = read_csv(spark, csv_p, schema)
    got_json = read_json(spark, json_p, schema)
    want = sorted(map(tuple, nation.collect()))
    assert sorted(map(tuple, got_csv.collect())) == want
    assert sorted(map(tuple, got_json.collect())) == want


def test_partitioned_write_and_dynamic_overwrite(spark, tmp_path):
    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "status", F.col("o_orderstatus")
    )
    path = str(tmp_path / "orders_part")
    write_partitioned(orders, path, ["status"])
    assert sorted(
        d for d in os.listdir(path) if d.startswith("status=")
    ) == ["status=F", "status=O", "status=P"]
    # partition pruning reaches the file listing
    pruned = spark.read.parquet(path).where(F.col("status") == "F")
    plan = formatted_plan(pruned)
    assert "PartitionFilters" in plan and "status" in plan
    # dynamic overwrite replaces ONLY the partitions present in df
    only_f = orders.where(F.col("status") == "F").limit(10)
    write_partitioned(only_f, path, ["status"])
    got = spark.read.parquet(path)
    assert got.where("status = 'F'").count() == 10
    assert (
        got.where("status = 'O'").count()
        == orders.where("status = 'O'").count()
    )


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    import re
    import shutil

    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"spark-warehouse/{t}", ignore_errors=True)
    orders = load_table(spark, SF_SMOKE, "orders")
    li = load_table(spark, SF_SMOKE, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(orders, "b_orders", "o_orderkey", 8, sort_by="o_orderkey")
    write_bucketed(li, "b_lineitem", "o_orderkey", 8, sort_by="o_orderkey")
    # disable broadcast so the planner actually uses the bucketing (at
    # this tiny SF it would rather broadcast; at fact-fact scale it
    # can't)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_lineitem", "o_orderkey")
        plan = formatted_plan(joined)
        # shuffle nodes print as bare 'Exchange (n)'; BroadcastExchange
        # is a different node name
        shuffles = re.findall(r"(?<!Broadcast)Exchange \(\d", plan)
        assert not shuffles, f"bucketed join still shuffles:\n{plan}"
        want = orders.join(li, "o_orderkey").count()
        assert joined.count() == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_orc_roundtrip_partitioned(spark, tmp_path):
    """write_partitioned's fmt knob covers ORC (the other columnar
    lake format Spark ships natively)."""
    orders = load_table(spark, SF_SMOKE, "orders").withColumn(
        "status", F.col("o_orderstatus")
    )
    dest = str(tmp_path / "orc")
    write_partitioned(orders, dest, ["status"], fmt="orc")
    back = spark.read.orc(dest)
    assert back.count() == orders.count()
    assert set(back.select("status").distinct().toPandas()["status"]) == set(
        orders.select("status").distinct().toPandas()["status"]
    )


def test_compact_parquet_reduces_files(spark, tmp_path):
    docs = load_table(spark, SF_SMOKE, "documents")
    src = str(tmp_path / "shattered")
    dest = str(tmp_path / "compacted")
    # simulate a micro-batch sink: 20 tiny files
    docs.repartition(20).write.parquet(src)
    stats = compact_parquet(spark, src, dest, target_file_mb=256)
    assert stats["files_before"] == 20
    assert stats["files_after"] == 1  # tiny data -> one target file
    assert stats["rows"] == docs.count()
    n_out_files = len(
        [f for f in os.listdir(dest) if f.endswith(".parquet")]
    )
    assert n_out_files == stats["files_after"]
    # compaction preserves content exactly
    assert (
        spark.read.parquet(dest).exceptAll(docs).count() == 0
        and docs.exceptAll(spark.read.parquet(dest)).count() == 0
    )


def test_sorted_layout_has_disjoint_file_ranges(spark, tmp_path):
    """write_sorted_layout must give each file a disjoint sort-key
    range with tight row-group min/max stats (the data-skipping
    property), verified straight from the parquet footers."""
    import pyarrow.parquet as pq

    from aichemy_data_pipelines_spark.sources.formats import (
        write_sorted_layout,
    )

    orders = load_table(spark, SF_SMOKE, "orders")
    dest = str(tmp_path / "sorted")
    write_sorted_layout(orders, dest, "o_orderkey", n_files=8)

    ranges = []
    for name in os.listdir(dest):
        if not name.endswith(".parquet"):
            continue
        meta = pq.ParquetFile(os.path.join(dest, name)).metadata
        idx = meta.schema.names.index("o_orderkey")
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max
            mins.append(st.min)
            maxs.append(st.max)
        ranges.append((min(mins), max(maxs)))
    assert len(ranges) == 8
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, "file key ranges must be disjoint"
    # and a point-lookup scan prunes + returns the right row
    key = ranges[3][0]
    got = spark.read.parquet(dest).where(F.col("o_orderkey") == key)
    assert got.count() == orders.where(F.col("o_orderkey") == key).count()


def test_read_binary_dir_roundtrip(spark, tmp_path):
    """binaryFile ingestion: bytes written to disk come back exactly,
    with glob filtering and a size guard that prunes before read."""
    from aichemy_data_pipelines_spark.sources.formats import read_binary_dir

    payloads = {
        f"doc{i}.bin": bytes(range(i, i + 32)) for i in range(3)
    }
    (tmp_path / "noise.txt").write_text("not a payload")
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)

    df = read_binary_dir(spark, str(tmp_path), glob="*.bin")
    rows = df.collect()
    assert len(rows) == 3
    got = {os.path.basename(r.path): bytes(r.content) for r in rows}
    assert got == payloads
    assert all(r.length == 32 for r in rows)
    # metadata-only predicate works without touching content
    assert read_binary_dir(spark, str(tmp_path), glob="*.bin").where(
        "length > 1000"
    ).count() == 0


def test_zorder_layout_tightens_both_dims(spark, tmp_path):
    """Z-order files must cover compact rectangles: the mean product
    of per-file normalized (orderkey-range × partkey-range) must be
    far below a round-robin layout's (~1.0 per file)."""
    import pyarrow.parquet as pq

    from aichemy_data_pipelines_spark.sources.formats import (
        write_zorder_layout,
    )

    li = load_table(spark, SF_SMOKE, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    zdir, rdir = str(tmp_path / "z"), str(tmp_path / "rr")
    write_zorder_layout(li, zdir, "l_orderkey", "l_partkey", n_files=8)
    li.repartition(8).write.parquet(rdir)

    def mean_box_area(path):
        spans = {}
        for c in ("l_orderkey", "l_partkey"):
            vals = []
            for name in os.listdir(path):
                if not name.endswith(".parquet"):
                    continue
                meta = pq.ParquetFile(os.path.join(path, name)).metadata
                idx = meta.schema.names.index(c)
                st = [
                    meta.row_group(g).column(idx).statistics
                    for g in range(meta.num_row_groups)
                ]
                vals.append(
                    (min(s.min for s in st), max(s.max for s in st))
                )
            glo = min(v[0] for v in vals)
            ghi = max(v[1] for v in vals)
            spans[c] = [(hi - lo) / max(ghi - glo, 1) for lo, hi in vals]
        return sum(
            a * b for a, b in zip(spans["l_orderkey"], spans["l_partkey"])
        ) / len(spans["l_orderkey"])

    z_area, rr_area = mean_box_area(zdir), mean_box_area(rdir)
    assert z_area < 0.5 * rr_area, (z_area, rr_area)
    # layout preserves content
    assert spark.read.parquet(zdir).count() == li.count()


def test_morton_z_empty_input_no_crash(spark):
    from aichemy_data_pipelines_spark.sources.formats import with_morton_z

    df = spark.range(0).selectExpr("id AS a", "id AS b")
    out = with_morton_z(df, "a", "b")
    assert "_z" in out.columns
    assert out.count() == 0
