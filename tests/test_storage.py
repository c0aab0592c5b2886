"""Storage-layout scale properties: partition pruning on partitioned
parquet sinks, and bucketed tables giving shuffle-free co-located
joins. These are the two layout levers that matter most at 100 TB —
asserted against actual plans, not just documented."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from alternating_least_squares_spark.sources import catalog, load_table
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def tmpdir():
    d = tempfile.mkdtemp(prefix="alternating_ls_storage_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_partitioned_sink_prunes_partitions(spark, tmpdir):
    """write_parquet(partition_by=event_type) + a filter on the
    partition column must scan ONE directory: the plan's partition
    filters carry the predicate and the other types' files are never
    opened."""
    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "event_type", "value"
    )
    path = os.path.join(tmpdir, "events_by_type")
    catalog.write_parquet(ev, path, partition_by=["event_type"])

    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    want = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == want


def test_bucketed_tables_join_without_shuffle(spark, tmpdir):
    """Two tables bucketed+sorted on the join key co-locate: the join
    plans with NO Exchange on either side (shuffle happened once at
    write time, amortized over every later join)."""
    # spark.sql.warehouse.dir is static — managed tables land in
    # ./spark-warehouse (gitignored); DROP TABLE removes the files.
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    orders = load_table(spark, SF_SMALL, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    for name, df, key in [
        ("b_orders", orders, "o_orderkey"),
        ("b_lineitem", li, "l_orderkey"),
    ]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .bucketBy(8, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(name)
        )

    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    joined = a.join(b, a.o_orderkey == b.l_orderkey)
    plan = joined._jdf.queryExecution().executedPlan().toString()
    try:
        assert "Exchange" not in plan, plan
        n = joined.count()
        want = orders.join(li, orders.o_orderkey == li.l_orderkey).count()
        assert n == want
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_compaction_rewrites_fragmented_table(spark, tmpdir):
    from alternating_least_squares_spark.operators.compaction import (
        compact_parquet,
        directory_stats,
        target_file_count,
    )

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    frag = os.path.join(tmpdir, "fragmented")
    out = os.path.join(tmpdir, "compacted")
    li.repartition(40).write.mode("overwrite").parquet(frag)

    n_before, total = directory_stats(spark, frag)
    assert n_before == 40
    # huge target -> everything folds into one file
    stats = compact_parquet(spark, frag, out, target_file_bytes=1 << 40)
    assert stats["files_planned"] == 1
    assert stats["files_after"] == 1
    # content survives exactly
    a = sorted(spark.read.parquet(frag).collect())
    b = sorted(spark.read.parquet(out).collect())
    assert a == b

    # byte-budget math: planned count follows ceil(total/target)
    assert target_file_count(total, total) == 1
    assert target_file_count(total, total // 4) in (4, 5)


def test_compaction_partition_aware(spark, tmpdir):
    from alternating_least_squares_spark.operators.compaction import (
        compact_parquet,
    )

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    frag = os.path.join(tmpdir, "frag_part")
    out = os.path.join(tmpdir, "comp_part")
    ev.repartition(20).write.partitionBy("event_type").mode(
        "overwrite"
    ).parquet(frag)

    stats = compact_parquet(
        spark, frag, out, target_file_bytes=1 << 40,
        partition_by=["event_type"],
    )
    # output keeps the hive layout and shrinks the file count
    types = [r["event_type"] for r in
             spark.read.parquet(out).select("event_type").distinct().collect()]
    assert len(types) >= 2
    assert stats["files_after"] < stats["files_before"]
    a = sorted(spark.read.parquet(frag).collect())
    b = sorted(spark.read.parquet(out).collect())
    assert a == b


def test_compaction_per_partition_salt_sizing(spark, tmpdir):
    """A realistic (small) byte target: each dynamic partition's file
    count must follow ITS OWN byte total, and a small partition must
    not be scattered across the global salt range (the round-2 advice
    finding)."""
    from alternating_least_squares_spark.operators.compaction import (
        compact_parquet,
        partition_dir_stats,
        target_file_count,
    )

    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    # one big partition, one tiny partition
    big = ev.withColumn("grp", F.lit("big"))
    tiny = ev.limit(5).withColumn("grp", F.lit("tiny"))
    frag = os.path.join(tmpdir, "frag_sized")
    out = os.path.join(tmpdir, "comp_sized")
    big.unionByName(tiny).repartition(16).write.partitionBy("grp").mode(
        "overwrite"
    ).parquet(frag)

    per_part = partition_dir_stats(spark, frag, ["grp"])
    assert set(per_part) == {("big",), ("tiny",)}
    assert all(n > 0 for n, _ in per_part.values())
    # target sized so 'big' needs several files but 'tiny' needs one
    target = max(per_part[("big",)][1] // 4, per_part[("tiny",)][1] + 1)
    compact_parquet(
        spark, frag, out, target_file_bytes=target, partition_by=["grp"]
    )

    def files_in(sub):
        d = os.path.join(out, f"grp={sub}")
        return [
            f for f in os.listdir(d)
            if not f.startswith(("_", ".")) and f.endswith(".parquet")
        ]

    want_big = target_file_count(per_part[("big",)][1], target)
    assert want_big >= 2
    # hash collisions can only MERGE salts, never split them
    assert 2 <= len(files_in("big")) <= want_big
    # the tiny partition must stay a single file — the bug this guards
    # against wrote up to n_target tiny files here
    assert len(files_in("tiny")) == 1
    a = sorted(spark.read.parquet(frag).collect())
    b = sorted(spark.read.parquet(out).collect())
    assert a == b


def test_compaction_refuses_in_place(spark, tmpdir):
    from alternating_least_squares_spark.operators.compaction import (
        compact_parquet,
    )

    src = os.path.join(tmpdir, "inplace")
    load_table(spark, SF_SMALL, "region").write.parquet(src)
    with pytest.raises(ValueError, match="overlap"):
        compact_parquet(spark, src, src)
    # nested either way is just as destructive: dst inside src
    # intermixes output into the source tree, src inside dst gets
    # deleted by the overwrite before the read runs
    with pytest.raises(ValueError, match="overlap"):
        compact_parquet(spark, src, os.path.join(src, "sub"))
    with pytest.raises(ValueError, match="overlap"):
        compact_parquet(spark, src, tmpdir)
    # table survives untouched
    assert spark.read.parquet(src).count() == 5


def test_dynamic_partition_pruning_fires_on_dim_filtered_join(spark, tmpdir):
    """x13: joining a day-partitioned fact against a FILTERED dim scan
    must plan a dynamicpruning subquery on the fact's partition
    filters — the runtime analog of test_partitioned_sink_prunes_
    partitions, where the day set isn't known until the dim side runs."""
    ev = load_table(spark, SF_SMALL, "events").select(
        "event_id", "value",
        F.expr(
            "(ts_ns - pmod(ts_ns, 86400000000000)) DIV 86400000000000"
        ).alias("day"),
    )
    fact_path = os.path.join(tmpdir, "dpp_fact")
    dim_path = os.path.join(tmpdir, "dpp_dim")
    catalog.write_parquet(ev, fact_path, partition_by=["day"])
    catalog.write_parquet(ev.select("day").distinct(), dim_path)
    fact = spark.read.parquet(fact_path)
    dim = spark.read.parquet(dim_path).filter(F.col("day") % 3 == 0)
    joined = fact.join(dim, "day")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the pruned result equals the plain predicate
    want = ev.filter(F.col("day") % 3 == 0).count()
    assert joined.count() == want


def test_runtime_bloom_filter_fires_and_confs_restore(spark):
    """x18: under the forced confs (application-side threshold 0,
    broadcast off) the shuffle join must carry an injected bloom
    filter — bloom_filter_agg on the dim side, might_contain pushed
    onto the fact side — and q_x18 must restore both confs after
    materializing (a leaked -1 autoBroadcastJoinThreshold would
    silently de-broadcast every later query in the session)."""
    from alternating_least_squares_spark.registry import (
        q_x18_runtime_bloom_filter,
    )

    li = load_table(spark, SF_SMALL, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    sel = (
        load_table(spark, SF_SMALL, "orders")
        .filter(F.col("o_totalprice") > 400_000)
        .select("o_orderkey")
    )
    keys = [
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set(keys[0], "0")
        spark.conf.set(keys[1], "-1")
        joined = li.join(sel, li.l_orderkey == sel.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    # the registry entry restores session state after its forced write
    q_x18_runtime_bloom_filter(spark, SF_SMALL)
    for k, v in saved.items():
        assert spark.conf.get(k) == v


def test_aqe_skew_join_splits_and_confs_restore(spark):
    """x20: under the forced detector sizes the executed plan must
    show runtime skew handling — SortMergeJoin(skew=true) with an
    AQEShuffleRead marked skewed on the hot side — and q_x20 must
    restore every forced conf after materializing. Executed (not
    initial) plan: AQE only marks skew after the shuffle's map stats
    exist. Uses sf0.01 — at sf0.001 the hot partition can sit under
    the 64KB detector threshold."""
    from alternating_least_squares_spark.registry import (
        X20_CONFS,
        _x20_skewed_join,
        q_x20_aqe_skew_join,
    )

    sf = SF_SMALL.replace("0.001", "0.01")
    saved = {k: spark.conf.get(k) for k in X20_CONFS}
    try:
        for k, v in X20_CONFS.items():
            spark.conf.set(k, v)
        j = _x20_skewed_join(spark, sf)
        rows = j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan, plan[:2000]
        assert len(rows) == 7
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    # the registry entry restores session state after its forced write
    q_x20_aqe_skew_join(spark, sf)
    for k, v in saved.items():
        assert spark.conf.get(k) == v


def test_cbo_stats_flip_join_strategy_and_confs_restore(spark):
    """x21: the SAME filtered join must plan SortMergeJoin without
    column stats + CBO and BroadcastHashJoin with them (ANALYZE makes
    the 2%-selectivity filter's estimate broadcastable), and q_x21
    must restore every forced conf. Uses sf0.01 so the unfiltered
    table estimate genuinely exceeds the 64KB threshold."""
    import os

    from alternating_least_squares_spark.registry import (
        X21_CONFS,
        _scratch_path,
        _x21_filtered_join,
        q_x21_cbo_stats_broadcast,
    )

    sf = SF_SMALL.replace("0.001", "0.01")
    li = load_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    base = _scratch_path("alternating_ls_cbo")
    spark.sql("DROP TABLE IF EXISTS x21_li")
    (
        li.write.format("parquet")
        .option("path", os.path.join(base, "x21_li"))
        .mode("overwrite")
        .saveAsTable("x21_li")
    )
    saved = {k: spark.conf.get(k) for k in X21_CONFS}
    try:
        # no column stats yet: even with the forced threshold the
        # filter estimate equals the table estimate -> shuffle join
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
        spark.conf.set("spark.sql.cbo.enabled", "false")
        p0 = (
            _x21_filtered_join(spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "SortMergeJoin" in p0 and "BroadcastHashJoin" not in p0, (
            p0[:2000]
        )
        spark.sql(
            "ANALYZE TABLE x21_li COMPUTE STATISTICS "
            "FOR COLUMNS l_quantity, l_orderkey"
        )
        for k, v in X21_CONFS.items():
            spark.conf.set(k, v)
        p1 = (
            _x21_filtered_join(spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in p1, p1[:2000]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    q_x21_cbo_stats_broadcast(spark, sf)
    for k, v in saved.items():
        assert spark.conf.get(k) == v


def test_aqe_coalesce_merges_small_partitions_and_confs_restore(spark):
    """x24: under a deliberately mis-sized 200-way static shuffle,
    AQE must coalesce the modest aggregate's post-shuffle partitions
    down by measured bytes (AQEShuffleRead coalesced in the executed
    plan, final partition count far under 200), and the forced confs
    must restore afterwards."""
    from alternating_least_squares_spark.registry import (
        X24_CONFS,
        _x24_agg,
    )
    from tests.conftest import SF_SMALL

    saved = {k: spark.conf.get(k) for k in X24_CONFS}
    try:
        for k, v in X24_CONFS.items():
            spark.conf.set(k, v)
        agg = _x24_agg(spark, SF_SMALL)
        n_parts = agg.rdd.getNumPartitions()  # materializes under AQE
        plan = agg._jdf.queryExecution().executedPlan().toString()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan
    assert n_parts < 20, n_parts  # 200 static -> a handful, by bytes
    for k in X24_CONFS:
        assert spark.conf.get(k) == saved[k]
