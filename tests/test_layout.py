"""Lake-layout tests: partitioned writes produce prunable scans — the
predicate lands in PartitionFilters, not a post-scan Filter."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_ivf_probe_is_partition_pruned_end_to_end(spark, sf_dir, tmp_path):
    """The IVF ANN scale path, materialized: write the inverted lists
    partitioned by centroid_id, probe the nprobe nearest cells, and
    assert the probe scan carries a centroid_id PartitionFilter (reads
    ~nprobe/k of the data) while returning the same top-k as probing the
    in-memory assignment."""
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.operators.similarity import (
        ivf_index,
        ivf_topk,
    )
    from big_data_chicago_crimes_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") != 0)
    qvec = [
        float(x)
        for x in load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == 0)
        .head()["embedding"]
    ]
    assigned, centroids = ivf_index(emb, k_centroids=8)
    path = str(tmp_path / "ivf_lists")
    assigned.write.partitionBy("centroid_id").parquet(path)

    on_disk = spark.read.parquet(path)
    mem_topk = [
        (r.vec_id, r.cosine)
        for r in ivf_topk(assigned, centroids, qvec, k=10, nprobe=3).collect()
    ]
    disk_query = ivf_topk(on_disk, centroids, qvec, k=10, nprobe=3)
    plan = disk_query._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    disk_topk = [(r.vec_id, r.cosine) for r in disk_query.collect()]
    assert disk_topk == mem_topk


def test_ivf_pq_probe_is_partition_pruned_end_to_end(spark, sf_dir, tmp_path):
    """The IVF-PQ scale path, materialized (VERDICT r14 #7): ONE index
    pass adds centroid_id + pq_codes, written partitioned by
    centroid_id — the layout ivf_pq_topk's docstring promises. The
    probe against the written index must carry a centroid_id
    PartitionFilter (scans ~nprobe/k_coarse of the CODES table, raw
    vectors never read) and return the identical top-k as probing the
    in-memory frame."""
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.operators.similarity import (
        assign_to_centroids,
        ivf_pq_topk,
        literal_centroids,
        pq_codebook,
        pq_encode,
    )
    from big_data_chicago_crimes_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.head()["embedding"])
    cents = literal_centroids(8, dim)
    book = pq_codebook(8, 16, dim)
    qvec = [
        float(x) for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    indexed = pq_encode(
        assign_to_centroids(emb.filter(F.col("vec_id") != 0), cents), book
    ).select("vec_id", "centroid_id", "pq_codes")
    path = str(tmp_path / "ivf_pq_index")
    indexed.write.partitionBy("centroid_id").parquet(path)

    on_disk = spark.read.parquet(path)
    mem_topk = [
        (r.vec_id, r.adc_dist)
        for r in ivf_pq_topk(indexed, cents, book, qvec, k=10, nprobe=3).collect()
    ]
    disk_query = ivf_pq_topk(on_disk, cents, book, qvec, k=10, nprobe=3)
    plan = disk_query._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    # the pruned scan must NOT read the raw embedding column
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and not any("embedding" in l for l in read_schemas)
    disk_topk = [(r.vec_id, r.adc_dist) for r in disk_query.collect()]
    assert disk_topk == mem_topk


def test_zorder_layout_tightens_rowgroup_stats(spark, sf_dir, tmp_path):
    """Z-order clustering must make multi-dimensional predicates
    skippable at the row-group level: for a 2-D box predicate on
    (user_id, value), the fraction of row groups whose min/max envelope
    intersects the box must be strictly smaller under the Z-ordered
    layout than under the natural (event_id-ordered) layout — that
    envelope intersection is exactly what parquet readers use to skip."""
    import glob

    import pyarrow.parquet as pq

    from big_data_chicago_crimes_spark.sources.layout import write_zordered
    from big_data_chicago_crimes_spark.sources.readers import load_table

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    natural, zordered = str(tmp_path / "nat"), str(tmp_path / "zord")
    events.repartition(8).write.mode("overwrite").parquet(natural)
    write_zordered(events, zordered, ["user_id", "value"], num_files=8)

    def overlapping(path, lo_u, hi_u, lo_v, hi_v):
        total = hit = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                su = g.column(cols["user_id"]).statistics
                sv = g.column(cols["value"]).statistics
                total += 1
                if su.min <= hi_u and su.max >= lo_u and sv.min <= hi_v and sv.max >= lo_v:
                    hit += 1
        return hit, total

    # a small 2-D box: ~1/10 of the user range x ~1/4 of the value range
    stats = events.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).collect()[0]
    lo_u = stats[0] + (stats[1] - stats[0]) * 4 // 10
    hi_u = stats[0] + (stats[1] - stats[0]) * 5 // 10
    lo_v = stats[2] + (stats[3] - stats[2]) * 0.40
    hi_v = stats[2] + (stats[3] - stats[2]) * 0.65

    nat_hit, nat_total = overlapping(natural, lo_u, hi_u, lo_v, hi_v)
    z_hit, z_total = overlapping(zordered, lo_u, hi_u, lo_v, hi_v)
    assert nat_total >= 8 and z_total >= 8
    # natural layout: every row group spans the full space -> all hit
    assert nat_hit == nat_total
    assert z_hit < nat_hit, f"z-order did not prune: {z_hit}/{z_total} vs {nat_hit}/{nat_total}"

    # and the layout is lossless: same rows back
    back = spark.read.parquet(zordered)
    assert back.count() == events.count()
    assert back.agg(F.sum("event_id")).collect()[0][0] == \
        events.agg(F.sum("event_id")).collect()[0][0]


def test_zorder_query_box_skips_rowgroups(spark, sf_dir):
    """The registered lineitem_zorder_box_scan query's EXACT predicate
    box must be row-group-skippable on the lake layout the query itself
    builds: fewer row groups intersect the (l_quantity, l_extendedprice)
    box than exist in total, so the clustered scan genuinely reads less
    — tying the driver-certified answer to the pruning property."""
    import glob

    import pyarrow.parquet as pq

    from big_data_chicago_crimes_spark.queries.layout_queries import (
        _PRICE_HI,
        _PRICE_LO,
        _QTY_HI,
        _QTY_LO,
        zordered_lineitem,
        zordered_lineitem_path,
    )

    zordered_lineitem(spark, sf_dir)  # materialize (idempotent)
    path = zordered_lineitem_path(spark, sf_dir)
    total = hit = 0
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.ParquetFile(f).metadata
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            sq = g.column(cols["l_quantity"]).statistics
            sp = g.column(cols["l_extendedprice"]).statistics
            total += 1
            if (
                sq.min <= _QTY_HI
                and sq.max >= _QTY_LO
                and sp.min <= _PRICE_HI
                and sp.max >= _PRICE_LO
            ):
                hit += 1
    # write_zordered defaults num_files to defaultParallelism, so the
    # file count is machine-dependent — require only what pruning needs
    # (a genuinely multi-row-group layout), capped by what this runner
    # can produce
    expected = min(8, spark.sparkContext.defaultParallelism)
    assert total >= max(2, expected), (
        f"expected a multi-file layout, got {total} row groups"
    )
    assert hit < total, (
        f"z-order box not prunable: {hit}/{total} row groups intersect "
        f"the query's predicate box"
    )


def test_partitioned_orders_scan_reads_only_selected_directory(spark, sf_dir):
    """Physical pruning proof for orders_lake_partitioned_scan, stronger
    than the plan-text assertion (tests/test_plans.py): the filtered
    read's inputFiles() must contain ONLY files under the selected
    priority's partition directory, out of the five the sink wrote."""
    from big_data_chicago_crimes_spark.queries.layout_queries import (
        _PRIORITY,
        partitioned_orders,
    )

    po = partitioned_orders(spark, sf_dir)  # materialize (idempotent)
    all_files = po.inputFiles()  # pre-pruning file index: every partition
    dirs = {f.rsplit("/", 2)[-2] for f in all_files}
    assert len(dirs) == 5, dirs  # one directory per TPC-H priority
    # input_file_name() is stamped per row AT EXECUTION, i.e. after
    # partition pruning — unlike inputFiles(), which lists the relation's
    # whole file index regardless of filters
    read = {
        r.f
        for r in po.filter(F.col("o_orderpriority") == _PRIORITY)
        .select(F.input_file_name().alias("f"))
        .distinct()
        .collect()
    }
    assert read, "pruned scan read no files"
    enc = _PRIORITY.replace(" ", "%20")
    assert all(f"o_orderpriority={enc}" in f for f in read), sorted(read)[:3]
    assert len(read) < len(all_files)


def test_zorder_key_guards(spark):
    import pytest
    from pyspark.sql import functions as F

    from big_data_chicago_crimes_spark.sources.layout import zorder_key

    df = spark.range(10).select(
        *[F.col("id").alias(f"c{i}") for i in range(6)]
    )
    with pytest.raises(ValueError, match="> 63"):
        zorder_key(df, [f"c{i}" for i in range(6)], bits=12)
    empty = spark.createDataFrame([], "a long, b long")
    with pytest.raises(ValueError, match="no non-null"):
        zorder_key(empty, ["a", "b"], bits=8)
    # r16 sweep: one NaN row makes MAX() return NaN (Spark ranks NaN
    # above every double), the span goes NaN, and every scaled value
    # collapses to one bucket -- the layout silently stops clustering.
    nan = spark.createDataFrame(
        [(1.0, 1.0), (float("nan"), 2.0)], "a double, b double"
    )
    with pytest.raises(ValueError, match="NaN"):
        zorder_key(nan, ["a", "b"], bits=8)
