from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from clickhouse_aggregation_spark.plans.monitoring import (
    catalog_tables, rollup_stores, streaming_progress, table_sizes,
)
from clickhouse_aggregation_spark.sources.tables import register_views


def test_table_sizes_readable(spark, sf_dir):
    paths = {n: os.path.join(sf_dir, f"{n}.parquet")
             for n in ("region", "lineitem", "documents")}
    out = table_sizes(spark, paths).collect()
    assert len(out) == 3
    assert out[0]["total_bytes"] >= out[-1]["total_bytes"]
    for r in out:
        assert r["size"].split(" ")[1] in ("B", "KiB", "MiB", "GiB")
        assert r["n_rows"] > 0


def test_catalog_tables_lists_views(spark, sf_dir):
    register_views(spark, sf_dir)
    names = {r["name"] for r in catalog_tables(spark).collect()}
    assert {"region", "nation", "lineitem", "events"} <= names


def test_streaming_progress_shape(spark, sf_dir, tmp_path):
    from clickhouse_aggregation_spark.streaming.maintainer import (
        run_maintainer_stream, INCREMENTAL_ROLLUPS,
    )
    from clickhouse_aggregation_spark.sources.transfers import transfers_df
    tdir = str(tmp_path / "t")
    transfers_df(spark, sf_dir).coalesce(1).write.parquet(tdir)
    q = run_maintainer_stream(spark, tdir, str(tmp_path / "store"),
                              rollups=INCREMENTAL_ROLLUPS[:1])
    q.awaitTermination(60)
    p = streaming_progress(q)
    assert p["numInputRows"] > 0
    assert "durationMs" in p


def test_rollup_stores_reports_files_bytes_and_compaction_age(
        spark, sf_dir, tmp_path):
    from clickhouse_aggregation_spark.sources.transfers import transfers_df
    from clickhouse_aggregation_spark.streaming.maintainer import (
        INCREMENTAL_ROLLUPS,
    )
    t = transfers_df(spark, sf_dir)
    daily, hourly = INCREMENTAL_ROLLUPS[:2]
    store = str(tmp_path)
    for epoch in range(2):
        batch = t.filter(F.col("block_number") % 2 == epoch)
        for r in (daily, hourly):
            r.process_batch(batch, store, epoch)
    daily.compact(spark, store)
    # a write in flight: Spark's reader skips it, and so do the sizes
    pending = os.path.join(hourly.store(store), "_temporary", "0")
    os.makedirs(pending)
    with open(os.path.join(pending, "part-0.parquet"), "wb") as f:
        f.write(b"x" * 100)

    got = {s["rollup"]: s for s in rollup_stores(store, (daily, hourly))}
    files = glob.glob(os.path.join(hourly.store(store), "epoch=*",
                                   "*.parquet"))
    assert got["hourly"]["n_files"] == len(files) >= 2
    assert got["hourly"]["total_bytes"] == \
        sum(os.path.getsize(f) for f in files)
    assert got["hourly"]["since_compaction_s"] is None
    assert got["daily"]["n_files"] == 1       # a small base is one file
    assert got["daily"]["total_bytes"] > 0
    assert 0 <= got["daily"]["since_compaction_s"] < 600
