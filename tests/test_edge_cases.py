"""Edge-case robustness: empty inputs, all-retracted groups, and
degenerate documents must not break any operator family."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from clickhouse_aggregation_spark.operators.dedup import (
    doc_shingle_sets, shingles_col,
)
from clickhouse_aggregation_spark.operators.rollups import (
    mv_recent_activity, mv_tx_size_distribution, mv_usdc_daily_block,
)
from clickhouse_aggregation_spark.schemas import DOCUMENTS, TRANSFERS
from clickhouse_aggregation_spark.sources.transfers import transfers_df
from clickhouse_aggregation_spark.streaming.maintainer import INCREMENTAL_ROLLUPS


@pytest.fixture()
def empty_transfers(spark):
    return spark.createDataFrame([], schema=TRANSFERS)


def test_rollups_on_empty_input(spark, empty_transfers):
    assert mv_usdc_daily_block(empty_transfers).count() == 0
    assert mv_tx_size_distribution(empty_transfers).count() == 0
    assert mv_recent_activity(empty_transfers).count() == 0


def test_incremental_partials_on_empty_batch(spark, empty_transfers):
    for rollup in INCREMENTAL_ROLLUPS:
        assert rollup.partial(empty_transfers).count() == 0, rollup.name


def test_fully_retracted_group_nets_to_zero(spark, sf_dir):
    t = transfers_df(spark, sf_dir)
    # retract EVERY live row (one -1 per +1) → net must be exactly zero
    flipped = t.withColumn("_sign", -F.col("_sign")) \
               .withColumn("_version", F.col("_version") + 10)
    both = t.unionByName(flipped)
    net = both.agg(F.sum(F.col("value") * F.col("_sign")).alias("v"),
                   F.sum("_sign").alias("c")).first()
    assert net["v"] == 0 and net["c"] == 0


def test_shingles_on_degenerate_documents(spark):
    docs = spark.createDataFrame(
        [(1, "", "en", "s", 0),
         (2, "one two", "en", "s", 7),          # < k words → filtered
         (3, "one two three", "en", "s", 13),   # exactly k → 1 shingle
         (4, None, "en", "s", 0)],
        schema=DOCUMENTS)
    sets = {r["doc_id"]: r["n"] for r in
            doc_shingle_sets(docs.filter(F.col("text").isNotNull())).collect()}
    assert sets == {3: 1}


def test_shingles_col_short_text_is_empty_array(spark):
    df = spark.createDataFrame([("a b",)], "text string")
    out = df.select(shingles_col(F.col("text")).alias("sh")).first()
    assert out["sh"] == []


def test_int_div_exact_above_double_precision(spark):
    """Values above 2^53: a double-division floor would be off."""
    from clickhouse_aggregation_spark.functions.bucketing import int_div
    big = 2 ** 60 + 7200 * 3
    df = spark.createDataFrame([(big,)], "v long")
    got = df.select(int_div(F.col("v"), 7200).alias("q")).first()["q"]
    assert got == big // 7200


def test_asof_handles_duplicate_left_timestamps(spark):
    """Two left rows sharing (key, ts) must each produce exactly one
    output row (a join-back on [key, ts] would multiply them)."""
    from clickhouse_aggregation_spark.operators.asof import asof_join_events
    left = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", 100), (2, "2024-01-01 10:00:00", 100),
         (3, "2024-01-01 11:00:00", 100)],
        "event_id long, ts string, user_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    right = spark.createDataFrame(
        [("2024-01-01 09:00:00", 100), ("2024-01-01 10:30:00", 100)],
        "ts string, user_id long",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = asof_join_events(left, right, "user_id", "ts").collect()
    assert len(out) == 3
    by_id = {r["event_id"]: str(r["asof_ts"]) for r in out}
    assert by_id[1] == by_id[2] == "2024-01-01 09:00:00"
    assert by_id[3] == "2024-01-01 10:30:00"


def test_maintainer_batch_replay_is_idempotent(spark, sf_dir, tmp_path):
    """Re-processing the same epoch (foreachBatch at-least-once retry)
    must not double-count."""
    from clickhouse_aggregation_spark.streaming.maintainer import (
        INCREMENTAL_ROLLUPS,
    )
    t = transfers_df(spark, sf_dir)
    rollup = INCREMENTAL_ROLLUPS[0]
    root = str(tmp_path)
    rollup.process_batch(t, root, epoch_id=7)
    once = {tuple(map(str, r)) for r in rollup.read(spark, root).collect()}
    rollup.process_batch(t, root, epoch_id=7)   # the retry
    twice = {tuple(map(str, r)) for r in rollup.read(spark, root).collect()}
    assert once == twice


def test_validate_enum_passes_and_rejects(spark, sf_dir):
    """F12: enum validation — valid values pass through; invalid fail
    the job with a descriptive error (marshal.enumFromJson parity)."""
    from clickhouse_aggregation_spark.functions.misc import validate_enum
    from clickhouse_aggregation_spark.sources.tables import load_table
    allowed = ("signup", "purchase", "click", "error", "page_view", "logout")
    ev = load_table(spark, sf_dir, "events")
    distinct_types = {r[0] for r in ev.select("event_type").distinct().collect()}
    ok = ev.select(validate_enum(F.col("event_type"),
                                 tuple(distinct_types)).alias("t"))
    assert ok.count() == ev.count()
    bad = spark.createDataFrame([("nonsense",)], "event_type string")
    with pytest.raises(Exception, match="invalid"):
        bad.select(validate_enum(F.col("event_type"),
                                 tuple(distinct_types)).alias("t")).collect()


def test_marshal_roundtrips(spark):
    """F10/F11: ISO-8601 timestamp parse/format and BigInt<->string."""
    df = spark.createDataFrame(
        [("2024-03-05T17:42:13Z", "123456789012345678901234567890")],
        "iso string, big string")
    out = df.select(
        F.to_timestamp("iso").alias("ts"),
        F.date_format(F.to_timestamp("iso"),
                      "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("iso_back"),
        F.col("big").cast("decimal(38,0)").alias("dec"),
        F.col("big").cast("decimal(38,0)").cast("string").alias("big_back"),
    ).first()
    assert out["iso_back"] == "2024-03-05T17:42:13Z"
    assert str(out["ts"]) == "2024-03-05 17:42:13"
    assert out["big_back"] == "123456789012345678901234567890"


def test_k_entropy_null_k_order_is_engine_identical(spark, tmp_path):
    """events_k_entropy's determinism contract: the float fold runs in
    the SAME element order on both engines even when props.k is NULL
    for some events (ADVICE r3: Spark sort_array is nulls-first while
    DuckDB list(... ORDER BY k) defaults to NULLS LAST — the oracle now
    pins NULLS FIRST)."""
    import json
    import os

    from clickhouse_aggregation_spark.operators.registry import REGISTRY
    from tests.oracle import compare, duckdb_con

    rows = []
    # event_type 'a': k=null x3, k=1 x2, k=2 x1 — entropy over 3 bins
    for i, k in enumerate([None, None, None, 1, 1, 2]):
        props = json.dumps({} if k is None else {"k": k})
        rows.append((i, 1000 + i, "a", 1.0, props))
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = pd.DataFrame(rows, columns=[
        "event_id", "user_id", "event_type", "value", "props"])
    pdf["ts"] = pd.to_datetime(pdf["event_id"], unit="us")
    sf = str(tmp_path)
    # one parquet FILE (like the driver fixtures) so DuckDB's
    # read_parquet and Spark both read the same path
    pq.write_table(pa.Table.from_pandas(pdf),
                   os.path.join(sf, "events.parquet"))

    spec = REGISTRY["events_k_entropy"]
    compare(spec.fn(spark, sf), spec.oracle, sf, "events_k_entropy_nullk")

    # and pin the ORDER itself: both engines fold (null, 1, 2)-order
    # counts, i.e. [3.0, 2.0, 1.0]
    con = duckdb_con(sf)
    try:
        duck_cs = con.execute(
            """WITH c AS (
                 SELECT CAST(json_extract_string(props, '$.k') AS BIGINT)
                          AS k, count(*) AS cnt
                 FROM events GROUP BY 1)
               SELECT list(CAST(cnt AS DOUBLE) ORDER BY k NULLS FIRST)
               FROM c""").fetchone()[0]
    finally:
        con.close()
    from clickhouse_aggregation_spark.sources.tables import load_table
    ev = load_table(spark, sf, "events")
    spark_cs = (ev.select(
        F.get_json_object("props", "$.k").cast("long").alias("k"))
        .groupBy("k").agg(F.count(F.lit(1)).alias("cnt"))
        .agg(F.sort_array(F.collect_list(F.struct("k", "cnt"))).alias("kcs"))
        .select(F.transform("kcs", lambda s: s["cnt"].cast("double"))
                .alias("cs"))
        .first()["cs"])
    assert list(duck_cs) == list(spark_cs) == [3.0, 2.0, 1.0]


def test_session_caches_key_on_application_id(spark, sf_dir):
    """Plan caches key on sparkContext.applicationId, not id(spark): a
    sibling session from the same context SHARES the persisted plan
    (one copy in the block manager), and a recycled Python object id
    can never alias a stale entry from a dead session (VERDICT r3 #6)."""
    from clickhouse_aggregation_spark.operators import dedup as D

    a = D._persisted_shingle_sets(spark, sf_dir)
    sibling = spark.newSession()
    assert id(sibling) != id(spark)
    b = D._persisted_shingle_sets(sibling, sf_dir)
    assert a is b, "same applicationId must share one persisted plan"
    key = (spark.sparkContext.applicationId, sf_dir)
    assert key in D._SETS_CACHE


def test_block_exact_null_text_emits_no_blocks(spark, tmp_path):
    """ADVICE r4: a NULL documents.text row must emit NO blocks on
    either engine — Spark's F.size(NULL) = -1 would otherwise make
    F.sequence(0, -1) yield a descending [0, -1] (two spurious block
    rows per NULL doc) while DuckDB emits none. Both sides now filter
    text IS NOT NULL."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_aggregation_spark.operators.registry import REGISTRY
    from tests.oracle import compare

    rows = [
        (1, "alpha beta gamma delta", "en", "web", 22),
        (2, None, "en", "web", 0),
        (3, "alpha beta gamma delta", "en", "books", 22),
        (4, None, None, "books", 0),
    ]
    pdf = pd.DataFrame(rows, columns=[
        "doc_id", "text", "lang", "source", "n_chars"])
    sf = str(tmp_path)
    pq.write_table(pa.Table.from_pandas(pdf),
                   os.path.join(sf, "documents.parquet"))

    spec = REGISTRY["dedup_block_exact"]
    compare(spec.fn(spark, sf), spec.oracle, sf, "block_exact_nulltext")
    got = {r["source"]: r for r in spec.fn(spark, sf).collect()}
    # the NULL-text docs contribute nothing: one block per non-null doc
    assert got["web"]["n_blocks"] == 1
    assert got["books"]["n_blocks"] == 1
    # doc 3 duplicates doc 1's block
    assert got["books"]["n_dup_blocks"] == 1


def _docs_with_null_text():
    import pandas as pd
    return pd.DataFrame({"doc_id": [1, 2, 3],
                         "text": ["alpha beta gamma", None, "beta delta"]})


def test_simhash16_kernel_drops_null_text_doc():
    """A NULL text doc drops out of the 16-bit simhash, as it did on the
    JVM path (and in the DuckDB oracle's unnest(string_split(NULL)))."""
    import pandas as pd

    from clickhouse_aggregation_spark.operators.dedup import (
        _simhash16_codes_kernel,
    )
    pdf = _docs_with_null_text()
    got = pd.concat(_simhash16_codes_kernel([pdf]))
    want = pd.concat(_simhash16_codes_kernel([pdf.iloc[[0, 2]]]))
    assert got["doc_id"].tolist() == [1, 3]
    assert got["simhash16"].tolist() == want["simhash16"].tolist()


def test_simhash60_kernel_drops_null_text_doc():
    import pandas as pd

    from clickhouse_aggregation_spark.operators.dedup import (
        _simhash60_codes_kernel,
    )
    pdf = _docs_with_null_text()
    got = pd.concat(_simhash60_codes_kernel([pdf[["text"]]]))
    want = pd.concat(_simhash60_codes_kernel([pdf.iloc[[0, 2]][["text"]]]))
    assert got["code"].tolist() == want["code"].tolist()
    assert len(got) == 2


def test_heavy_hitter_denominator_skips_null_text():
    """199 distinct tokens each clear freq * 200 > n only if n counts
    real tokens; a NULL-text doc must not add one to n."""
    import pandas as pd

    from clickhouse_aggregation_spark.operators.text import (
        HH_FRACTION, _hh_candidates_partition,
    )
    toks = [f"t{i}" for i in range(HH_FRACTION - 1)]
    pdf = pd.DataFrame({"text": [" ".join(toks), None]})
    got = pd.concat(_hh_candidates_partition([pdf]))
    assert sorted(got["token"]) == sorted(toks)


def test_sem_cell_stats_rejects_repeated_vec_id():
    import numpy as np
    import pandas as pd

    from clickhouse_aggregation_spark.operators.dedup import (
        _sem_cell_stats_kernel,
    )
    qv = np.array([1, 2], dtype=np.int64)
    pdf = pd.DataFrame({"centroid_id": [0, 0], "vec_id": [5, 5],
                        "qv": [qv, qv], "norm2": [5, 5]})
    with pytest.raises(ValueError, match="vec_id repeats"):
        _sem_cell_stats_kernel(pdf)


def test_clear_plan_caches_unpins_and_rebuilds(spark, sf_dir):
    """ADVICE r4: the session plan caches must be evictable — a
    multi-scale bench in one process otherwise pins every scale's
    persisted plans for the application lifetime. Eviction trades the
    warm hit for released storage memory, never correctness."""
    from clickhouse_aggregation_spark.caches import clear_plan_caches
    from clickhouse_aggregation_spark.operators import dedup

    pairs_before = dedup.confirmed_minhash_pairs(spark, sf_dir)
    n_before = pairs_before.count()
    key = (spark.sparkContext.applicationId, sf_dir)
    assert key in dedup._PAIRS_CACHE

    evicted = clear_plan_caches(sf_dir=sf_dir)
    assert evicted["minhash_pairs"] == 1
    assert key not in dedup._PAIRS_CACHE
    assert pairs_before.storageLevel.useMemory is False  # unpersisted

    # rebuild on next use, same result
    assert dedup.confirmed_minhash_pairs(spark, sf_dir).count() == n_before
    assert key in dedup._PAIRS_CACHE
    # full clear (no sf filter) empties everything without error
    clear_plan_caches()
    assert not dedup._PAIRS_CACHE
