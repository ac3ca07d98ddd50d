"""The bounded session plan-cache (VERDICT r7 next-#4): every
build-once-read-many family cache is a PlanCache — an access-ordered
dict that unpersists the least-recently-used entry on insert past
capacity, so a long-lived session cycling many datasets holds a
bounded number of persisted builds per family."""

from __future__ import annotations

from clickhouse_aggregation_spark.caches import (PLAN_CACHE_CAPACITY,
                                                 PlanCache,
                                                 clear_plan_caches)


def test_plan_cache_evicts_lru_through_handler():
    evicted: list[str] = []
    c = PlanCache(capacity=3, on_evict=evicted.append)
    for k in "abc":
        c[k] = f"v{k}"
    _ = c["a"]                       # refresh 'a': 'b' is now oldest
    c["d"] = "vd"
    assert evicted == ["vb"]
    assert set(c) == {"a", "c", "d"}
    _ = c["c"]
    c["e"] = "ve"                    # 'a' refreshed before 'c' -> evict 'a'
    assert evicted == ["vb", "va"]
    # overwrite refreshes without evicting
    c["c"] = "vc2"
    assert len(c) == 3 and evicted == ["vb", "va"]
    # dict-protocol compatibility used by clear_plan_caches
    assert c.pop("c") == "vc2" and "c" not in c


def test_plan_cache_soak_bounds_persisted_frames(spark):
    """Cycle 3x capacity dataset keys through one cache in one
    session: at most `capacity` frames may stay persisted; every
    evicted frame must actually be unpersisted (storage level reset),
    not just dropped from the dict."""
    c = PlanCache()   # default capacity, default unpersist handler
    frames = {}
    for i in range(PLAN_CACHE_CAPACITY * 3):
        key = ("app", f"/data/sf{i}")
        df = spark.range(10 + i).persist()
        df.count()
        frames[key] = df
        c[key] = df
    assert len(c) == PLAN_CACHE_CAPACITY
    pinned = [df for df in frames.values() if df.storageLevel.useMemory
              or df.storageLevel.useDisk]
    assert len(pinned) == PLAN_CACHE_CAPACITY
    # the survivors are exactly the most recently inserted keys
    keep = set(list(frames)[-PLAN_CACHE_CAPACITY:])
    assert set(c) == keep
    for df in c.values():
        df.unpersist()


def test_family_caches_are_bounded_plan_caches():
    """Every cache clear_plan_caches administers must BE a PlanCache
    (the eviction guarantee holds for all families, including the
    streaming stores and scalar memos)."""
    from clickhouse_aggregation_spark.operators import (
        clustering, contamination, curation, dedup, similarity,
        streaming_bridge, text)

    caches = [
        dedup._SETS_CACHE, dedup._PAIRS_CACHE, dedup._BANDED_CACHE,
        dedup._COSINE_BASE_CACHE, dedup._LADDER_CAPPED_CACHE,
        similarity._IVF_CORPUS_CACHE, similarity._SEM_CORPUS_CACHE,
        similarity._SEM_K_CACHE, similarity._EVAL_TOPK_CACHE,
        contamination._HASH_CACHE, curation._ANN_CACHE,
        clustering._PR_EDGES_CACHE, clustering._PR_NODES_CACHE,
        text._VOCAB_CACHE,
    ]
    for c in caches:
        assert isinstance(c, PlanCache)
        assert c.capacity == PLAN_CACHE_CAPACITY
    # the maintained-store cache holds DIRECTORIES whose eviction
    # deletes files under outstanding lazy readers, so it gets a
    # dedicated capacity covering all 8 maintainer kinds x several
    # concurrent datasets (ADVICE r8: the default 8 had zero headroom)
    assert isinstance(streaming_bridge._STORE_CACHE, PlanCache)
    n_kinds = 8
    assert streaming_bridge._STORE_CACHE.capacity >= n_kinds * 4


def test_plan_cache_get_refreshes_recency():
    """dict.get bypasses __getitem__ unless overridden — a hot entry
    read only via .get() must not look LRU-cold (ADVICE r8)."""
    evicted: list[str] = []
    c = PlanCache(capacity=2, on_evict=evicted.append)
    c["a"] = "va"
    c["b"] = "vb"
    assert c.get("a") == "va"        # refresh 'a': 'b' is now oldest
    c["c"] = "vc"
    assert evicted == ["vb"]
    assert set(c) == {"a", "c"}
    assert c.get("missing") is None
    assert c.get("missing", "dflt") == "dflt"


def test_store_cache_revalidates_missing_dir(spark, tmp_path, monkeypatch):
    """A maintained-store cache hit whose directory was removed
    out-of-band (LRU eviction from another insert, external cleanup)
    must re-drive the maintainer, not hand readers a dead path."""
    import os
    from clickhouse_aggregation_spark.operators import streaming_bridge as sb

    calls: list[str] = []

    def fake_chunked(spark_, sf_dir_, prefix, table="documents",
                     id_col="doc_id", df_fn=None):
        root = tmp_path / f"root{len(calls)}"
        (root / "chunks").mkdir(parents=True)
        calls.append(prefix)
        return str(root), str(root / "chunks"), 0

    class _Q:
        def awaitTermination(self, *_): return True
        def stop(self): pass

    def fake_runner(spark_, ddir, store):
        os.makedirs(store, exist_ok=True)
        return _Q()

    monkeypatch.setattr(sb, "_chunked_table_dir", fake_chunked)
    monkeypatch.setattr(sb, "_maintainer_specs",
                        lambda: {"revalidate_test": dict(runner=fake_runner)})
    key_sf = str(tmp_path / "sfX")
    store1 = sb._maintained_store(spark, key_sf, "revalidate_test")
    assert os.path.isdir(store1) and len(calls) == 1
    # warm hit: no re-drive
    assert sb._maintained_store(spark, key_sf, "revalidate_test") == store1
    assert len(calls) == 1
    # out-of-band removal -> the hit must re-drive
    import shutil
    shutil.rmtree(os.path.dirname(store1))
    store2 = sb._maintained_store(spark, key_sf, "revalidate_test")
    assert os.path.isdir(store2) and len(calls) == 2
    sb._STORE_CACHE.pop(
        ("revalidate_test", spark.sparkContext.applicationId, key_sf), None)


def test_clear_plan_caches_still_drains_plan_caches(spark):
    from clickhouse_aggregation_spark.operators import dedup

    key = ("test-app", "/tmp/fake_sf_dir_for_cache_test")
    df = spark.range(5).persist()
    df.count()
    dedup._SETS_CACHE[key] = df
    evicted = clear_plan_caches("/tmp/fake_sf_dir_for_cache_test")
    assert evicted["dedup_sets"] == 1
    assert key not in dedup._SETS_CACHE
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)


def test_chunk_dir_shared_across_maintainer_kinds(spark):
    """The chunked source copy is written ONCE per (session, table,
    sf_dir) and shared by every maintainer kind over that table
    (round 10: three embeddings facades each re-chunked the identical
    table). A later kind must get the same chunk dir; eviction of one
    kind's STORE must never remove the shared chunks."""
    import os
    from clickhouse_aggregation_spark.operators import streaming_bridge as sb

    sf = "/root/testdata/sf0.01"
    r1 = sb._chunked_table_dir(spark, sf, "stream_kind_a_",
                               "embeddings", "vec_id")
    r2 = sb._chunked_table_dir(spark, sf, "stream_kind_b_",
                               "embeddings", "vec_id")
    assert r1 == r2 and os.path.isdir(r1[1]) and r1[2] > 0
    # out-of-band removal -> revalidated, rewritten at a fresh root
    import shutil
    shutil.rmtree(r1[0])
    r3 = sb._chunked_table_dir(spark, sf, "stream_kind_a_",
                               "embeddings", "vec_id")
    assert r3[1] != r1[1] and os.path.isdir(r3[1]) and r3[2] == r1[2]
    assert sb._CHUNK_CACHE.pop(
        sb.chunk_cache_key(spark, "embeddings", "vec_id", sf), None) == r3
    shutil.rmtree(r3[0], ignore_errors=True)
