"""Round-18 optimization contracts: the session router cache for
file-backed semdedup stores (correctness + invalidation), owned
operator state (persisted RDDs stay flat across repeated calls), the
single-aggregate store metadata read, the keep_ccell store build, and
the streaming handler's single-materialization writes."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from hhek2sqlite_spark.operators import similarity
from hhek2sqlite_spark.operators.util import owned_result, release_local_checkpoints

BATCH_SCHEMA = "vec_id long, embedding array<double>"


def _rows(n, dim, seed, id_offset=0):
    rng = np.random.default_rng(seed)
    return [
        (i + id_offset, [float(x) for x in rng.normal(0, 0.5, dim)])
        for i in range(n)
    ]


def _decisions(df):
    return sorted((r.vec_id, r.cell, r.admitted) for r in df.collect())


def _clear_router_cache():
    similarity._ROUTER_CACHE.clear()


# --- session router cache ----------------------------------------------------


def test_router_cache_matches_cold_path_and_hits(spark, tmp_path):
    """A parquet-backed store judged twice: the second call must hit the
    session cache (no new entry) and decide identically to a cold
    (cache-cleared) judge."""
    _clear_router_cache()
    base = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    batch = spark.createDataFrame(_rows(12, 6, seed=9, id_offset=1000), BATCH_SCHEMA)
    store = similarity.build_semdedup_store(base, seed_stride=4, coarse_k=4)
    reopened = similarity.materialize_semdedup_store(
        store, str(tmp_path / "store_pq")
    )
    n0 = len(similarity._ROUTER_CACHE)  # the build registered its store
    first = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert len(similarity._ROUTER_CACHE) == n0 + 1  # derived for the reopened plan
    second = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert len(similarity._ROUTER_CACHE) == n0 + 1  # hit, not a second entry
    _clear_router_cache()
    cold = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert first == second == cold


def test_router_cache_invalidates_on_rebuild_at_same_path(spark, tmp_path):
    """Overwriting the store path with a DIFFERENT corpus (same build
    parameters, so the metadata row is byte-identical) must not serve
    the stale router: the file signature (size/mtime_ns) changes. The
    second corpus holds exact copies of the batch vectors, so its
    decisions provably differ: every batch row is rejected."""
    _clear_router_cache()
    path = str(tmp_path / "store_pq")
    batch_rows = _rows(12, 6, seed=9, id_offset=1000)
    base1 = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    base2 = spark.createDataFrame(
        _rows(68, 6, seed=77) + [(68 + i, e) for i, (_, e) in enumerate(batch_rows)],
        BATCH_SCHEMA,
    )
    batch = spark.createDataFrame(batch_rows, BATCH_SCHEMA)
    s1 = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base1, seed_stride=4, coarse_k=4), path
    )
    d1 = _decisions(similarity.semantic_dedup_incremental_from_store(s1, batch))
    s2 = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base2, seed_stride=4, coarse_k=4), path
    )
    d2 = _decisions(similarity.semantic_dedup_incremental_from_store(s2, batch))
    _clear_router_cache()
    d2_cold = _decisions(
        similarity.semantic_dedup_incremental_from_store(s2, batch)
    )
    assert d2 == d2_cold  # rebuilt store judged with the REBUILT router
    assert all(admitted == 0 for _, _, admitted in d2)
    assert d1 != d2


def test_router_cache_ignores_filtered_store_relations(spark, tmp_path):
    """A RESTRICTED relation over the same files must not hit the full
    store's cached router (plan identity is part of the key, not just
    the bytes): judging against store-minus-some-rows must behave as
    the uncached judge. One-level store — a two-level store cannot be
    row-filtered at all (the persisted seed ccells would no longer
    match a router derived from the surviving seeds)."""
    _clear_router_cache()
    base = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    batch = spark.createDataFrame(_rows(12, 6, seed=9, id_offset=1000), BATCH_SCHEMA)
    reopened = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base, seed_stride=4, coarse_k=None),
        str(tmp_path / "store_pq"),
    )
    # warm the cache with the FULL store
    n0 = len(similarity._ROUTER_CACHE)
    d_full = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert len(similarity._ROUTER_CACHE) == n0 + 1
    # a filtered store keeps only every-8th-id seeds — a DIFFERENT,
    # valid seed set under one-level routing
    restricted = reopened.filter(
        (F.col("vec_id") % 8 == 0) | (F.col("vec_id") < 0)
    )
    d_restricted = _decisions(
        similarity.semantic_dedup_incremental_from_store(restricted, batch)
    )
    _clear_router_cache()
    d_restricted_cold = _decisions(
        similarity.semantic_dedup_incremental_from_store(restricted, batch)
    )
    assert d_restricted == d_restricted_cold
    # sanity that the restriction actually matters (different cells for
    # at least one batch vector) — else this test proves nothing
    assert d_restricted != d_full
    _clear_router_cache()


def test_one_level_router_cache_matches_cold_path(spark, tmp_path):
    _clear_router_cache()
    base = spark.createDataFrame(_rows(60, 6, seed=5), BATCH_SCHEMA)
    batch = spark.createDataFrame(_rows(10, 6, seed=9, id_offset=1000), BATCH_SCHEMA)
    reopened = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base, seed_stride=8, coarse_k=None),
        str(tmp_path / "store_1l"),
    )
    n0 = len(similarity._ROUTER_CACHE)
    hot = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert len(similarity._ROUTER_CACHE) == n0 + 1
    _clear_router_cache()
    cold = _decisions(
        similarity.semantic_dedup_incremental_from_store(reopened, batch)
    )
    assert hot == cold


# --- store metadata read (single-pass aggregate) ------------------------------


def test_meta_read_raises_on_unioned_stores(spark):
    base = spark.createDataFrame(_rows(40, 6, seed=5), BATCH_SCHEMA)
    s1 = similarity.build_semdedup_store(base, seed_stride=4, coarse_k=4)
    doubled = s1.unionByName(s1)
    with pytest.raises(ValueError, match="more than one metadata row"):
        similarity.read_semdedup_store_meta(doubled)


def test_meta_read_none_on_dataless_relation(spark):
    empty = spark.createDataFrame([], similarity.SEMDEDUP_STORE_DDL)
    assert similarity.read_semdedup_store_meta(empty) is None


# --- keep_ccell store build ----------------------------------------------------


def test_store_ccell_only_on_seed_rows_and_matches_route(spark):
    """The r18 pass-through ccell must equal the r17 join's result:
    present (and equal to the seed's coarse route) exactly on seed
    rows, NULL elsewhere."""
    base = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    store = similarity.build_semdedup_store(base, seed_stride=4, coarse_k=4)
    rows = store.filter(F.col("vec_id") >= 0).collect()
    router = similarity._store_router(store)
    route = similarity._coarse_route_udf(*router["coarse"])
    # recompute each seed's coarse route independently via the kernel
    seeds = [r for r in rows if r["is_seed"] == 1]
    seed_df = spark.createDataFrame(
        [(r["vec_id"], r["eq"]) for r in seeds], "vec_id long, eq array<long>"
    )
    expected = {
        r["vec_id"]: r["cc"]
        for r in seed_df.select(
            "vec_id", route("vec_id", "eq").alias("cc")
        ).collect()
    }
    for r in rows:
        if r["is_seed"] == 1:
            assert r["ccell"] == expected[r["vec_id"]]
        else:
            assert r["ccell"] is None


# --- owned operator state ------------------------------------------------------


def test_lsh_payload_cache_released_by_owned_result(spark, persistent_rdd_ids):
    """VERDICT r17 #6: repeated lsh_bucket_pairs calls must leave no
    persisted RDD and no CacheManager entry once each result is
    released."""
    emb = spark.createDataFrame(
        [
            (i, [float(x) for x in np.random.default_rng(i).normal(0, 1, 64)])
            for i in range(64)
        ],
        BATCH_SCHEMA,
    )
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()
    base, n_cached = persistent_rdd_ids(), cache_mgr.numCachedEntries()
    for _ in range(3):
        with owned_result(similarity.lsh_bucket_pairs(emb)) as out:
            out.count()
        assert not persistent_rdd_ids() - base, "payload checkpoint leaked past release"
        assert cache_mgr.numCachedEntries() <= n_cached


def test_minhash_pairs_cache_released_by_neardup_clusters(
    spark, sf_dir, persistent_rdd_ids
):
    """neardup_clusters consumes the pair relation internally — it must
    release the pair generator's signature checkpoint before
    returning. The result is an eager checkpoint over the labels alone,
    so releasing it cannot free the signatures on neardup's behalf."""
    from hhek2sqlite_spark.operators import dedup
    from hhek2sqlite_spark.sources.parquet import load_table

    base = persistent_rdd_ids()
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.neardup_clusters(dedup.minhash_lsh_pairs(docs))
    assert out.count() > 0
    assert release_local_checkpoints(out) == 1
    assert not persistent_rdd_ids() - base, "signature checkpoint leaked past the loop"


# --- review follow-ups ----------------------------------------------------------


def test_cached_router_hint_is_a_copy(spark, tmp_path):
    """Mutating a router returned by the session router cache must not
    reach the cached entry: the next call sees the original."""
    _clear_router_cache()
    base = spark.createDataFrame(_rows(60, 6, seed=5), BATCH_SCHEMA)
    reopened = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base, seed_stride=4, coarse_k=4),
        str(tmp_path / "store_pq"),
    )
    built = similarity._store_router(reopened)
    original = dict(built)
    built["meta"] = None
    hit = similarity._store_router(reopened)
    assert hit == original
    hit["coarse"] = None
    assert similarity._store_router(reopened) == original
    _clear_router_cache()


def test_append_releases_batch_assignment(spark, tmp_path, persistent_rdd_ids):
    """Each append checkpoints the judged batch; the batch-assignment
    checkpoint it was computed from must be freed, so three appends
    whose outputs are released leave the persisted-RDD set flat."""
    base = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    store = similarity.materialize_semdedup_store(
        similarity.build_semdedup_store(base, seed_stride=4, coarse_k=4),
        str(tmp_path / "store_pq"),
    )
    before = persistent_rdd_ids()
    for k in range(3):
        batch = spark.createDataFrame(
            _rows(12, 6, seed=20 + k, id_offset=1000 + 100 * k), BATCH_SCHEMA
        )
        decisions, new_store = similarity.append_to_semdedup_store(store, batch)
        assert decisions.count() == 12
        assert new_store.count() > 0
        release_local_checkpoints(new_store)
        assert not persistent_rdd_ids() - before, f"append {k} left a checkpoint"


def test_load_table_sees_schema_of_rewritten_table(spark, tmp_path):
    """The session schema cache is keyed on the files' (path, size,
    mtime_ns): a table rewritten at the same path with an added column
    is read with its NEW schema, not the cached one (by-name matching
    against a stale schema would silently drop the column)."""
    import pandas as pd

    from hhek2sqlite_spark.sources.parquet import load_table

    path = tmp_path / "nation.parquet"
    pd.DataFrame({"n_nationkey": [1, 2], "n_name": ["a", "b"]}).to_parquet(path)
    assert load_table(spark, str(tmp_path), "nation").columns == [
        "n_nationkey",
        "n_name",
    ]
    pd.DataFrame(
        {"n_nationkey": [1, 2], "n_name": ["a", "b"], "n_extra": [7, 8]}
    ).to_parquet(path)
    df = load_table(spark, str(tmp_path), "nation")
    assert df.columns == ["n_nationkey", "n_name", "n_extra"]
    assert sorted(r.n_extra for r in df.collect()) == [7, 8]


# --- one router per store plan ---------------------------------------------------


def _no_router_derivation(monkeypatch):
    """Make every router derivation fail loudly: the metadata read, the
    coarse collect, and any DataFrame.collect (the one-level seed-row
    collect) raise."""
    from pyspark.sql import DataFrame

    def _fail(*_a, **_k):
        raise AssertionError("router state was derived, not reused")

    monkeypatch.setattr(similarity, "read_semdedup_store_meta", _fail)
    monkeypatch.setattr(similarity, "_collect_coarse", _fail)
    monkeypatch.setattr(DataFrame, "collect", _fail)


@pytest.mark.parametrize("coarse_k", [4, None])
def test_judge_reuses_router_of_built_and_appended_store(spark, monkeypatch, coarse_k):
    """Judging against a just-built store, and against append's
    new_store, reads no metadata row and collects no seeds: the router
    registered by build/append is served from the session cache."""
    base = spark.createDataFrame(_rows(80, 6, seed=5), BATCH_SCHEMA)
    batch_a = spark.createDataFrame(_rows(10, 6, seed=9, id_offset=1000), BATCH_SCHEMA)
    batch_b = spark.createDataFrame(_rows(10, 6, seed=5, id_offset=2000), BATCH_SCHEMA)
    store = similarity.build_semdedup_store(base, seed_stride=4, coarse_k=coarse_k)
    with monkeypatch.context() as m:
        _no_router_derivation(m)
        direct = similarity.semantic_dedup_incremental_from_store(store, batch_b)
        dec_a, store2 = similarity.append_to_semdedup_store(store, batch_a)
        after_append = similarity.semantic_dedup_incremental_from_store(store2, batch_b)
    assert len(_decisions(direct)) == len(_decisions(after_append)) == 10
    assert len(_decisions(dec_a)) == 10
    release_local_checkpoints(store2)


def test_router_cache_keeps_a_store_that_keeps_getting_hits(spark, monkeypatch):
    """LRU, not FIFO: a store judged between later registrations
    survives more than _ROUTER_CACHE_MAX of them (each append registers
    its new_store), while the cache stays bounded."""
    base = spark.createDataFrame(_rows(40, 6, seed=5), BATCH_SCHEMA)
    store = similarity.build_semdedup_store(base, seed_stride=4, coarse_k=4)
    n_appends = similarity._ROUTER_CACHE_MAX + 2
    with monkeypatch.context() as m:
        m.setattr(
            similarity,
            "read_semdedup_store_meta",
            lambda *_a: pytest.fail("the store's router was evicted and re-derived"),
        )
        for k in range(n_appends):
            batch = spark.createDataFrame(
                _rows(3, 6, seed=60 + k, id_offset=1000 + 10 * k), BATCH_SCHEMA
            )
            decisions, _ = similarity.append_to_semdedup_store(store, batch)
            release_local_checkpoints(decisions)
    assert len(similarity._ROUTER_CACHE) <= similarity._ROUTER_CACHE_MAX
    release_local_checkpoints(store)
