"""Round-17 streaming tier: semantic dedup as a Structured Streaming
ingest loop (VERDICT r16 #7) — multi-batch drain where micro-batch N+1
is judged against batch N's admitted rows, and replay idempotence by
deterministic-path overwrite (the streaming twin of the batch append
path's K-batch sequence parity test)."""

from __future__ import annotations

import os
import time

import numpy as np

from hhek2sqlite_spark.operators.similarity import build_semdedup_store
from hhek2sqlite_spark.operators.util import release_local_checkpoints
from hhek2sqlite_spark.streaming.semdedup import (
    init_semdedup_stream_store,
    judge_semdedup_batch,
    open_semdedup_stream_store,
    read_semdedup_stream_decisions,
    stream_semdedup_ingest,
)

BATCH_SCHEMA = "vec_id long, embedding array<double>"


def _random_rows(n, dim, seed, id_offset=0):
    rng = np.random.default_rng(seed)
    return [
        (i + id_offset, [float(x) for x in rng.normal(0, 0.5, dim)])
        for i in range(n)
    ]


def _init_root(spark, tmp_path) -> str:
    root = str(tmp_path / "semstore")
    corpus = spark.createDataFrame(_random_rows(80, 6, seed=5), BATCH_SCHEMA)
    store = build_semdedup_store(
        corpus, seed_stride=4, seed_max_id=80, coarse_k=4
    )
    init_semdedup_stream_store(store, root)
    release_local_checkpoints(store)
    return root


def test_stream_drain_batch_n_plus_1_sees_batch_n(spark, tmp_path):
    """Two files -> two micro-batches (maxFilesPerTrigger=1): batch 1
    is organic (admitted), batch 2 is exact copies of batch 1 under
    new ids — every batch-2 row must be REJECTED, which can only
    happen if batch 2 was judged against batch 1's persisted delta."""
    root = _init_root(spark, tmp_path)
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)

    rows1 = _random_rows(12, 6, seed=31, id_offset=1000)
    rows2 = [(vid + 1000, emb) for vid, emb in rows1]  # exact copies
    spark.createDataFrame(rows1, BATCH_SCHEMA).coalesce(1).write.parquet(
        src + "/f1"
    )
    time.sleep(1.1)  # file source orders batches by modification time
    spark.createDataFrame(rows2, BATCH_SCHEMA).coalesce(1).write.parquet(
        src + "/f2"
    )

    stream = (
        spark.readStream.schema(BATCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/f*")
    )
    q = stream_semdedup_ingest(stream, root=root, checkpoint_dir=ckpt)
    q.awaitTermination(180)

    dec = {
        (r["ingest_batch"], r["vec_id"]): r["admitted"]
        for r in read_semdedup_stream_decisions(spark, root).collect()
    }
    assert len(dec) == 24
    batches = sorted({b for b, _ in dec})
    assert len(batches) == 2  # one micro-batch per file
    first, second = batches
    wave1 = {v: a for (b, v), a in dec.items() if b == first}
    wave2 = {v: a for (b, v), a in dec.items() if b == second}
    assert set(wave1) == {v for v, _ in rows1}
    assert set(wave2) == {v for v, _ in rows2}
    assert all(a == 1 for a in wave1.values())  # organic rows admitted
    assert all(a == 0 for a in wave2.values())  # copies rejected cross-batch

    # the persisted store view = base + exactly the admitted rows
    store = open_semdedup_stream_store(spark, root)
    assert store.filter("vec_id >= 1000").count() == 12
    assert store.filter("vec_id >= 2000").count() == 0


def test_replay_is_idempotent_and_excludes_own_partial_delta(spark, tmp_path):
    """The at-least-once contract: re-running a batch's handler (what a
    post-crash restart does) must leave decisions and store state
    IDENTICAL — including when the batch's own delta directory already
    exists from the crashed attempt (it must not judge against itself)."""
    root = _init_root(spark, tmp_path)
    b1 = spark.createDataFrame(
        _random_rows(10, 6, seed=31, id_offset=1000), BATCH_SCHEMA
    )
    judge_semdedup_batch(b1, 0, root=root, tau_e6=990_000)
    dec_first = {
        (r["ingest_batch"], r["vec_id"]): (r["cell"], r["admitted"])
        for r in read_semdedup_stream_decisions(spark, root).collect()
    }
    n_store_first = open_semdedup_stream_store(spark, root).count()

    # replay the SAME batch id: its own delta dir exists now — the
    # judge must read deltas < 0 only (none) and overwrite in place
    judge_semdedup_batch(b1, 0, root=root, tau_e6=990_000)
    dec_replay = {
        (r["ingest_batch"], r["vec_id"]): (r["cell"], r["admitted"])
        for r in read_semdedup_stream_decisions(spark, root).collect()
    }
    assert dec_replay == dec_first
    assert open_semdedup_stream_store(spark, root).count() == n_store_first
    # all organic -> admitted once, no duplicates in the store view
    store = open_semdedup_stream_store(spark, root)
    assert store.filter("vec_id >= 1000").count() == 10
    assert (
        store.filter("vec_id >= 1000").select("vec_id").distinct().count() == 10
    )


def test_compaction_preserves_decisions_and_clears_deltas(spark, tmp_path):
    """compact_semdedup_stream_store folds deltas into base: the delta
    list empties, the metadata row stays unique, and a subsequent batch
    is judged IDENTICALLY to the uncompacted state."""
    from hhek2sqlite_spark.streaming.semdedup import (
        _delta_ids,
        compact_semdedup_stream_store,
    )

    root = _init_root(spark, tmp_path)
    b1 = spark.createDataFrame(
        _random_rows(10, 6, seed=31, id_offset=1000), BATCH_SCHEMA
    )
    b2 = spark.createDataFrame(
        _random_rows(10, 6, seed=32, id_offset=1500), BATCH_SCHEMA
    )
    judge_semdedup_batch(b1, 0, root=root, tau_e6=990_000)
    judge_semdedup_batch(b2, 1, root=root, tau_e6=990_000)
    probe = spark.createDataFrame(
        [(3000 + i, emb) for i, (_, emb) in enumerate(_random_rows(10, 6, 31, 1000))]
        + [(4000 + i, emb) for i, (_, emb) in enumerate(_random_rows(5, 6, 99, 0))],
        BATCH_SCHEMA,
    ).localCheckpoint(eager=True)

    from hhek2sqlite_spark.operators.similarity import (
        semantic_dedup_incremental_from_store,
    )

    before = {
        r["vec_id"]: (r["cell"], r["admitted"])
        for r in semantic_dedup_incremental_from_store(
            open_semdedup_stream_store(spark, root), probe, tau_e6=990_000
        ).collect()
    }
    n_before = open_semdedup_stream_store(spark, root).count()
    assert compact_semdedup_stream_store(spark, root) == 2
    assert _delta_ids(root) == []
    compacted = open_semdedup_stream_store(spark, root)
    assert compacted.count() == n_before
    assert compacted.filter("vec_id = -1").count() == 1  # one metadata row
    after = {
        r["vec_id"]: (r["cell"], r["admitted"])
        for r in semantic_dedup_incremental_from_store(
            compacted, probe, tau_e6=990_000
        ).collect()
    }
    assert after == before
    # the copies of batch-1 rows are still rejected post-compaction
    assert all(a == 0 for v, (_, a) in after.items() if v >= 3000 and v < 4000)


def test_stream_store_refuses_seedless_base(spark, tmp_path):
    import pytest

    from hhek2sqlite_spark.operators.similarity import SEMDEDUP_STORE_DDL

    empty = spark.createDataFrame([], SEMDEDUP_STORE_DDL)
    with pytest.raises(ValueError, match="no seeds"):
        init_semdedup_stream_store(empty, str(tmp_path / "root"))


def test_three_micro_batches_leave_no_checkpoint(spark, tmp_path, persistent_rdd_ids):
    """The handler checkpoints the judged batch and releases it; the
    batch-assignment checkpoint that judged was computed from must be
    released too, so three micro-batches leave the persisted-RDD set
    flat."""
    root = _init_root(spark, tmp_path)
    before = persistent_rdd_ids()
    for batch_id in range(3):
        batch = spark.createDataFrame(
            _random_rows(12, 6, seed=40 + batch_id, id_offset=1000 + 100 * batch_id),
            BATCH_SCHEMA,
        )
        judge_semdedup_batch(batch, batch_id, root=root)
        assert not persistent_rdd_ids() - before, f"micro-batch {batch_id} leaked"


def test_bootstrap_batch_on_metadata_only_base(spark, tmp_path):
    """A root whose base is a metadata-only store (assembled by hand:
    init refuses seedless bases) takes the bootstrap branch: every
    decision is admitted with cell NULL, and the delta holds exactly
    the batch's quantized rows in store schema."""
    import math

    from hhek2sqlite_spark.operators.similarity import (
        build_semdedup_store,
        materialize_semdedup_store,
    )

    root = str(tmp_path / "semstore")
    meta_only = build_semdedup_store(
        spark.createDataFrame([], BATCH_SCHEMA), seed_stride=4, coarse_k=4
    )
    materialize_semdedup_store(meta_only, os.path.join(root, "base"))
    rows = _random_rows(9, 6, seed=51, id_offset=1000)
    judge_semdedup_batch(
        spark.createDataFrame(rows, BATCH_SCHEMA), 0, root=root
    )

    dec = read_semdedup_stream_decisions(spark, root).collect()
    assert sorted((r["vec_id"], r["cell"], r["admitted"]) for r in dec) == [
        (vid, None, 1) for vid, _ in rows
    ]

    def quantized(emb):
        # Spark's round() is HALF_UP; x * 2^20 is exact in double
        eq = [int(math.copysign(math.floor(abs(x) * (1 << 20) + 0.5), x)) for x in emb]
        return eq, math.sqrt(float(sum(v * v for v in eq)))

    delta = spark.read.parquet(os.path.join(root, "delta", "ingest_batch=0"))
    got = sorted(
        (r["vec_id"], r["cell"], list(r["eq"]), r["n"], r["is_seed"], r["ccell"])
        for r in delta.collect()
    )
    want = sorted((vid, None, *quantized(emb), 0, None) for vid, emb in rows)
    assert got == want
