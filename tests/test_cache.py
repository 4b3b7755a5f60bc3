"""Cache lifetime: one ``release_caches()`` call frees every block the
library's operators persisted or checkpointed, whichever module ran them."""

from __future__ import annotations

def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_one_release_frees_every_module_cache(spark, tmp_path, monkeypatch):
    from spark_auto_schema import _cache, release_caches
    from spark_auto_schema import io as sio
    from spark_auto_schema.ops import analytics, dedup

    release_caches()  # start from whatever earlier tests left registered
    before = _persistent_rdds(spark)

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " today"), (3, "an unrelated line of text"), (4, base)],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_pairs(docs, verify_threshold=0.5)
    assert pairs.count() > 0

    # a 200-node chain: the in-process union-find path, then the distributed
    # label propagation with its per-round local checkpoints
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "id_a long, id_b long"
    )
    collected = sorted(tuple(r) for r in dedup.dedup_clusters(chain).collect())
    monkeypatch.setattr(dedup, "_DRIVER_CC_EDGE_BUDGET", 0)
    distributed = sorted(tuple(r) for r in dedup.dedup_clusters(chain).collect())
    assert collected == distributed == [(i, 0) for i in range(200)]

    edges = spark.createDataFrame(
        [(1, 2, 3), (2, 3, 1), (3, 1, 2), (3, 4, 1)],
        "src long, dst long, n long",
    )
    ranks = analytics.pagerank(edges).collect()
    assert abs(sum(r["rank"] for r in ranks) - 1.0) < 1e-4

    p = tmp_path / "q.csv"
    p.write_text("id|v\n1|2.0\n2|oops\n")
    good, bad = sio.read_csv_quarantine(spark, str(p), "id bigint, v double")
    assert (good.count(), bad.count()) == (1, 1)

    assert _persistent_rdds(spark) > before
    release_caches()
    assert _persistent_rdds(spark) == before
    # the registry is empty, and each module's name is the one function
    assert _cache._CACHED == []
    assert dedup.release_caches is analytics.release_caches is sio.release_caches

