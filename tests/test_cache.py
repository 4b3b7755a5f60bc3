"""Cache lifetime: one ``release_caches()`` call frees every block the
library's operators persisted or checkpointed, whichever module ran them."""

from __future__ import annotations

import pytest

SF_DIR = "/root/testdata/sf0.01"


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


_RECALL_EVALS = {
    # evaluator -> (kwargs, frames it persists: the guarded query panel,
    # plus the nprobe sweep's exact truth and candidate fan-out, plus the
    # LSH panel's candidate fan-out)
    "retrieval_recall_eval": (dict(k=10, nlist=16, nprobe=5), 1),
    "ivf_nprobe_sweep": (dict(nprobes=(1, 2, 4), k=10, nlist=16), 3),
    "lsh_recall_eval": (dict(k=10, num_planes=3, num_tables=6), 2),
    "quantized_recall_eval": (dict(k=10), 1),
}


@pytest.mark.parametrize("fn", sorted(_RECALL_EVALS))
def test_recall_eval_persists_a_fixed_frame_count(spark, fn):
    """Each recall evaluator caches exactly the frames its consumers
    share, no more and no fewer, and one release frees all of them."""
    from spark_auto_schema import release_caches
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import similarity

    kwargs, persisted = _RECALL_EVALS[fn]
    emb = read_table(spark, "/root/testdata/sf0.01", "embeddings")
    release_caches()
    before = _persistent_rdds(spark)
    getattr(similarity, fn)(emb, query_ids=list(range(8)), **kwargs).collect()
    assert _persistent_rdds(spark) - before == persisted
    release_caches()
    assert _persistent_rdds(spark) == before


_DEDUP_OPS = {
    # operator -> (arguments from sf0.01 documents and their even-id half,
    # frames it persists).  The survivorship pair persists its digest
    # window plus ngram_jaccard_pairs' shingle frames; the paragraph pair
    # persists its segment signatures, and the provenance also its
    # segment-digest window; the rest persist nothing.
    "dedup_provenance": (lambda d, even: (d,), 4),
    "token_survivorship": (lambda d, even: (d,), 4),
    "paragraph_minhash_pairs": (lambda d, even: (d,), 1),
    "paragraph_dedup_provenance": (lambda d, even: (d,), 2),
    "dedup_loss_by_source": (lambda d, even: (d,), 0),
    "dedup_rate_drift": (lambda d, even: (d, even), 0),
    "segment_dedup": (lambda d, even: (d,), 0),
    "remove_boilerplate": (lambda d, even: (d,), 0),
    "incremental_exact_dedup": (lambda d, even: (d, even), 0),
    "bloom_incremental_dedup": (lambda d, even: (d, even), 0),
}


@pytest.mark.parametrize("fn", sorted(_DEDUP_OPS))
def test_dedup_op_persists_a_fixed_frame_count(spark, fn):
    """Each survivorship, segment and incremental dedup operator caches
    exactly the frames its consumers share, and one release frees them."""
    from pyspark.sql import functions as F

    from spark_auto_schema import release_caches
    from spark_auto_schema.io import read_table
    from spark_auto_schema.ops import dedup

    args, persisted = _DEDUP_OPS[fn]
    docs = read_table(spark, SF_DIR, "documents")
    even = docs.where(F.col("doc_id") % 2 == 0)
    release_caches()
    before = _persistent_rdds(spark)
    getattr(dedup, fn)(*args(docs, even)).collect()
    assert _persistent_rdds(spark) - before == persisted
    release_caches()
    assert _persistent_rdds(spark) == before
