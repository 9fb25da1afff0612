"""IVF ANN: k-means convergence properties and probed-search recall."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.operators.ivf import ivf_index, ivf_topk, kmeans_fit
from uk_housing_dashboard_etl_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup,
    embedding_near_dup_lsh,
)
from uk_housing_dashboard_etl_spark.sources.readers import read_table


def test_kmeans_partitions_all_vectors(spark, sf_med):
    emb = read_table(spark, sf_med, "embeddings")
    centroids = kmeans_fit(emb, k=8, iterations=4)
    cent = centroids.toPandas()
    assert len(cent) <= 8 and len(cent) >= 2  # empty cells may drop
    assert all(len(c) == 64 for c in cent["centroid"])
    index = ivf_index(emb, centroids).toPandas()
    assert len(index) == emb.count()  # every vector assigned exactly once
    assert set(index["cell"]) <= set(cent["cell"])


def test_ivf_topk_recall_vs_brute_force(spark, sf_med):
    emb = read_table(spark, sf_med, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = kmeans_fit(corpus, k=8, iterations=4)
    index = ivf_index(corpus, centroids)
    approx = ivf_topk(index, centroids, queries, k=10, n_probes=3).toPandas()
    exact = brute_force_topk(corpus, queries, k=10).toPandas()
    exact_set = set(zip(exact.query_id, exact.vec_id))
    approx_set = set(zip(approx.query_id, approx.vec_id))
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, recall  # 3 of 8 cells probed
    # scores agree exactly where both found the pair (same rerank math)
    merged = exact.merge(approx, on=["query_id", "vec_id"], suffixes=("_e", "_a"))
    assert (merged.score_e == merged.score_a).all()


def test_embedding_near_dup_lsh_recall(spark, sf_med):
    emb = read_table(spark, sf_med, "embeddings")
    exact = embedding_near_dup(emb, threshold=0.4).toPandas()
    # bits=3 for this LOW-threshold regime (synthetic max cosine ≈0.51);
    # real near-dup thresholds (≥0.9) tolerate far more bits
    approx = embedding_near_dup_lsh(emb, threshold=0.4, bits=3).toPandas()
    exact_pairs = set(zip(exact.id_a, exact.id_b))
    approx_pairs = set(zip(approx.id_a, approx.id_b))
    assert approx_pairs <= exact_pairs  # exact cosine filter: no false positives
    recall = len(approx_pairs) / max(1, len(exact_pairs))
    assert recall >= 0.5, recall
    got = approx.set_index(["id_a", "id_b"]).cosine
    want = exact.set_index(["id_a", "id_b"]).cosine
    common = got.index.intersection(want.index)
    assert (got.loc[common] == want.loc[common]).all()
    assert np.isfinite(got.to_numpy()).all()


def test_semantic_near_dup_subset_and_recall(spark, sf_med):
    from uk_housing_dashboard_etl_spark.operators.ivf import semantic_near_dup

    emb = read_table(spark, sf_med, "embeddings")
    exact = embedding_near_dup(emb, threshold=0.4).toPandas()
    sem = semantic_near_dup(
        emb, threshold=0.4, k=8, iterations=4, n_probes=2
    ).toPandas()
    exact_pairs = set(zip(exact.id_a, exact.id_b))
    sem_pairs = set(zip(sem.id_a, sem.id_b))
    # intra-cell scoring reuses the exact cosine: prune-only, no inventions
    assert sem_pairs <= exact_pairs
    recall = len(sem_pairs) / max(1, len(exact_pairs))
    assert recall >= 0.6, recall
    # multi-probe dedup emitted each pair exactly once
    assert len(sem) == len(sem_pairs)
    # cosines bit-match the all-pairs baseline on the common pairs
    got = sem.set_index(["id_a", "id_b"]).cosine
    want = exact.set_index(["id_a", "id_b"]).cosine
    assert (got == want.loc[got.index]).all()


def test_semantic_near_dup_multiprobe_recovers_boundary_pairs(spark, sf_med):
    from uk_housing_dashboard_etl_spark.operators.ivf import (
        kmeans_fit,
        semantic_near_dup,
    )

    emb = read_table(spark, sf_med, "embeddings")
    cents = kmeans_fit(emb, k=8, iterations=4)
    one = semantic_near_dup(
        emb, threshold=0.4, n_probes=1, centroids=cents
    ).count()
    two = semantic_near_dup(
        emb, threshold=0.4, n_probes=2, centroids=cents
    ).count()
    assert two >= one  # probes only ever add candidate cells


def test_semantic_near_dup_string_ids_with_empty_shards(spark, monkeypatch):
    """String ids through the block-split kernel: a (cell, shard) group with
    no A-side rows must return an empty frame typed like the string ids."""
    from uk_housing_dashboard_etl_spark.operators import similarity
    from uk_housing_dashboard_etl_spark.operators.ivf import semantic_near_dup

    # force the split on a tiny corpus: nsplit >= 4 shards per cell, so
    # 6 vectors over 2 cells leave at least 2 of the 8 groups without A rows
    monkeypatch.setattr(similarity, "BLOCK_SPLIT_MIN_BYTES", 0)
    rng = np.random.default_rng(0)
    rows = [(i, [float(x) for x in rng.normal(size=4)]) for i in range(6)]
    num = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(num, k=2, iterations=2)
    # zero-padded, so string order matches numeric order (id_a < id_b)
    txt = num.select(
        F.format_string("v%02d", "vec_id").alias("vec_id"), "embedding"
    )
    got = semantic_near_dup(
        txt, threshold=-1.0, k=2, n_probes=1, centroids=cents
    ).collect()
    want = semantic_near_dup(
        num, threshold=-1.0, k=2, n_probes=1, centroids=cents
    ).collect()
    assert want
    assert sorted((r.id_a, r.id_b, r.cosine) for r in got) == sorted(
        (f"v{r.id_a:02d}", f"v{r.id_b:02d}", r.cosine) for r in want
    )
