"""IVF (inverted-file) ANN index: DataFrame-native k-means + probed search.

The second classic ANN family next to LSH: cluster the corpus once
(Lloyd's iterations — an *iterative* algorithm expressed as repeated
join/groupBy passes, the driver's non-SQL-expressible category), store
each vector under its nearest centroid, and search only the query's
``n_probes`` closest cells.

Implementation is pure DataFrame ops:
- centroids init: deterministic hash-sample of the corpus (no rand());
- assign step: the k centroids collapse into ONE broadcast array row;
  the nearest cell is a row-local ``array_min`` over per-centroid
  distances — ZERO shuffle, whole-stage codegen, deterministic
  (dist, cell) tie-break;
- update step: per-cell vector mean via ``pyspark.ml`` ``Summarizer``
  over VectorUDT — a single map-side-combinable aggregate whose shuffle
  carries at most k partial rows per partition (the posexplode
  alternative shuffles corpus_rows × dim rows per iteration);
- search: score only vectors in the probed cells, exact cosine rerank.

Scale notes: k-means cost is iterations × (corpus × k distance evals)
— with broadcast centroids it is embarrassingly parallel and never
shuffles the corpus; only k-row partial means move. The trained index
is just a column — persist the assigned corpus bucketed by cell and
probes prune to matching files.
"""

from __future__ import annotations

from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.ml.stat import Summarizer
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from uk_housing_dashboard_etl_spark.functions.rounding import round4
from uk_housing_dashboard_etl_spark.functions.topk import deterministic_topk
from uk_housing_dashboard_etl_spark.operators.similarity import (
    cosine_prenorm_expr,
    norm_expr,
)


def _sq_dist(a: str, b: str) -> F.Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )


def _assign(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """Nearest centroid per vector, with zero shuffle.

    The k centroids collapse into one (cell, centroid) struct-array row
    that broadcasts; each vector computes its distance to every centroid
    inside one projection and takes ``array_min`` over (dist, cell)
    structs — struct comparison is field-ordered, so ties break to the
    smallest cell id deterministically. No explode, no groupBy: the
    corpus never leaves its partitions.
    """
    cent_arr = centroids.agg(
        F.collect_list(F.struct("cell", "centroid")).alias("__cents")
    )
    nearest = F.array_min(
        F.expr(
            "transform(__cents, c -> struct("
            "aggregate(zip_with(vec, c.centroid, (x, y) -> (x - y) * (x - y)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS dist,"
            " c.cell AS cell))"
        )
    )
    return vectors.crossJoin(F.broadcast(cent_arr)).select(
        "vec_id", "vec", nearest.getField("cell").alias("cell")
    )


def kmeans_fit(
    embeddings: DataFrame,
    k: int = 16,
    iterations: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means; returns (cell, centroid array<double>).

    Init picks k deterministic corpus vectors via multiplicative id
    hashing — reproducible, no collect of data vectors to the driver.
    """
    vectors = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    # Lloyd's re-reads the corpus every iteration; cache it once so the
    # unrolled plan hits memory, not parquet, iterations × times
    vectors = vectors.persist()
    init_order = [
        ((F.col("vec_id") * F.lit(2654435761)) % F.lit(1_000_000_007)).asc(),
        F.col("vec_id").asc(),
    ]
    centroids = deterministic_topk(vectors, init_order, k, rank_name="__r").select(
        (F.col("__r") - 1).alias("cell"), F.col("vec").alias("centroid")
    )
    for _ in range(iterations):
        assigned = _assign(vectors, centroids)
        # element-wise mean per cell in ONE aggregate: Summarizer keeps a
        # running vector sum per cell JVM-side (partial combine reduces
        # every partition to ≤ k rows before the exchange)
        centroids = (
            assigned.select("cell", array_to_vector("vec").alias("__v"))
            .groupBy("cell")
            .agg(Summarizer.mean(F.col("__v")).alias("__m"))
            .select("cell", vector_to_array("__m").alias("centroid"))
        )
    # materialize the k centroid rows (tiny) so the cached corpus can be
    # released and callers don't re-run the whole iteration lineage
    out = centroids.localCheckpoint(eager=True)
    vectors.unpersist()
    return out


def ivf_index(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every corpus vector to its cell: (vec_id, vec, cell)."""
    vectors = embeddings.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).cast("array<double>").alias("vec")
    )
    return _assign(vectors, centroids)


def ivf_topk(
    index: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_probes: int = 3,
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine over the query's ``n_probes``
    nearest cells only."""
    qs = queries.select(
        "query_id", F.col(vec_col).cast("array<double>").alias("qvec")
    ).withColumn("nq", norm_expr("qvec"))
    q_cells = (
        qs.crossJoin(F.broadcast(centroids))
        .select(
            "query_id",
            "qvec",
            "nq",
            "cell",
            _sq_dist("qvec", "centroid").alias("dist"),
        )
        .withColumn(
            "__r",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy("dist", "cell")
            ),
        )
        .where(F.col("__r") <= n_probes)
        .select("query_id", "qvec", "nq", "cell")
    )
    scored = (
        index.withColumn("nv", norm_expr("vec"))
        .join(F.broadcast(q_cells), "cell")
        .select(
            "query_id",
            "vec_id",
            round4(cosine_prenorm_expr("qvec", "vec", "nq", "nv")).alias(
                "score"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "score", "rank")
    )

def semantic_near_dup(
    embeddings: DataFrame,
    threshold: float = 0.4,
    k: int = 8,
    iterations: int = 4,
    n_probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023):
    k-means the embedding space, then emit exact-cosine pairs ≥
    ``threshold`` only WITHIN shared cluster cells.

    This is the scale path between the all-pairs baseline (O(N²) — see
    ``embedding_near_dup``) and sign-bucket LSH: cluster structure means
    true near-dups almost always co-assign, so the pair volume drops
    from N² to Σ |cell|² while candidates stay semantically coherent.
    Boundary pairs (the classic SemDeDup miss) are recovered by
    multi-probe assignment: every vector lands in its ``n_probes``
    nearest cells, so a pair is scored whenever ANY cell is shared;
    duplicate emissions collapse in a final (id_a, id_b) aggregate
    (cosine is identical wherever the pair scores — only the compact
    id-pair rows reach that shuffle). Recall vs the exact baseline is
    driver-gated by ``semantic_dedup_check``.

    Plan: one k-means fit (broadcast centroids, corpus never shuffles —
    see ``kmeans_fit``), one zero-shuffle row-local top-``n_probes``
    assignment (array_sort over the per-centroid distance structs +
    slice + explode), then ONE shuffle of (id, vec) rows keyed by cell
    into ``applyInPandas``. The Arrow kernel scores each cell's pairs
    with the dot product accumulated PER DIMENSION — bit-identical to
    the sequential JVM/DuckDB left-fold (same parity argument as
    ``arrow_topk``), so the subset-of-exact property is exact, not
    approximate. Row blocks keep the block×cell score matrix bounded.

    r15 (guide §2.5/§2.6 — the sf1 scale tier made this visible): with
    one task per cell the kernel's parallelism is capped at k, leaving
    cores idle (37 s at sf1 on 32 cores with k=8; 8-vs-32-core ratio
    1.0). When the session has more slots than cells, each cell's
    A-side is hash-split into ``nsplit = defaultParallelism // k``
    deterministic blocks and the cell's member list rides along to
    every block (replication factor nsplit on the shuffled vectors —
    the standard block-parallel all-pairs scheme), so parallelism
    becomes k·nsplit while each pair is still scored EXACTLY once (the
    pair (a, b) is emitted only by a's block, under the same
    ``id_a < id_b`` mask). Results are invariant to nsplit; at
    nsplit=1 the plan is byte-identical to the r14 shape.

    At 100 TB: size ``k`` so cells stay bounded (SemDeDup uses
    k ≈ √N·c); per-cell cost is |cell|²·dim split across nsplit tasks,
    and a skewed cell is additionally split by raising k or pre-salting
    — never by letting one task own the corpus. ``n_probes`` multiplies
    pair volume by at most p², so probe count trades recall against
    compute explicitly.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.types import to_arrow_type

    if centroids is None:
        centroids = kmeans_fit(
            embeddings, k=k, iterations=iterations, id_col=id_col, vec_col=vec_col
        )
    vectors = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    cent_arr = centroids.agg(
        F.collect_list(F.struct("cell", "centroid")).alias("__cents")
    )
    probed = F.slice(
        F.array_sort(
            F.expr(
                "transform(__cents, c -> struct("
                "aggregate(zip_with(vec, c.centroid, (x, y) -> (x - y) * (x - y)),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) AS dist,"
                " c.cell AS cell))"
            )
        ),
        1,
        n_probes,
    )
    index = (
        vectors.crossJoin(F.broadcast(cent_arr))
        .select("vec_id", "vec", F.explode(probed).alias("__p"))
        .select("vec_id", "vec", F.col("__p.cell").alias("cell"))
    )
    id_type = dict(
        (f.name, f.dataType.simpleString()) for f in index.schema.fields
    )["vec_id"]
    cell_type = dict(
        (f.name, f.dataType.simpleString()) for f in index.schema.fields
    )["cell"]
    schema = f"cell {cell_type}, id_a {id_type}, id_b {id_type}, cosine double"
    # an empty shard's id columns must carry the same type as the schema
    id_dtype = to_arrow_type(index.schema["vec_id"].dataType).to_pandas_dtype()

    # block-parallel split (r15): more slots than cells ⇒ shard each
    # cell's A-side deterministically and replicate the cell's member
    # list to every shard; results invariant to nsplit (each pair is
    # emitted by exactly one shard — its id_a's block). Gated on the
    # input-size estimate: tiny corpora pay the split's extra groups
    # without kernel work to parallelize (similarity.BLOCK_SPLIT_MIN_BYTES)
    from uk_housing_dashboard_etl_spark.operators import (
        similarity as _sim,
    )

    try:
        nsplit = max(
            # floor of 4 shards once the corpus is past the size gate:
            # smaller accumulator blocks + load balance help even when
            # cells already cover the cores (sf1 tier, 8 cores:
            # 21.0 s med unsplit → 17.6 s at 4; 8 shards regress)
            4,
            int(embeddings.sparkSession.sparkContext.defaultParallelism)
            // max(int(k), 1),
        )
    except Exception:  # noqa: BLE001 — no context (e.g. connect): no split
        nsplit = 1
    if _sim._plan_size_bytes(embeddings) < _sim.BLOCK_SPLIT_MIN_BYTES:
        nsplit = 1

    def _empty() -> pd.DataFrame:
        return pd.DataFrame(
            {"cell": [], "id_a": [], "id_b": [], "cosine": []}
        ).astype({"id_a": id_dtype, "id_b": id_dtype, "cosine": "float64"})

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if "__a" in pdf.columns:
            apdf = pdf[pdf["__a"]]
            bpdf = pdf[~pdf["__a"]]
        else:
            apdf = bpdf = pdf
        if len(apdf) == 0 or len(bpdf) == 0:
            return _empty()
        cell = pdf["cell"].iloc[0]
        aids = apdf["vec_id"].to_numpy()
        bids = bpdf["vec_id"].to_numpy()
        A = np.array(apdf["vec"].tolist(), dtype=np.float64)
        B = np.array(bpdf["vec"].tolist(), dtype=np.float64)
        D = B.shape[1]
        # per-dimension sequential folds: norms and dots run the exact
        # op order of the JVM/DuckDB expression, so every cosine is
        # bit-identical regardless of the nsplit sharding
        na = np.zeros(len(A))
        nb = np.zeros(len(B))
        for d in range(D):
            na += A[:, d] * A[:, d]
            nb += B[:, d] * B[:, d]
        na, nb = np.sqrt(na), np.sqrt(nb)
        from uk_housing_dashboard_etl_spark.operators.similarity import (
            _seq_pairdot,
        )

        frames = []
        step = max(1, int(8e6 // max(len(B), 1)))
        for s in range(0, len(A), step):
            Ab = A[s : s + step]
            cos = _seq_pairdot(Ab, B) / (
                na[s : s + step, None] * nb[None, :]
            )
            cos = np.floor(cos * 10000.0 + 0.5) / 10000.0
            mask = (aids[s : s + step, None] < bids[None, :]) & (
                cos >= threshold
            )
            ii, jj = np.nonzero(mask)
            if len(ii):
                frames.append(
                    pd.DataFrame(
                        {
                            "cell": cell,
                            "id_a": aids[s + ii],
                            "id_b": bids[jj],
                            "cosine": cos[ii, jj],
                        }
                    )
                )
        if not frames:
            return _empty()
        return pd.concat(frames, ignore_index=True)

    if nsplit > 1:
        a_side = index.select(
            "cell",
            "vec_id",
            "vec",
            F.pmod(F.xxhash64("vec_id"), F.lit(nsplit)).cast("int").alias(
                "__blk"
            ),
            F.lit(True).alias("__a"),
        )
        b_side = index.select(
            "cell",
            "vec_id",
            "vec",
            F.explode(F.expr(f"sequence(0, {nsplit - 1})")).alias("__blk"),
            F.lit(False).alias("__a"),
        )
        pairs = (
            a_side.unionByName(b_side)
            .groupBy("cell", "__blk")
            .applyInPandas(cell_pairs, schema=schema)
        )
    else:
        pairs = index.groupBy("cell").applyInPandas(cell_pairs, schema=schema)
    # multi-probe can score a pair in up to n_probes shared cells; the
    # cosine is identical in each, so collapse on the id pair (the only
    # rows in this exchange are the already-thresholded pair ids)
    return pairs.groupBy("id_a", "id_b").agg(
        F.min("cell").alias("cell"), F.max("cosine").alias("cosine")
    )
