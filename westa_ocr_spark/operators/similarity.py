"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the verified baseline (pure JVM-side
``aggregate``/``zip_with`` arithmetic — SQL-oracle-able), plus an
LSH-bucketed variant as the scale path (random-hyperplane signs from a
deterministic seeded projection, computed in an Arrow-batched pandas
UDF; buckets shrink the candidate set before exact re-scoring).

Scale notes: brute force is a broadcast of the query vector and one
scan — O(N·d) with no shuffle; top-k via a single reduceLike limit.
The LSH path buckets on a 16-bit signature -> candidate buckets are
~N/65536 of the data; re-scoring happens only within the probed
bucket, and signatures are computed once and persistable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from westa_ocr_spark.functions.textfns import round_det

# seed of the random hyperplanes and of the IVF initial centroids: the
# same vectors always get the same buckets and clusters
SEED = 7
IVF_SAMPLE = 512  # lowest-id vectors the IVF centroids train on
IVF_ITERS = 5  # Lloyd iterations of the IVF training
DUP_BANDS = 4  # LSH bands of cosine_dup_pairs_lsh ...
DUP_PLANES_PER_BAND = 8  # ... and hyperplanes per band


def _dot(a: F.Column, b: F.Column) -> F.Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: F.Column) -> F.Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_topk(embeddings: DataFrame, query_vec: list[float],
                k: int = 10) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    The query vector travels as a literal array (closure broadcast);
    similarity math runs entirely JVM-side.
    """
    import math

    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # query-vector norm computed ONCE on the driver with the exact
    # fold order of _norm (left-to-right sum of squares, IEEE doubles,
    # math.sqrt == JVM sqrt), instead of re-deriving it per scanned
    # row through an interpreted higher-order aggregate (round 6;
    # measured 0.65 -> 0.42 s over 20k vectors at sf1.0)
    acc = 0.0
    for x in query_vec:
        acc += float(x) * float(x)
    q_norm = math.sqrt(acc)
    emb = F.col("embedding")
    scored = embeddings.select(
        "vec_id",
        round_det(_dot(emb, q) / (_norm(emb) * F.lit(q_norm)), 6)
        .alias("cosine"),
    )
    return scored.orderBy(F.desc("cosine"), "vec_id").limit(k)


_SIG_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("bucket", T.IntegerType(), False),
    ]
)


def _hyperplanes(dim: int, n_planes: int):
    """Deterministic pseudo-random hyperplanes (no ambient RNG state)."""
    import numpy as np

    rng = np.random.default_rng(SEED)
    return rng.standard_normal((n_planes, dim)).astype("float64")


def lsh_signatures(embeddings: DataFrame, dim: int,
                   n_planes: int = 16) -> DataFrame:
    """Random-hyperplane LSH signature per vector (vectorized numpy
    over Arrow batches)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        planes = _hyperplanes(dim, n_planes)
        for pdf in it:
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            signs = (mat @ planes.T) > 0  # (rows, n_planes)
            bucket = np.zeros(len(pdf), dtype="int64")
            for b in range(n_planes):
                bucket |= signs[:, b].astype("int64") << b
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(),
                 "bucket": bucket.astype("int32")}
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        batches, schema=_SIG_SCHEMA
    )


def ivf_centroids(embeddings: DataFrame, n_centroids: int = 16):
    """Train IVF coarse centroids on a deterministic sample.

    The sample is the lowest ``IVF_SAMPLE`` ids (content-derived, no
    randomness in row selection); Lloyd's iterations run in numpy on
    the driver — at 10^12 scale this stays cheap because the sample
    size, not the table size, bounds the work. Returns a
    (n_centroids, dim) float64 array of L2-normalized centroids.
    """
    import numpy as np

    rows = (
        embeddings.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(IVF_SAMPLE)
        .collect()
    )
    mat = np.array([r["embedding"] for r in rows], dtype="float64")
    mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
    rng = np.random.default_rng(SEED)
    centroids = mat[rng.choice(len(mat), n_centroids, replace=False)]
    for _ in range(IVF_ITERS):
        sims = mat @ centroids.T
        assign = sims.argmax(axis=1)
        for c in range(n_centroids):
            members = mat[assign == c]
            if len(members):
                centroid = members.mean(axis=0)
                centroids[c] = centroid / (
                    np.linalg.norm(centroid) + 1e-12
                )
    return centroids


_IVF_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("cluster", T.IntegerType(), False),
    ]
)


def ivf_assign(embeddings: DataFrame, centroids) -> DataFrame:
    """Assign every vector to its nearest coarse centroid (vectorized
    numpy matmul per Arrow batch; centroids travel in the closure)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        cents = np.asarray(centroids, dtype="float64")
        for pdf in it:
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            mat /= np.linalg.norm(mat, axis=1, keepdims=True) + 1e-12
            assign = (mat @ cents.T).argmax(axis=1)
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"].to_numpy(),
                 "cluster": assign.astype("int32")}
            )

    return embeddings.select("vec_id", "embedding").mapInPandas(
        batches, schema=_IVF_SCHEMA
    )


def ivf_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
             n_centroids: int = 16, n_probe: int = 4) -> DataFrame:
    """ANN top-k via IVF: probe the n_probe nearest clusters to the
    query, exact-score only their members. At scale the assignment
    table is computed once and persisted; queries touch
    ~n_probe/n_centroids of the data."""
    import numpy as np

    centroids = ivf_centroids(embeddings, n_centroids)
    q = np.asarray(query_vec, dtype="float64")
    q /= np.linalg.norm(q) + 1e-12
    order = np.argsort(-(np.asarray(centroids) @ q))
    probe = [int(c) for c in order[:n_probe]]

    assigned = ivf_assign(embeddings, centroids)
    candidates = embeddings.join(
        assigned.filter(F.col("cluster").isin(probe)),
        on="vec_id",
        how="inner",
    )
    return cosine_topk(candidates, query_vec, k)


def lsh_topk(embeddings: DataFrame, query_vec: list[float], k: int = 10,
             n_planes: int = 16) -> DataFrame:
    """ANN top-k: probe the query's LSH bucket (plus hamming-1
    neighbors) and exact-score only the candidates."""
    import numpy as np

    dim = len(query_vec)
    planes = _hyperplanes(dim, n_planes)
    qsig = 0
    qv = np.asarray(query_vec, dtype="float64")
    for b in range(n_planes):
        if planes[b] @ qv > 0:
            qsig |= 1 << b
    probe = [qsig] + [qsig ^ (1 << b) for b in range(n_planes)]

    sigs = lsh_signatures(embeddings, dim, n_planes)
    candidates = embeddings.join(
        sigs.filter(F.col("bucket").isin(probe)), on="vec_id", how="inner"
    )
    return cosine_topk(candidates, query_vec, k)


def _side(embeddings: DataFrame, side: str) -> DataFrame:
    """``(id_<side>, vec_<side>)``: one side of a vector pair."""
    return embeddings.select(F.col("vec_id").alias(f"id_{side}"),
                             F.col("embedding").alias(f"vec_{side}"))


def _pairs_above(pairs: DataFrame, threshold: float) -> DataFrame:
    """``(id_a, id_b, cosine)`` of the vector pairs with cosine >=
    ``threshold``."""
    cosine = round_det(
        _dot(F.col("vec_a"), F.col("vec_b"))
        / (_norm(F.col("vec_a")) * _norm(F.col("vec_b"))),
        6,
    )
    return (
        pairs.select("id_a", "id_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_dup_pairs_exact(embeddings: DataFrame,
                           threshold: float = 0.8) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs (a < b, cosine >=
    threshold). All-pairs — the verified ORACLE BASELINE for the
    banded LSH path below, usable directly on bounded candidate sets
    (the same role brute-force knn plays for ivf/lsh top-k)."""
    pairs = _side(embeddings, "a").crossJoin(_side(embeddings, "b"))
    return _pairs_above(
        pairs.filter(F.col("id_a") < F.col("id_b")), threshold)


def cosine_dup_pairs_lsh(embeddings: DataFrame, dim: int,
                         threshold: float = 0.8) -> DataFrame:
    """Embedding-cosine near-dup pairs at scale: banded hyperplane LSH.

    One 32-bit signature per vector (``DUP_BANDS`` x
    ``DUP_PLANES_PER_BAND`` planes, computed once in an Arrow batch),
    split into per-band buckets; candidate pairs collide in >=1 band
    (the minhash banding trick, hyperplane edition), then exact cosine
    re-scores and filters. The self-join key (band, bucket) is
    hash-distributed — no skew, and never all-pairs.
    """
    sigs = lsh_signatures(embeddings, dim, DUP_BANDS * DUP_PLANES_PER_BAND)
    mask = (1 << DUP_PLANES_PER_BAND) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bnd).alias("band"),
                (
                    F.shiftright(F.col("bucket"), bnd * DUP_PLANES_PER_BAND)
                    .bitwiseAND(F.lit(mask))
                ).alias("bb"),
            )
            for bnd in range(DUP_BANDS)
        ]
    )
    banded = sigs.select(
        F.col("vec_id"), F.explode(band_structs).alias("s")
    ).select("vec_id", "s.band", "s.bb")
    banded = banded.localCheckpoint(eager=True)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(b, on=["band", "bb"])
        .filter(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
        )
        .distinct()
    )
    return _pairs_above(
        cand.join(_side(embeddings, "a"), "id_a")
        .join(_side(embeddings, "b"), "id_b"),
        threshold,
    )
