"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k (query set broadcast against the
corpus — no shuffle except the final per-query top-k).  Scale path:
random-hyperplane LSH bucketing, which turns the O(Q×N) scan into an
equi-join on bucket id.

Determinism strategy: the dot product is emitted as an UNROLLED
left-associative expression (e[1]*q[1] + e[2]*q[2] + ...), identical in
Spark and DuckDB — IEEE doubles evaluated in the same order are
bit-identical across engines, so even unrounded cosines hash-match.
"""

from __future__ import annotations

import logging
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType
from pyspark.sql.window import Window

from ..sources.tables import fan_out, load_table
from ..queries import register

log = logging.getLogger(__name__)

DIM = 64  # embedding dimensionality of the testdata corpus
TOP_K = 5
QUERY_STRIDE = 50  # queries = vectors with vec_id % stride == 0

N_PLANES = 8  # hyperplane LSH bits
_rng = random.Random(7)
PLANES: list[list[float]] = [
    [round(_rng.uniform(-1.0, 1.0), 6) for _ in range(DIM)] for _ in range(N_PLANES)
]


def _spark_dot(a: str, b: str):
    """Dot product as zip_with + left-fold aggregate.

    The fold accumulates in list order, so the float additions happen in
    exactly the same left-associative sequence as the oracle's unrolled
    `a[1]*b[1] + a[2]*b[2] + ...` — IEEE doubles added in the same order
    are bit-identical across engines. The compact expression tree also
    keeps whole-stage codegen viable (the 64-term unrolled form forced
    interpreted fallback).

    Built as SQL TEXT, not Column lambdas: each python zip_with/aggregate
    lambda costs a py4j callback round trip at PLAN BUILD time, and s02
    evaluates 2 x (8 planes + norm + dot) of them — the text form cut
    s02's plan construction ~4x (same fix as the OTLP anyvalue encoders).
    """
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> double(x) * double(y)), "
        "0.0D, (acc, t) -> acc + t)"
    )


def _duck_dot(a: str, b: str) -> str:
    return " + ".join(f"{a}[{i}]::DOUBLE * {b}[{i}]::DOUBLE" for i in range(1, DIM + 1))


def _spark_plane_dot(a: str, plane: list[float]):
    coeffs = ", ".join(f"{float(c)!r}D" for c in plane)
    return F.expr(
        f"aggregate(zip_with({a}, array({coeffs}), (x, c) -> double(x) * c), "
        "0.0D, (acc, t) -> acc + t)"
    )


def _duck_plane_dot(a: str, plane: list[float]) -> str:
    return " + ".join(f"{a}[{i}]::DOUBLE * ({plane[i - 1]!r})" for i in range(1, DIM + 1))


# ---------------------------------------------------------------------------
# Brute-force cosine top-k


def cosine_topk(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int = TOP_K
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    queries is assumed dimension-table sized -> broadcast; the corpus
    streams map-side; the only shuffle is the per-query top-k window.
    """
    # spread the O(N x Q) scoring across cores even when the corpus
    # parquet is a single split (at scale the scan is already parallel
    # and fan_out is a no-op); fan out the RAW vectors so the norm
    # computation itself runs post-shuffle in parallel
    c = fan_out(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")),
        corpus.sparkSession,
        src_bytes=getattr(corpus, "_graft_src_bytes", None),
    ).withColumn("v_norm", F.sqrt(_spark_dot("v", "v")))
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("q"),
        F.sqrt(_spark_dot(vec_col, vec_col)).alias("q_norm"),
    )
    pairs = c.join(F.broadcast(q), F.col("vec_id") != F.col("q_id")).withColumn(
        "cos_sim",
        F.round(_spark_dot("v", "q") / (F.col("v_norm") * F.col("q_norm")), 4),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos_sim", "rk")
    )


@register(
    "s01_knn_bruteforce",
    f"""
    WITH base AS (
      SELECT vec_id, embedding,
             sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
             ROUND(({_duck_dot('c.embedding', 'q.embedding')})
                   / (c.nrm * q.nrm), 4) AS cos_sim
      FROM base c
      JOIN base q ON q.vec_id % {QUERY_STRIDE} = 0 AND c.vec_id <> q.vec_id
    )
    SELECT q_id, vec_id, cos_sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rk
      FROM pairs
    ) WHERE rk <= {TOP_K}
    """,
    doc="Brute-force cosine top-5 for stride-sampled query vectors.",
)
def s01_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    return cosine_topk(emb, queries, "vec_id", "embedding")


# ---------------------------------------------------------------------------
# Hyperplane-LSH bucketed ANN


def lsh_bucket(df: DataFrame, vec_col: str) -> DataFrame:
    """Append an 8-bit random-hyperplane bucket id (map-side only)."""
    bucket = None
    for i, p in enumerate(PLANES):
        bit = F.when(_spark_plane_dot(vec_col, p) > 0, F.lit(1 << i)).otherwise(0)
        bucket = bit if bucket is None else bucket + bit
    return df.withColumn("bucket", bucket.cast("int"))


def _duck_bucket(vec: str) -> str:
    bits = [
        f"(CASE WHEN ({_duck_plane_dot(vec, p)}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(PLANES)
    ]
    return "(" + " + ".join(bits) + ")::INT"


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    multiprobe: bool = False,
) -> DataFrame:
    """ANN: only candidates in the query's LSH bucket get exact scoring.

    At 100 TB: bucket is an equi-join key, so candidate generation is a
    hash join; recall/cost tunes via N_PLANES (more planes -> smaller
    buckets).

    multiprobe=True is the standard recall upgrade: each query also
    probes every bucket at Hamming distance 1 (one hyperplane bit
    flipped — the buckets a borderline vector most likely fell into).
    Implementation stays an equi-join: the QUERY side explodes into
    1 + N_PLANES probe bucket ids (queries are the small side, so the
    explosion multiplies the broadcast table, never the corpus), the
    per-query top-k dedups candidates seen in multiple probes. Recall
    rises toward brute-force at ~(1+N_PLANES)x candidate cost — still
    O(docs-per-bucket), never O(N x Q).
    """
    c = lsh_bucket(
        corpus.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("v"),
            F.sqrt(_spark_dot(vec_col, vec_col)).alias("v_norm"),
        ),
        "v",
    )
    q = lsh_bucket(
        queries.select(
            F.col(id_col).alias("q_id"),
            F.col(vec_col).alias("q"),
            F.sqrt(_spark_dot(vec_col, vec_col)).alias("q_norm"),
        ),
        "q",
    ).withColumnRenamed("bucket", "q_bucket")
    if multiprobe:
        probes = F.array(
            F.col("q_bucket"),
            *[
                F.col("q_bucket").bitwiseXOR(F.lit(1 << i)).cast("int")
                for i in range(N_PLANES)
            ],
        )
        q = q.withColumn("q_bucket", F.explode(probes))
    pairs = c.join(
        F.broadcast(q),
        (F.col("bucket") == F.col("q_bucket")) & (F.col("vec_id") != F.col("q_id")),
    ).withColumn(
        "cos_sim",
        F.round(_spark_dot("v", "q") / (F.col("v_norm") * F.col("q_norm")), 4),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos_sim", "rk")
    )


@register(
    "s02_ann_lsh",
    f"""
    WITH base AS (
      SELECT vec_id, embedding,
             sqrt({_duck_dot('embedding', 'embedding')}) AS nrm,
             {_duck_bucket('embedding')} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
             ROUND(({_duck_dot('c.embedding', 'q.embedding')})
                   / (c.nrm * q.nrm), 4) AS cos_sim
      FROM base c
      JOIN base q ON q.vec_id % {QUERY_STRIDE} = 0
                 AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
    )
    SELECT q_id, vec_id, cos_sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rk
      FROM pairs
    ) WHERE rk <= 3
    """,
    doc="LSH-bucketed approximate nearest neighbors (8 hyperplanes).",
)
def s02_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    return ann_lsh(emb, queries, "vec_id", "embedding")


# ---------------------------------------------------------------------------
# IVF (inverted-file) bucketed ANN

CENT_STRIDE = 50  # centroids = vectors with vec_id % stride == 7
CENT_OFFSET = 7
NPROBE = 2  # query probes its 2 nearest cells
IVF_K = 3


def ivf_assign(
    df: DataFrame, centroids: DataFrame, id_col: str, nprobe: int
) -> DataFrame:
    """Assign each vector to its `nprobe` nearest centroid cells.

    Centroids are dimension-table sized (N/CENT_STRIDE rows) -> broadcast
    nested-loop against the corpus, so assignment is map-side only; the
    row_number that picks the nearest cells partitions by vector id, which
    is unique -> no skew. At 100 TB this is the classic IVF build: one
    broadcast pass, then all search joins are equi-joins on `cell`.
    Similarity = cosine (fold-ordered dot product -> bit-identical across
    engines); ties broken by centroid id ascending.
    """
    scored = df.join(F.broadcast(centroids)).withColumn(
        "__sim",
        _spark_dot("v", "c") / (F.col("v_norm") * F.col("c_norm")),
    )
    w = Window.partitionBy(id_col).orderBy(F.col("__sim").desc(), F.col("cell").asc())
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= nprobe)
        .drop("c", "c_norm", "__sim", "__rk")
    )


def ann_ivf(
    corpus: DataFrame, queries: DataFrame, id_col: str, vec_col: str, k: int = IVF_K
) -> DataFrame:
    """IVF ANN: corpus vectors live in 1 cell, queries probe NPROBE cells.

    Candidate generation is an equi-join on `cell` (hash join, never
    O(N*Q)); exact cosine re-ranks candidates per query. Recall/cost tunes
    via centroid count and NPROBE — same knobs as FAISS IVF-flat.
    """
    cent = corpus.filter(
        F.col(id_col) % CENT_STRIDE == CENT_OFFSET
    ).select(
        F.col(id_col).alias("cell"),
        F.col(vec_col).alias("c"),
        F.sqrt(_spark_dot(vec_col, vec_col)).alias("c_norm"),
    )
    c = fan_out(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("v")),
        corpus.sparkSession,
        src_bytes=getattr(corpus, "_graft_src_bytes", None),
    ).withColumn("v_norm", F.sqrt(_spark_dot("v", "v")))
    c = ivf_assign(c, cent, "vec_id", nprobe=1)
    q = queries.select(
        F.col(id_col).alias("q_id"),
        F.col(vec_col).alias("v"),
        F.sqrt(_spark_dot(vec_col, vec_col)).alias("v_norm"),
    )
    q = ivf_assign(q, cent, "q_id", nprobe=NPROBE).select(
        "q_id", F.col("v").alias("q"), F.col("v_norm").alias("q_norm"), "cell"
    )
    pairs = c.join(
        F.broadcast(q), ["cell"]
    ).filter(F.col("vec_id") != F.col("q_id")).withColumn(
        "cos_sim",
        F.round(_spark_dot("v", "q") / (F.col("v_norm") * F.col("q_norm")), 4),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", "cos_sim", "rk")
    )


@register(
    "s03_ann_ivf",
    f"""
    WITH base AS (
      SELECT vec_id, embedding,
             sqrt({_duck_dot('embedding', 'embedding')}) AS nrm
      FROM embeddings
    ),
    cent AS (
      SELECT vec_id AS cell, embedding AS c, nrm AS c_nrm
      FROM base WHERE vec_id % {CENT_STRIDE} = {CENT_OFFSET}
    ),
    corpus_cells AS (
      SELECT vec_id, embedding, nrm, cell FROM (
        SELECT b.vec_id, b.embedding, b.nrm, cent.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY ({_duck_dot('b.embedding', 'cent.c')})
                          / (b.nrm * cent.c_nrm) DESC, cent.cell ASC) AS rk
        FROM base b CROSS JOIN cent
      ) WHERE rk <= 1
    ),
    query_cells AS (
      SELECT vec_id AS q_id, embedding AS q, nrm AS q_nrm, cell FROM (
        SELECT b.vec_id, b.embedding, b.nrm, cent.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY b.vec_id
                 ORDER BY ({_duck_dot('b.embedding', 'cent.c')})
                          / (b.nrm * cent.c_nrm) DESC, cent.cell ASC) AS rk
        FROM base b CROSS JOIN cent
        WHERE b.vec_id % {QUERY_STRIDE} = 0
      ) WHERE rk <= {NPROBE}
    ),
    pairs AS (
      SELECT q.q_id, c.vec_id,
             ROUND(({_duck_dot('c.embedding', 'q.q')})
                   / (c.nrm * q.q_nrm), 4) AS cos_sim
      FROM corpus_cells c JOIN query_cells q
        ON c.cell = q.cell AND c.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cos_sim, rk FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY q_id ORDER BY cos_sim DESC, vec_id ASC) AS rk
      FROM pairs
    ) WHERE rk <= {IVF_K}
    """,
    doc="IVF-flat approximate nearest neighbors: stride-sampled centroids, "
    "nearest-cell assignment, nprobe=2 probing, exact cosine re-rank — "
    "the second scale path alongside hyperplane LSH (s02).",
)
def s03_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % QUERY_STRIDE == 0)
    return ann_ivf(emb, queries, "vec_id", "embedding")


# ---------------------------------------------------------------------------
# k-means centroid training (Lloyd's algorithm, distributed)


def _hash_min_init(df: DataFrame, id_col: str, vec_col: str, k: int) -> list[list[float]]:
    """Deterministic init: the k vectors whose md5-derived id hash is
    smallest. Reproducible under any partitioning/cluster size (the same
    property sampling.split_bucket relies on), unlike RDD takeSample;
    statistically a uniform random draw because md5 scrambles ids."""
    from ..functions import md5_hash64

    rows = (
        df.select(F.col(id_col), F.col(vec_col))
        # null embeddings can never seed a centroid (they also
        # null-propagate to a null cell in assignment)
        .filter(F.col(vec_col).isNotNull())
        .withColumn("__h", md5_hash64(F.col(id_col).cast("string")))
        .orderBy("__h", id_col)
        .limit(k)
        .collect()
    )
    return [[float(x) for x in r[vec_col]] for r in rows]


def kmeans_fit(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    max_iter: int = 20,
    tol: float = 1e-9,
    fit_fraction: float | None = None,
    keep_vec: bool = False,
) -> tuple[list[list[float]], DataFrame]:
    """Distributed Lloyd's k-means over an embedding column; returns
    (centroids, assignments) where assignments has (id, cell).

    Per iteration: (1) the k×dim centroid table is broadcast into a
    map-side nearest-centroid assignment (squared L2, ties -> lower
    cell index — array_min over (dist, cell) structs); (2) new means
    come from ONE shuffle over the posexploded dims with map-side
    partial sums, and only k×dim doubles return to the driver to seed
    the next broadcast — the standard iterative-refinement shape
    (same loop discipline as dedup_groups). Converges when no centroid
    moves more than tol (assignment fixpoint); empty cells keep their
    previous centroid.

    `fit_fraction` < 1 runs Lloyd's iterations over a DETERMINISTIC
    hash sample (operators/sampling.hash_fraction_sample — same rows
    every run/engine/cluster size) and assigns the FULL corpus once
    against the trained centroids — the standard sample-fit move that
    cuts the per-iteration cost by the sample factor. Centroid
    estimates from a uniform sample converge to the full-corpus ones
    (cluster means are means); the final assignment is exact either
    way. Falls back to the full corpus when the sample holds fewer
    than 10×k points (too few to estimate k means).

    Production use: feed the result into ivf_assign/ann_ivf in place of
    the stride-sampled centroids for a trained IVF index (the driver-
    graded s03 keeps stride centroids because training is iterative,
    not single-query SQL).
    """
    fit_df = df
    if fit_fraction is not None and 0.0 < fit_fraction < 1.0:
        from .sampling import hash_fraction_sample

        cand = hash_fraction_sample(df, id_col, fit_fraction, salt="kmeans-fit")
        # enough sampled points to estimate k means? (bounded check —
        # limit() keeps this O(10k) rows, never a full count)
        if cand.limit(10 * k).count() >= 10 * k:
            fit_df = cand.localCheckpoint(eager=False)
    cents = _hash_min_init(fit_df, id_col, vec_col, k)
    base = df.select(F.col(id_col), F.col(vec_col).alias("__v"))
    base_fit = fit_df.select(F.col(id_col), F.col(vec_col).alias("__v"))

    def assign_to(centroids: list[list[float]], over: DataFrame) -> DataFrame:
        """Vectorized nearest-centroid assignment: ONE Arrow-batched
        pandas UDF computing the full distance matrix with numpy
        (|x|² - 2·X·Cᵀ + |C|², argmin with first-min = lower cell
        index, matching the previous tie rule). The earlier plan-level
        spelling built k structs × dim literals — at k=32, dim=64 that
        is ~2000 expression nodes whose Catalyst compile + interpreted
        HOF evaluation cost SECONDS PER ITERATION independent of data
        size, dwarfing the actual flops. The numpy kernel is the honest
        Arrow-vectorized path (the multimodal-operator rule: BLAS-shape
        numeric kernels don't belong in codegen'd literals); assignment
        is per-row pure, so partitioning invariance is unchanged."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        C = np.asarray(centroids, dtype=np.float64)
        Cn = (C * C).sum(axis=1)

        @pandas_udf(IntegerType())
        def _nearest(v):
            # null embeddings (normal in real corpora — see module
            # docstring) null-propagate to a null cell, matching the
            # plan-level expression this kernel replaced; np.stack
            # over a None would TypeError (advisor finding, r11)
            out = pd.array([None] * len(v), dtype="Int32")
            if len(v) == 0:
                return pd.Series(out)
            mask = v.notna().to_numpy()
            if mask.any():
                X = np.stack(
                    [np.asarray(x, dtype=np.float64) for x in v[mask]]
                )
                d = (X * X).sum(axis=1)[:, None] - 2.0 * (X @ C.T) + Cn[None, :]
                out[mask] = np.argmin(d, axis=1).astype("int32")
            return pd.Series(out)

        return over.withColumn("cell", _nearest(F.col("__v")))

    converged = False
    for _ in range(max_iter):
        assigned = assign_to(cents, base_fit)
        sums = (
            assigned.select("cell", F.posexplode("__v").alias("pos", "val"))
            .groupBy("cell", "pos")
            .agg(
                F.sum(F.col("val").cast("double")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_cents = [list(c) for c in cents]  # empty cells keep position
        acc: dict[int, list[float]] = {}
        cnt: dict[int, int] = {}
        for r in sums:
            acc.setdefault(r["cell"], [0.0] * len(cents[0]))[r["pos"]] = r["s"]
            cnt[r["cell"]] = r["n"]
        for cell, vec in acc.items():
            new_cents[cell] = [v / cnt[cell] for v in vec]
        shift = max(
            abs(a - b) for cn, co in zip(new_cents, cents) for a, b in zip(cn, co)
        )
        cents = new_cents
        if shift <= tol:
            converged = True
            break
    if not converged:
        log.warning(
            "kmeans_fit hit max_iter=%d before tol=%g convergence", max_iter, tol
        )
    # the loop's last assignment was computed against the PREVIOUS
    # centroids (one update step behind); re-assign against the final
    # centroids so (cents, assignments) are mutually consistent — at a
    # fixpoint this is identical, after max_iter it is the correction
    # that keeps ivf_assign cells aligned with the centroid table.
    # Always over the FULL corpus (sample-fit only trains faster).
    # keep_vec: callers that need (id, vector, cell) together (e.g.
    # semdedup's within-cell pair join) take the vector straight off the
    # assignment frame instead of re-joining the corpus on id — at scale
    # that re-join is two avoidable full shuffles of the embedding table
    cols = [F.col(id_col), F.col("cell")]
    if keep_vec:
        cols.insert(1, F.col("__v").alias(vec_col))
    assignments = assign_to(cents, base).select(*cols)
    return cents, assignments


def centroids_df(spark: SparkSession, centroids: list[list[float]]) -> DataFrame:
    """Package trained centroids in the shape ivf_assign expects
    (cell, c, c_norm) for a trained IVF index."""
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(centroids)]
    df = spark.createDataFrame(rows, "cell int, c array<double>")
    return df.withColumn("c_norm", F.sqrt(_spark_dot("c", "c")))


def nonzero_vectors(df: DataFrame, vec_col: str) -> DataFrame:
    """Drop zero-norm (and null) embeddings before any cosine-based
    operator: a zero vector has no direction, and under ANSI mode the
    cosine's norm division errors the whole job instead of producing a
    quiet NaN. Real corpora produce zero embeddings from empty/filtered
    documents — preclean at ingestion, once, map-side (a sum of squares
    is cheaper than a failed stage retry at 100 TB)."""
    sq = F.aggregate(
        F.transform(F.col(vec_col), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return df.filter(F.col(vec_col).isNotNull() & (sq > 0.0))
