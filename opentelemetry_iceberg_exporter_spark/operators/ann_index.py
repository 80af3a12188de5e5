"""Catalog-backed incremental ANN index: a PERSISTENT IVF-flat index
whose inverted lists are Iceberg table partitions — the vector-search
sibling of operators/incremental_dedup.py.

Layout (two catalog tables, either transport):

* ``<name>_centroids`` — (cell int, c array<double>): the trained
  codebook, k×dim doubles, read whole (it is broadcast-sized by
  construction — that is what makes it a codebook).
* ``<name>_vectors`` — (vec_id string, cell int, v array<double>,
  v_norm double), hidden-partitioned by ``truncate[1]`` on ``cell``
  (identity for ints): every IVF inverted list is its own partition, so
  probing ``nprobe`` cells prunes AT THE MANIFEST LEVEL and reads only
  those cells' files — the on-disk analog of FAISS's inverted lists,
  built entirely from the engine's existing partition machinery.

Incremental maintenance uses the catalog's CDC machinery: ``ingest``
commits each batch as ONE ``upsert_equality`` snapshot on ``vec_id``
(cost O(batch) forever; re-ingesting an id REPLACES its old version via
the strict-sequence equality-delete rule, so embedding refreshes are a
plain re-ingest), and the codebook stays fixed after ``build`` — the
standard IVF practice (retrain = build a new index).

Search: queries assign to their ``nprobe`` nearest cells map-side
(broadcast codebook), only the probed cells' partitions are read
(union of pruned scans — one per distinct probed cell, pure-metadata
planning), then ONE equi-join on ``cell`` + exact cosine re-rank. At
100 TB of vectors a point query touches files proportional to
``nprobe/k`` of the table.

No reference counterpart (LLM-pipeline extension surface); the IVF
math shares operators/similarity.py (kmeans_fit, ivf cells).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from .similarity import _spark_dot, kmeans_fit

CENTROIDS_SCHEMA = StructType(
    [
        StructField("cell", IntegerType(), False),
        StructField("c", ArrayType(DoubleType(), False), False),
    ]
)
VECTORS_SCHEMA = StructType(
    [
        StructField("vec_id", StringType(), False),
        StructField("cell", IntegerType(), False),
        StructField("v", ArrayType(DoubleType(), True), False),
        StructField("v_norm", DoubleType(), False),
    ]
)


def _ensure(catalog, namespace: str, name: str, schema, partition_by=None):
    catalog.ensure_namespace(namespace)
    return catalog.ensure_table(namespace, name, schema, partition_by=partition_by)


class AnnIndex:
    """Handle over the two index tables. Build once, then ingest/search
    from any session — all state lives in the catalog."""

    def __init__(self, centroids_table, vectors_table, vec_col: str = "embedding"):
        self.centroids_table = centroids_table
        self.vectors_table = vectors_table
        self.vec_col = vec_col

    # -- construction ------------------------------------------------------
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        catalog,
        namespace: str,
        name: str,
        embeddings: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        k: int = 16,
        max_iter: int = 20,
    ) -> "AnnIndex":
        """Train the codebook on ``embeddings`` (distributed Lloyd's)
        and create+populate both tables; the training batch is also the
        first ingested batch."""
        cents, _ = kmeans_fit(embeddings, id_col, vec_col, k=k, max_iter=max_iter)
        ct = _ensure(catalog, namespace, f"{name}_centroids", CENTROIDS_SCHEMA)
        if ct.metadata().get("current-snapshot-id", -1) != -1:
            # appending a second codebook would double every cell id and
            # scatter assignments across two centroid sets
            raise ValueError(
                f"index {namespace}.{name} already exists — open() it, or "
                "build under a new name to retrain"
            )
        vt = _ensure(
            catalog,
            namespace,
            f"{name}_vectors",
            VECTORS_SCHEMA,
            partition_by=[("cell", "truncate[1]")],
        )
        ct.append_dataframe(
            spark.createDataFrame(
                [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
                CENTROIDS_SCHEMA,
            )
        )
        index = cls(ct, vt, vec_col=vec_col)
        index.ingest(spark, embeddings, id_col=id_col)
        return index

    @classmethod
    def open(cls, catalog, namespace: str, name: str, vec_col: str = "embedding"):
        from ..sinks.iceberg_rest import RestCatalogClient, RestTable

        if isinstance(catalog, RestCatalogClient):
            return cls(
                RestTable(catalog, namespace, f"{name}_centroids"),
                RestTable(catalog, namespace, f"{name}_vectors"),
                vec_col=vec_col,
            )
        return cls(
            catalog.load_table(namespace, f"{name}_centroids"),
            catalog.load_table(namespace, f"{name}_vectors"),
            vec_col=vec_col,
        )

    # -- codebook ----------------------------------------------------------
    def _codebook(self, spark: SparkSession) -> DataFrame:
        return self.centroids_table.read(spark).withColumn(
            "c_norm", F.sqrt(_spark_dot("c", "c"))
        )

    def _assign(
        self, df: DataFrame, codebook: DataFrame, id_col: str, nprobe: int
    ) -> DataFrame:
        """(id, v, v_norm, cell): nprobe nearest cells per vector via a
        broadcast codebook pass (cosine; ties -> lower cell)."""
        scored = df.join(F.broadcast(codebook)).withColumn(
            "__sim", _spark_dot("v", "c") / (F.col("v_norm") * F.col("c_norm"))
        )
        w = Window.partitionBy(id_col).orderBy(
            F.col("__sim").desc(), F.col("cell").asc()
        )
        return (
            scored.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= nprobe)
            .drop("c", "c_norm", "__sim", "__rk")
        )

    # -- maintenance -------------------------------------------------------
    def ingest(
        self, spark: SparkSession, embeddings: DataFrame, id_col: str = "vec_id"
    ) -> int | None:
        """Assign + upsert one batch in ONE snapshot (equality delete on
        vec_id + new data files): re-ingested ids replace their old
        rows. Zero-norm vectors are rejected map-side (no direction, and
        the cosine would divide by zero)."""
        prepared = embeddings.select(
            F.col(id_col).cast("string").alias("vec_id"),
            F.col(self.vec_col).cast("array<double>").alias("v"),
        ).withColumn("v_norm", F.sqrt(_spark_dot("v", "v")))
        prepared = prepared.filter(F.col("v_norm") > 0)
        assigned = self._assign(
            prepared, self._codebook(spark), "vec_id", nprobe=1
        ).select("vec_id", F.col("cell").cast("int").alias("cell"), "v", "v_norm")
        return self.vectors_table.upsert_equality(spark, assigned, ["vec_id"])

    # -- search ------------------------------------------------------------
    def search(
        self,
        spark: SparkSession,
        queries: DataFrame,
        id_col: str = "q_id",
        k: int = 5,
        nprobe: int = 2,
    ) -> DataFrame:
        """(q_id, vec_id, cos_sim, rk): top-k per query over the probed
        cells only. The probed cells' partitions are read via per-cell
        pruned scans (pure-metadata planning; one scan per DISTINCT
        probed cell across the whole query batch, capped at the
        codebook size k)."""
        q = queries.select(
            F.col(id_col).alias("__qid"),
            F.col(self.vec_col).cast("array<double>").alias("v"),
        ).withColumn("v_norm", F.sqrt(_spark_dot("v", "v")))
        q = q.filter(F.col("v_norm") > 0)
        probes = self._assign(q, self._codebook(spark), "__qid", nprobe).select(
            F.col("__qid").cast("string").alias("q_id"),
            F.col("v").alias("q"),
            F.col("v_norm").alias("q_norm"),
            "cell",
        )
        cells = sorted(r["cell"] for r in probes.select("cell").distinct().collect())
        if not cells:
            return spark.createDataFrame(
                [], "q_id string, vec_id string, cos_sim double, rk int"
            )
        scans = [
            self.vectors_table.read(spark, source_predicate=("cell", c))
            for c in cells
        ]
        vectors = scans[0]
        for s in scans[1:]:
            vectors = vectors.unionByName(s)
        pairs = vectors.join(F.broadcast(probes), ["cell"]).filter(
            F.col("vec_id") != F.col("q_id")
        ).withColumn(
            "cos_sim",
            F.round(_spark_dot("v", "q") / (F.col("v_norm") * F.col("q_norm")), 4),
        )
        w = Window.partitionBy("q_id").orderBy(
            F.col("cos_sim").desc(), F.col("vec_id").asc()
        )
        return (
            pairs.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select("q_id", "vec_id", "cos_sim", "rk")
        )

    def pruned_file_count(self, cell: int) -> tuple[int, int]:
        """(files in this cell, total live files) — the pruning proof."""
        in_cell, _ = self.vectors_table.plan_files(source_predicate=("cell", cell))
        total, _ = self.vectors_table.plan_files()
        return len(in_cell), len(total)
