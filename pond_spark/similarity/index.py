"""Persisted IVF index: inverted lists as parquet partitions.

The in-query IVF path (similarity/ivf.py) re-trains and re-assigns on
every call — right for one-shot dedup jobs, wrong for a serving-style
workload where the corpus is written once and searched many times. An
index materializes the expensive parts exactly once:

- ``build()`` trains the coarse quantizer (deterministic Lloyd over a
  bounded sample, ivf.py:36), assigns every vector, and writes the
  corpus ``partitionBy("ivf_list")`` with the per-vector norm
  precomputed; centroids land next to the data as JSON.
- ``search()`` reads ONLY the ``nprobe`` probed lists: the
  ``ivf_list IN (...)`` predicate is a partition filter, so Spark
  never opens the other directories (plan-asserted in
  tests/test_similarity.py). Scoring reuses the stored norm — one dot
  fold per candidate.

Scale notes (100 TB): search cost is data-proportional to
``nprobe/n_centroids`` of the corpus — with √N lists the scan per
query is O(√N)·nprobe rows. Lists are directories, so adding vectors
is an append + (rare) re-train; a skewed list shows up as an oversized
directory, the same observable as any hot partition. The driver-side
centroid JSON is n_centroids × dim floats — KBs at √N scale (the
LAION-440M SemDeDup config is 50k × 768 ≈ 300 MB, still
driver-loadable; beyond that the quantizer itself should be a small
parquet table and the assignment a broadcast join, which this layout
already matches).

No counterpart in the reference (pond has no vector surface); the
layout mirrors FAISS IndexIVFFlat re-expressed as parquet partitioning
(Johnson et al. 2017, "Billion-scale similarity search with GPUs").

With ``pq_m`` set, ``build()`` additionally trains per-subspace PQ
codebooks (similarity/pq.py) and stores the m-byte ``pq_code`` next to
each vector — FAISS IndexIVFPQ: ``search_adc()`` prunes to the probed
partitions, ranks candidates from the CODE COLUMN ALONE (parquet
column pruning means the shortlist stage never reads the 32x-larger
vector column), then re-ranks ``refine*k`` ids exactly.
"""

from __future__ import annotations

import json
import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pond_spark.catalog import _fs_for, read_replaced_text, replace_text
from pond_spark.similarity.brute import _dot, _norm, _safe_cos_div
from pond_spark.similarity.ivf import (
    ivf_assign,
    probe_lists,
    train_centroids,
)

__all__ = ["build_ivf_index", "IVFIndex"]

_META = "_ivf_meta.json"


def build_ivf_index(
    df: DataFrame,
    path: str,
    n_centroids: int = 16,
    iters: int = 5,
    sample_n: int = 2048,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: list[list[float]] | None = None,
    pq_m: int | None = None,
    pq_ksub: int = 16,
    pq_codebooks: list[list[list[float]]] | None = None,
) -> "IVFIndex":
    """Train, assign, and write ``df`` as an IVF-partitioned table.
    ``pq_m`` adds a PQ code column (IVFPQ) for ADC search."""
    if centroids is None:
        centroids = train_centroids(
            df, n_centroids, iters, sample_n, vec_col, id_col
        )
    assigned = ivf_assign(df, centroids, vec_col).withColumn(
        "_vnorm", _norm(F.col(vec_col))
    )
    if pq_m is not None and pq_codebooks is None:
        from pond_spark.similarity.pq import train_pq

        pq_codebooks = train_pq(
            df, pq_m, pq_ksub, iters, sample_n, vec_col, id_col
        )
    if pq_codebooks is not None:
        from pond_spark.similarity.pq import encode_expr

        assigned = assigned.withColumn(
            "pq_code", encode_expr(F.col(vec_col), pq_codebooks)
        )
    # one shuffle keyed on the list id keeps each directory to a few
    # writer tasks instead of one small file per input task per list
    assigned.repartition("ivf_list").write.mode("overwrite").partitionBy(
        "ivf_list"
    ).parquet(path)
    meta = {
        "vec_col": vec_col,
        "id_col": id_col,
        "centroids": centroids,
        "pq_codebooks": pq_codebooks,
    }
    fs = _fs_for(df.sparkSession, path)
    replace_text(fs, os.path.join(path, _META), json.dumps(meta))
    return IVFIndex(df.sparkSession, path)


class IVFIndex:
    """Handle over a built index directory; see module docstring."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        fs = _fs_for(spark, path)
        meta = json.loads(read_replaced_text(fs, os.path.join(path, _META)))
        self.centroids: list[list[float]] = meta["centroids"]
        self.vec_col: str = meta["vec_col"]
        self.id_col: str = meta["id_col"]
        self.pq_codebooks: list[list[list[float]]] | None = meta.get(
            "pq_codebooks"
        )

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def append(self, df: DataFrame) -> None:
        """Incremental maintenance: assign new vectors with the STORED
        quantizer (+ stored PQ codebooks when present) and append them
        to their list directories — no retrain, no rewrite of existing
        lists. At 100 TB this is the steady-state ingest path; retrain
        (a fresh ``build_ivf_index``) only when drift makes the list
        sizes lopsided."""
        assigned = ivf_assign(df, self.centroids, self.vec_col).withColumn(
            "_vnorm", _norm(F.col(self.vec_col))
        )
        if self.pq_codebooks is not None:
            from pond_spark.similarity.pq import encode_expr

            assigned = assigned.withColumn(
                "pq_code", encode_expr(F.col(self.vec_col), self.pq_codebooks)
            )
        assigned.repartition("ivf_list").write.mode("append").partitionBy(
            "ivf_list"
        ).parquet(self.path)

    def compact(self, target_file_bytes: int = 64 * 1024 * 1024) -> dict:
        """Merge the small files ``append`` accumulates: any list
        directory holding more files than its bytes warrant is
        rewritten to ceil(bytes/target) files. Reuses the
        compact_partition_dirs skeleton shared with LogStore.compact
        (dynamic partition overwrite — untouched lists keep their
        files); returns {list_id: files_removed}."""
        from pond_spark.util import compact_partition_dirs

        def rewrite(lid: str, ldir: str, want: int) -> None:
            df = self.spark.read.parquet(ldir)
            (
                df.repartition(want)
                .withColumn("ivf_list", F.lit(int(lid)))
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("ivf_list")
                .parquet(self.path)
            )

        report = compact_partition_dirs(
            self.spark, self.path, "ivf_list=*", rewrite, target_file_bytes
        )
        return {int(k): v for k, v in report.items()}

    def _empty_result(self) -> DataFrame:
        """Zero-row (id, cosine) frame with the STORED id type, so the
        zero-query branch unions cleanly with real results."""
        from pyspark.sql import types as T

        id_field = next(
            f for f in self.read().schema.fields if f.name == self.id_col
        )
        return self.spark.createDataFrame(
            [],
            T.StructType(
                [id_field, T.StructField("cosine", T.DoubleType())]
            ),
        )

    def search(
        self, query_vec: Sequence[float], k: int = 10, nprobe: int = 4
    ) -> DataFrame:
        """Cosine top-k over the ``nprobe`` nearest inverted lists.

        ``ivf_list`` is a partition column, so the IN-filter prunes
        directories before any file IO; the stored ``_vnorm`` turns
        per-candidate scoring into a single dot fold."""
        qnorm = sum(float(v) * float(v) for v in query_vec) ** 0.5
        if qnorm == 0.0:
            # a zero query has no cosine to ANY vector; the in-query
            # twin (ivf_topk) filters these to empty via the NULL-safe
            # divide — coercing qnorm to 1.0 here would fabricate k
            # arbitrary rows scored 0.0 (r6 review finding)
            return self._empty_result()
        probes = probe_lists(self.centroids, query_vec, nprobe)
        qlit = F.array(*[F.lit(float(v)) for v in query_vec])
        return (
            self.read()
            .filter(F.col("ivf_list").isin(probes))
            .select(
                F.col(self.id_col),
                F.round(
                    _safe_cos_div(
                        _dot(F.col(self.vec_col), qlit),
                        F.col("_vnorm") * F.lit(qnorm),
                    ),
                    6,
                ).alias("cosine"),
            )
            .filter(F.col("cosine").isNotNull())
            .orderBy(F.col("cosine").desc(), F.col(self.id_col).asc())
            .limit(k)
        )

    def search_adc(
        self,
        query_vec: Sequence[float],
        k: int = 10,
        nprobe: int = 4,
        refine: int = 5,
    ) -> DataFrame:
        """IVFPQ search: partition-pruned ADC shortlist from the code
        column alone (column pruning — the vector column is never read
        in the ranking scan), exact re-rank of ``refine*k`` ids using
        the stored vectors + norms."""
        if self.pq_codebooks is None:
            raise ValueError(
                "index was built without PQ codes — build with pq_m set "
                "to enable search_adc, or use search() for IVF-Flat"
            )
        from pond_spark.similarity.pq import adc_cosine_expr

        probes = probe_lists(self.centroids, query_vec, nprobe)
        pruned = self.read().filter(F.col("ivf_list").isin(probes))
        short = (
            pruned.select(
                F.col(self.id_col),
                adc_cosine_expr(
                    F.col("pq_code"), self.pq_codebooks, query_vec
                ).alias("adc"),
            )
            .orderBy(F.col("adc").desc(), F.col(self.id_col).asc())
            .limit(refine * k)
        )
        qnorm = sum(float(v) * float(v) for v in query_vec) ** 0.5
        if qnorm == 0.0:
            return self._empty_result()  # same rule as search()
        qlit = F.array(*[F.lit(float(v)) for v in query_vec])
        return (
            pruned.join(short.select(self.id_col), self.id_col)
            .select(
                F.col(self.id_col),
                F.round(
                    _safe_cos_div(
                        _dot(F.col(self.vec_col), qlit),
                        F.col("_vnorm") * F.lit(qnorm),
                    ),
                    6,
                ).alias("cosine"),
            )
            .filter(F.col("cosine").isNotNull())
            .orderBy(F.col("cosine").desc(), F.col(self.id_col).asc())
            .limit(k)
        )
