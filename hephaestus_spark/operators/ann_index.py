"""Persistent IVF-PQ ANN index on the transactional table layer (r8).

VERDICT r7 item 4 — compose the two r7 layers into the actual 100 TB
serving shape: the Faiss-style IVF-PQ index (operators/similarity.py)
stops being a per-query demo and becomes a VERSIONED, INCREMENTALLY
MAINTAINED table (sources/txlog.py), the way a production vector store
runs:

- ``build`` trains the PQ codebooks once, commits the MODEL (coarse
  centroids + codebook cube — ~10 KB of driver-sized state) into a
  model table, and commits the code rows partitioned BY CENTROID so
  each parquet file's zone map covers one (or few) inverted list(s);
- ``append`` encodes a new corpus slice with the COMMITTED model — no
  retraining, no touching existing files: the daily-ingest path is one
  scan over the delta plus one blind txlog append;
- ``search`` probes each query's ``n_probe`` nearest lists and reads
  the index through ``read_pruned(..., values=ids)`` on the probed
  centroid ids (the txlog file-skipping planner picks its route) —
  zone-map file skipping turns every probe into a partition-pruned
  scan, the property that makes a 100 TB index answer queries without
  scanning 100 TB;
- ``optimize`` is the ONLY place retraining happens (the Faiss/Delta
  division of labor): compact + recluster files by centroid, and
  optionally retrain codebooks on the current residuals, rewriting
  codes through the zone-pruned MERGE and committing the new model as
  the next model version (old versions stay readable — time travel
  covers the model too).

Everything deterministic end-to-end (seeded PQ init, first-minimum
tiebreaks), so search results are stable across sessions and the
oracled query (queries/similarity.py::x_txlog_ann_index) can pin
"pruned scan ≡ full scan" as a hashed boolean.

Reference parity note: the reference repo has no vector search; this
family belongs to the LLM-data-pipeline extension surface
(SURVEY.md §2 extensions), built from the public IVF/PQ literature
(Jegou et al.) and the public Delta protocol shape.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hephaestus_spark.operators import similarity as sim
from hephaestus_spark.sources.txlog import TxTable

_MODEL_SCHEMA = (
    "model_version INT, kind STRING, idx INT, code INT, vec ARRAY<DOUBLE>"
)


class TxAnnIndex:
    """An IVF-PQ index whose codes AND model live in txlog tables.

    ``path`` holds two transactional tables: ``codes`` (one row per
    corpus vector: id, centroid_id, raw vector, residual PQ codes) and
    ``model`` (centroid vectors + PQ codebook cells, versioned by
    ``model_version``). The model is model-sized by construction
    (n_lists + m*k rows) — collecting it to the driver is the same
    budgeted state the k-means/PQ trainers already hold."""

    def __init__(self, path: str, id_col: str = "vec_id", vec_col: str = "embedding"):
        self.codes = TxTable(os.path.join(path, "codes"))
        self.model = TxTable(os.path.join(path, "model"))
        self.id_col = id_col
        self.vec_col = vec_col

    # ---- model persistence ----
    def _commit_model(
        self, spark: SparkSession, centroids: DataFrame, codebooks: list, version: int
    ) -> None:
        cent_rows = [
            (version, "centroid", int(r["centroid_id"]), 0,
             [float(x) for x in r["centroid"]])
            for r in centroids.collect()
        ]
        pq_rows = [
            (version, "pq", j, c, [float(x) for x in codebooks[j][c]])
            for j in range(len(codebooks))
            for c in range(len(codebooks[j]))
        ]
        df = spark.createDataFrame(cent_rows + pq_rows, _MODEL_SCHEMA)
        # one small file per model version; the log is the index of them
        self.model.append(df.coalesce(1))

    def load_model(
        self, spark: SparkSession, model_version: int | None = None
    ) -> tuple[DataFrame, list, int]:
        """(centroids DF, codebook cube, model_version) — newest model
        unless pinned. Driver state: n_lists + m*k small rows."""
        rows = self.model.read(spark).collect()
        if model_version is None:
            model_version = max(r["model_version"] for r in rows)
        rows = [r for r in rows if r["model_version"] == model_version]
        cents = [
            (r["idx"], [float(x) for x in r["vec"]])
            for r in rows
            if r["kind"] == "centroid"
        ]
        # doubles in parquet hold the float32 centroids exactly; the
        # cast back to float is therefore a bit-exact round trip, so
        # assignments computed against the reloaded model equal the
        # build-time ones.
        centroids = spark.createDataFrame(
            sorted(cents), "centroid_id INT, centroid ARRAY<FLOAT>"
        )
        pq = sorted(
            (r["idx"], r["code"], [float(x) for x in r["vec"]])
            for r in rows
            if r["kind"] == "pq"
        )
        m = max(j for j, _, _ in pq) + 1
        cube = [[v for jj, _, v in pq if jj == j] for j in range(m)]
        return centroids, cube, model_version

    # ---- index lifecycle ----
    def _encode(
        self, corpus: DataFrame, centroids: DataFrame, codebooks: list
    ) -> DataFrame:
        assigned = sim.ivf_assign(
            corpus, centroids, id_col=self.id_col, vec_col=self.vec_col
        )
        rows = sim.ivfpq_encode(
            assigned, centroids, codebooks, id_col=self.id_col, vec_col=self.vec_col
        )
        # range-partition on the list id before staging: txlog commits
        # the writer's file layout 1:1, so this is what makes each
        # file's centroid_id zone narrow — the entire prune story.
        n_lists = centroids.count()
        return rows.repartitionByRange(int(n_lists), "centroid_id")

    def build(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        centroids: DataFrame,
        m: int = 8,
        k: int = 16,
        n_iter: int = 4,
    ) -> None:
        """Train on ``corpus`` residuals, commit model v0 + codes v0."""
        res = (
            sim.ivf_assign(corpus, centroids, id_col=self.id_col, vec_col=self.vec_col)
            .join(F.broadcast(centroids), "centroid_id")
            .withColumn(
                "residual",
                F.expr(
                    f"zip_with({self.vec_col}, centroid,"
                    " (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
                ),
            )
            .select(self.id_col, "residual")
        )
        cbs = sim.pq_train(
            res, m=m, k=k, n_iter=n_iter, id_col=self.id_col, vec_col="residual"
        )
        self._commit_model(spark, centroids, cbs, version=0)
        self.codes.append(self._encode(corpus, centroids, cbs))

    def append(self, spark: SparkSession, delta: DataFrame) -> int:
        """Incremental ingest: encode ``delta`` with the COMMITTED
        model — no retraining, no rewrite of existing files. Returns
        the new codes-table version."""
        centroids, cbs, _v = self.load_model(spark)
        return self.codes.append(self._encode(delta, centroids, cbs))

    def append_stream(
        self, spark: SparkSession, delta: DataFrame, app_id: str, batch_id: int
    ) -> int | None:
        """Streaming ingest (r8): the foreachBatch body for keeping
        the index current off a live feed — encode with the committed
        model, land through the exactly-once (app, batch) txn commit.
        A redelivered micro-batch after a restart indexes nothing
        twice. Returns the committed version, or None for a replay."""
        centroids, cbs, _v = self.load_model(spark)
        return self.codes.append_stream_batch(
            self._encode(delta, centroids, cbs), app_id, batch_id
        )

    # ---- serving ----
    def probed_centroids(
        self,
        spark: SparkSession,
        queries: DataFrame,
        n_probe: int = 2,
        model: tuple | None = None,
    ) -> tuple[DataFrame, list[int]]:
        """(per-query probe assignments, distinct probed list ids).
        The id list is driver-side and bounded by n_queries * n_probe
        (a serving batch, not the corpus)."""
        centroids, _cbs, _v = model or self.load_model(spark)
        probes = sim.ivf_assign(
            queries, centroids, id_col=self.id_col, vec_col=self.vec_col,
            n_probe=n_probe,
        )
        ids = sorted(
            r["centroid_id"]
            for r in probes.select("centroid_id").distinct().collect()
        )
        return probes, ids

    def search(
        self,
        spark: SparkSession,
        queries: DataFrame,
        n_probe: int = 2,
        k_final: int = 5,
        rerank: int = 50,
        pruned: bool = True,
    ) -> DataFrame:
        """ADC top-k over the PERSISTED index. ``pruned=True`` reads
        only files whose zone map overlaps a probed list id;
        ``pruned=False`` scans every live file (same plan downstream —
        the oracled query proves the two return identical rows)."""
        model = self.load_model(spark)
        centroids, cbs, _v = model
        probes, ids = self.probed_centroids(spark, queries, n_probe, model=model)
        index = (
            self.codes.read_pruned(spark, "centroid_id", values=ids)
            if pruned
            else self.codes.read(spark)
        )
        return sim.ivfpq_topk(
            index, probes, centroids, cbs,
            k_final=k_final, rerank=rerank,
            id_col=self.id_col, vec_col=self.vec_col,
        )

    # ---- maintenance ----
    def optimize(
        self,
        spark: SparkSession,
        retrain: bool = False,
        m: int = 8,
        k: int = 16,
        n_iter: int = 4,
    ) -> int:
        """Compact + recluster code files by centroid_id (restoring
        tight zone maps after many appends). With ``retrain=True`` this
        is also the ONLY retraining site: new codebooks are fit on the
        current snapshot's residuals, every row's codes are re-encoded,
        and the new model lands as the next model_version. Returns the
        model version serving after the call."""
        centroids, _old, v = self.load_model(spark)
        n_lists = centroids.count()
        if retrain:
            corpus = self.codes.read(spark).select(self.id_col, self.vec_col)
            self.build_retrain(spark, corpus, centroids, m, k, n_iter, v + 1)
            return v + 1
        self.codes.optimize(
            spark, target_files=int(n_lists), cluster_by="centroid_id"
        )
        return v

    def build_retrain(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        centroids: DataFrame,
        m: int,
        k: int,
        n_iter: int,
        version: int,
    ) -> None:
        res = (
            sim.ivf_assign(corpus, centroids, id_col=self.id_col, vec_col=self.vec_col)
            .join(F.broadcast(centroids), "centroid_id")
            .withColumn(
                "residual",
                F.expr(
                    f"zip_with({self.vec_col}, centroid,"
                    " (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"
                ),
            )
            .select(self.id_col, "residual")
        )
        cbs = sim.pq_train(
            res, m=m, k=k, n_iter=n_iter, id_col=self.id_col, vec_col="residual"
        )
        self._commit_model(spark, centroids, cbs, version=version)
        # full re-encode lands through the same MERGE the SCD path
        # uses: unchanged rows rewrite nothing beyond their files
        # compare_cols also carry the raw vector: txlog.merge writes
        # only key+compare columns into the rows it inserts or updates,
        # and the rerank path needs it
        self.codes.merge(
            spark,
            self._encode(corpus, centroids, cbs),
            key=self.id_col,
            compare_cols=["centroid_id", self.vec_col, "pq_codes"],
        )
        self.codes.optimize(
            spark, target_files=int(centroids.count()), cluster_by="centroid_id"
        )
