"""TxAnnIndex: the IVF-PQ index persisted on the txlog layer (r8).

What must hold (and a bug would break):
- incremental appends encode with the COMMITTED model (model version
  does not move) and the appended vectors are immediately searchable —
  an exact duplicate planted in the delta must come back as the top
  match of its twin;
- the pruned (zone-map file-skipping) search returns IDENTICAL rows
  to the full-scan search while genuinely skipping files;
- optimize(retrain=True) is the only retraining site: it bumps the
  model version, rewrites codes, and search still works (dup recall
  and pruned≡full hold on the new model);
- old model versions remain loadable (time travel covers the model).
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from hephaestus_spark.operators.ann_index import TxAnnIndex
from hephaestus_spark.queries.similarity import label_centroids
from hephaestus_spark.sources import load_table


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    full = load_table(spark, sf_dir, "embeddings")
    initial = full.filter(F.col("vec_id") % 5 != 0)
    delta = full.filter(F.col("vec_id") % 5 == 0).select("vec_id", "embedding")
    return full, initial, delta


@pytest.fixture()
def index(spark, tmp_path, corpus):
    _full, initial, delta = corpus
    idx = TxAnnIndex(str(tmp_path / "ann"))
    idx.build(
        spark, initial.select("vec_id", "embedding"),
        label_centroids(initial), m=8, k=16, n_iter=2,
    )
    idx.append(spark, delta)
    return idx


def test_append_uses_committed_model_and_is_searchable(spark, index, corpus):
    full, initial, delta = corpus
    # model untouched by the append: only version 0 exists
    _c, _cbs, v = index.load_model(spark)
    assert v == 0
    assert index.model.latest_version() == 0  # one model commit
    assert index.codes.latest_version() == 1  # build + append
    # plant a twin: query with a vector whose exact duplicate lives in
    # the DELTA slice — the dup must be the top hit (cosine 1.0 beats
    # everything else on this synthetic data)
    twin_id = delta.select(F.min("vec_id")).first()[0]
    probe = delta.filter(F.col("vec_id") == twin_id).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    hits = index.search(spark, probe, n_probe=2, k_final=3).collect()
    assert hits[0]["vec_id"] == twin_id
    assert hits[0]["cos_sim"] == pytest.approx(1.0, abs=1e-9)


def test_pruned_search_equals_full_and_skips_files(spark, index, corpus):
    full, _initial, _delta = corpus
    queries = full.select("vec_id", "embedding").filter(
        F.col("vec_id").between(0, 2)
    )
    _probes, ids = index.probed_centroids(spark, queries, n_probe=2)
    kept, total = index.codes.pruned_files("centroid_id", values=ids)
    assert total >= 5
    assert 0 < len(kept) < total, f"no pruning: {len(kept)}/{total}"
    pr = sorted(map(tuple, index.search(spark, queries, pruned=True).collect()))
    fl = sorted(map(tuple, index.search(spark, queries, pruned=False).collect()))
    assert pr == fl
    assert len(pr) == 3 * 5  # k_final=5 rows per query


def test_optimize_retrain_bumps_model_and_search_survives(spark, index, corpus):
    full, _initial, delta = corpus
    n_before = index.codes.read(spark).count()
    new_v = index.optimize(spark, retrain=True, m=8, k=16, n_iter=2)
    assert new_v == 1
    _c, _cbs, served = index.load_model(spark)
    assert served == 1
    # old model still loadable (time travel over the model table)
    _c0, cbs0, v0 = index.load_model(spark, model_version=0)
    assert v0 == 0 and len(cbs0) == 8
    # no rows gained or lost by the re-encode merge + clustered compact
    assert index.codes.read(spark).count() == n_before
    # search on the retrained index: twin recall and pruned≡full hold
    twin_id = delta.select(F.min("vec_id")).first()[0]
    probe = delta.filter(F.col("vec_id") == twin_id).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
    )
    hits = index.search(spark, probe, n_probe=2, k_final=3).collect()
    assert hits[0]["vec_id"] == twin_id
    queries = full.select("vec_id", "embedding").filter(
        F.col("vec_id").between(0, 2)
    )
    pr = sorted(map(tuple, index.search(spark, queries, pruned=True).collect()))
    fl = sorted(map(tuple, index.search(spark, queries, pruned=False).collect()))
    assert pr == fl


def test_clustered_compact_restores_prune_rate(spark, index, corpus):
    full, _initial, _delta = corpus
    # after build+append the live set is two ranged file batches; a
    # plain clustered OPTIMIZE folds them into n_lists files with
    # DISJOINT centroid zones — a single-list probe then reads ~1/n
    index.optimize(spark, retrain=False)
    one_list = [index.codes.read(spark).select(F.min("centroid_id")).first()[0]]
    kept, total = index.codes.pruned_files("centroid_id", values=one_list)
    assert total >= 5
    assert len(kept) <= max(2, total // 3), (len(kept), total)
