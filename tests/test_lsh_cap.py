"""Hot-bucket caps for LSH band joins (VERDICT r2 item 8).

The skew scenario: b near-identical rows land in ONE bucket, making the
band self-join produce ~b^2/2 candidate pairs. With the cap, buckets
over the limit are excluded from the join (and reported by the
hot-bucket helpers — the cut is observable, not silent), bounding the
worst bucket's contribution at cap^2 regardless of corpus skew.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hephaestus_spark.operators import similarity as sim
from hephaestus_spark.operators.textops import (
    minhash_candidate_pairs,
    minhash_hot_buckets,
    minhash_signature_table,
    shingle_table,
)


def _boilerplate_corpus(spark, n_hot=60):
    """n_hot identical docs (classic boilerplate skew: same shingles ->
    same min-hashes -> one bucket per table) + 2 distinct near-dup docs."""
    text = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, text) for i in range(n_hot)]
    rows += [
        (1000, "completely different words appear in this tiny document body"),
        (1001, "completely different words appear in this tiny document frame"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_cap_bounds_candidates(spark):
    corpus = _boilerplate_corpus(spark, n_hot=60)
    sig = minhash_signature_table(shingle_table(corpus, n=3), n_tables=4).persist()

    uncapped = minhash_candidate_pairs(sig, n_tables=4).count()
    assert uncapped >= 60 * 59 // 2  # the quadratic bomb is real

    hot = minhash_hot_buckets(sig, n_tables=4, cap=10).toPandas()
    assert len(hot) == 4  # one hot bucket per table
    assert (hot.bucket_rows == 60).all()

    capped = minhash_candidate_pairs(sig, n_tables=4, bucket_cap=10)
    pairs = capped.toPandas()
    # the boilerplate block is capped away; the rare near-dup pair survives
    assert (1000, 1001) in set(zip(pairs.id_a, pairs.id_b))
    assert len(pairs) <= 1  # nothing quadratic leaks through
    sig.unpersist()


def test_minhash_cap_pre_exclude_hot_equivalent(spark):
    """pre_exclude_hot=True (bounded agg state for pathological
    buckets) must produce exactly the same pairs as the default
    collect-then-filter path."""
    corpus = _boilerplate_corpus(spark, n_hot=60)
    sig = minhash_signature_table(shingle_table(corpus, n=3), n_tables=4).persist()
    a = (
        minhash_candidate_pairs(sig, n_tables=4, bucket_cap=10)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    b = (
        minhash_candidate_pairs(sig, n_tables=4, bucket_cap=10, pre_exclude_hot=True)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    assert a.equals(b)
    sig.unpersist()


def test_minhash_cap_noop_below_threshold(spark):
    corpus = _boilerplate_corpus(spark, n_hot=5)
    sig = minhash_signature_table(shingle_table(corpus, n=3), n_tables=4).persist()
    a = (
        minhash_candidate_pairs(sig, n_tables=4)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    b = (
        minhash_candidate_pairs(sig, n_tables=4, bucket_cap=10_000)
        .toPandas().sort_values(["id_a", "id_b"]).reset_index(drop=True)
    )
    assert a.equals(b)  # cap above every bucket -> identical result
    sig.unpersist()


def _clustered_vectors(spark, n_hot=50):
    """n_hot copies of one direction (one band bucket per band) plus a
    couple of distinct vectors."""
    base = [1.0] + [0.0] * 7
    other = [0.0] * 7 + [1.0]
    rows = [(i, base) for i in range(n_hot)]
    rows += [(2000, other), (2001, list(other))]
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_band_cap_bounds_and_reports(spark):
    e = _clustered_vectors(spark, n_hot=50)
    planes = sim.hyperplanes(n_bits=16, dim=8, seed=42)
    bands = sim.lsh_bands(sim.lsh_signature(e, planes))

    hot = sim.band_hot_buckets(bands, cap=10).toPandas()
    assert len(hot) >= 4  # the dense cluster fills (at least) its 4 bands
    assert (hot.bucket_rows >= 50).all()

    kept = sim.drop_hot_band_buckets(bands, cap=10)
    # every surviving bucket is within the cap
    sizes = kept.groupBy("band", "band_key").count().toPandas()
    assert (sizes["count"] <= 10).all()
    # the rare identical pair still collides in all its bands
    rare = kept.filter(F.col("vec_id") >= 2000)
    assert rare.count() == 8  # 2 vectors x 4 bands survive


def test_band_cap_noop_below_threshold(spark):
    e = _clustered_vectors(spark, n_hot=5)
    planes = sim.hyperplanes(n_bits=16, dim=8, seed=42)
    bands = sim.lsh_bands(sim.lsh_signature(e, planes))
    assert sim.drop_hot_band_buckets(bands, cap=10_000).count() == bands.count()


def test_pre_exclude_skips_anti_join_when_no_hot_buckets(spark):
    """r7: on a healthy corpus the hot set is empty, so the returned
    plan must contain NO anti-join stage — the pre-exclusion cost is
    one counting agg, not an extra join in the candidate path."""
    import hephaestus_spark.queries  # noqa: F401 — registration
    from hephaestus_spark.registry import QUERIES

    df = QUERIES["q33_near_dedup_jaccard"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan, plan[:2000]


def test_minhash_signature_scan_equivalent(spark):
    """r15: the zero-shuffle scan-side signature builder must be
    column-for-column identical to the explode->agg form on
    unique-id input — including hashed-shingle distinctness, all
    min-hash values, and absence of zero-shingle docs."""
    from hephaestus_spark.operators.textops import minhash_signature_scan

    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tomorrow"),
        (3, "completely different words appear in this document body"),
        (4, ""),  # zero shingles: absent from BOTH forms
        (5, "short text"),  # under the shingle width: also zero shingles
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    from hephaestus_spark.operators.textops import shingle_hash_table

    for hash_shingles in (False, True):
        # r16: the hashed family's table form is shingle_hash_table +
        # prehashed (token-window hashes); the string family keeps
        # shingle_table + hash_shingles. Scan and table forms of the
        # SAME family must agree column-for-column.
        if hash_shingles:
            agg = minhash_signature_table(
                shingle_hash_table(docs, n=3), n_tables=4, prehashed=True
            ).toPandas()
        else:
            agg = minhash_signature_table(
                shingle_table(docs, n=3), n_tables=4, hash_shingles=False
            ).toPandas()
        scan = minhash_signature_scan(
            docs, n=3, n_tables=4, hash_shingles=hash_shingles
        ).toPandas()
        assert sorted(agg.doc_id) == sorted(scan.doc_id) == [1, 2, 3]
        a = agg.set_index("doc_id").sort_index()
        s = scan.set_index("doc_id").sort_index()
        for i in range(4):
            assert list(a[f"mh{i}"]) == list(s[f"mh{i}"]), (hash_shingles, i)
        for d in a.index:
            assert sorted(a.loc[d, "shingles"]) == sorted(
                s.loc[d, "shingles"]
            ), (hash_shingles, d)


def test_first_match_pairs_equivalent_under_synthetic_hot_set(spark):
    """r15: first-matching-band emission with a NON-EMPTY hot set must
    equal the broadcast anti-join path's output — a pair whose
    earliest agreement is hot-excluded must still surface from its
    first SURVIVING table."""
    corpus = _boilerplate_corpus(spark, n_hot=60)
    sig = minhash_signature_table(
        shingle_table(corpus, n=3), n_tables=4
    ).persist()
    capped = minhash_candidate_pairs(
        sig, n_tables=4, bucket_cap=10, pre_exclude_hot=True
    ).toPandas()
    baseline = minhash_candidate_pairs(
        sig, n_tables=4, bucket_cap=10, pre_exclude_hot=False
    ).toPandas()
    assert set(zip(capped.id_a, capped.id_b)) == set(
        zip(baseline.id_a, baseline.id_b)
    )
    # and the hot path emitted each pair exactly once (distinct by
    # construction — no dedup stage to hide double emission)
    assert len(capped) == len(set(zip(capped.id_a, capped.id_b)))
    sig.unpersist()


def test_narrow_banding_recall_pin(spark):
    """r16: candidate banding keys on 32-bit hash(mh_i). A 32-bit
    collision can only MERGE buckets (extra candidates, discarded by
    the exact verify), never split them — so every pair sharing a
    64-bit min-hash value at some table MUST appear among candidates,
    on every path. Pins the recall direction of the narrowing. A
    single table (no earlier table to check on the first-match path)
    is one more input."""
    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(12):
        rows.append((i, base + f" tail{i % 3}"))  # 3 groups of near-dups
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    for n_tables in (4, 1):
        sig = minhash_signature_table(
            shingle_table(docs, n=3), n_tables=n_tables
        ).persist()
        sig_pd = sig.toPandas().set_index("doc_id")
        expected = set()
        ids = sorted(sig_pd.index)
        for x in ids:
            for y in ids:
                if x < y and any(
                    sig_pd.loc[x, f"mh{i}"] == sig_pd.loc[y, f"mh{i}"]
                    for i in range(n_tables)
                ):
                    expected.add((x, y))
        assert expected  # the corpus really has same-band pairs
        for kwargs in (
            {},
            {"bucket_cap": 10_000},
            {"bucket_cap": 10_000, "pre_exclude_hot": True},
        ):
            got = minhash_candidate_pairs(
                sig, n_tables=n_tables, **kwargs
            ).toPandas()
            got_pairs = set(zip(got.id_a, got.id_b))
            assert expected <= got_pairs, (
                n_tables, kwargs, expected - got_pairs
            )
        sig.unpersist()
