"""Hot-bucket caps for LSH band joins (VERDICT r2 item 8), and the one
MinHash candidate path checked against a pure-Python reference.

The skew scenario: b near-identical rows land in ONE bucket, making the
band self-join produce ~b^2/2 candidate pairs. With the cap, buckets
over the limit are excluded from the join (and reported by the
hot-bucket helpers — the cut is observable, not silent), bounding the
worst bucket's contribution at cap^2 regardless of corpus skew.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from hephaestus_spark.operators import similarity as sim
from hephaestus_spark.operators import textops
from hephaestus_spark.operators.textops import (
    JACCARD_THRESHOLD,
    LSH_BUCKET_CAP,
    minhash_candidate_pairs,
    minhash_hot_buckets,
    minhash_probe_pairs,
    minhash_signature_table,
    shingle_table,
)

_BOILERPLATE = "the quick brown fox jumps over the lazy dog again and again today"


def _boilerplate_corpus(spark, n_hot=60, n_late=0):
    """n_hot identical docs (classic boilerplate skew: same shingles ->
    same min-hashes -> one bucket per table) + 2 distinct near-dup docs
    + ``n_late`` copies (ids 500..) of a boilerplate variant that shares
    the boilerplate's min-hashes at tables 0-2 but not at table 3."""
    variant = "near a quiet river bank at dawn " + _BOILERPLATE[10:]
    rows = [(i, _BOILERPLATE) for i in range(n_hot)]
    rows += [(500 + i, variant) for i in range(n_late)]
    rows += [
        (1000, "completely different words appear in this tiny document body"),
        (1001, "completely different words appear in this tiny document frame"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _near_dup_groups(spark):
    """12 docs in 3 groups of near-duplicates (same shingle-set size)."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [(i, base + f" tail{i % 3}") for i in range(12)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _bands(sig, n_tables):
    """{id: (shingle-set size, [hash(mh_i) per table])} collected from
    a signature table — the 32-bit band values the candidate paths
    bucket on."""
    rows = sig.select(
        "doc_id",
        F.size("shingles").alias("n"),
        *[F.hash(f"mh{i}").alias(f"b{i}") for i in range(n_tables)],
    ).collect()
    return {
        r["doc_id"]: (r["n"], [r[f"b{i}"] for i in range(n_tables)])
        for r in rows
    }


def _reference_pairs(left, right, n_tables, cap):
    """Pure-Python candidate set: (x, y), x from ``left`` and y from
    ``right`` (x < y when both are the same table), sharing some (t, v)
    bucket of 2..cap docs and passing the AllPairs length bound at the
    verify threshold. Bucket sizes count both sides."""
    sizes = Counter(
        (t, bands[t])
        for _, bands in {**left, **right}.values()
        for t in range(n_tables)
    )

    def length_ok(na, nb):
        mn = min(na, nb)
        return mn * 1.0 / (na + nb - mn) >= JACCARD_THRESHOLD

    return {
        (x, y)
        for x, (nx, bx) in left.items()
        for y, (ny, by) in right.items()
        if (x < y if left is right else True)
        and length_ok(nx, ny)
        and any(
            bx[t] == by[t] and 2 <= sizes[(t, bx[t])] <= cap
            for t in range(n_tables)
        )
    }


def _pairs_once(df, cols):
    """Collected pairs as a set, asserting each is emitted exactly once
    and that the plan has no dedup stage to hide double emission."""
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "Deduplicate" not in plan, plan[:2000]
    got = [tuple(r) for r in df.select(*cols).collect()]
    assert len(got) == len(set(got)), "a pair was emitted twice"
    return set(got)


def test_minhash_cap_bounds_candidates(spark, monkeypatch):
    corpus = _boilerplate_corpus(spark, n_hot=60)
    sig = minhash_signature_table(shingle_table(corpus, n=3), n_tables=4).persist()

    below_cap = minhash_candidate_pairs(sig, n_tables=4).count()
    assert below_cap >= 60 * 59 // 2  # the quadratic bomb is real

    monkeypatch.setattr(textops, "LSH_BUCKET_CAP", 10)
    hot = minhash_hot_buckets(sig, n_tables=4).toPandas()
    assert len(hot) == 4  # one hot bucket per table
    assert (hot.bucket_rows == 60).all()

    capped = minhash_candidate_pairs(sig, n_tables=4)
    pairs = capped.toPandas()
    # the boilerplate block is capped away; the rare near-dup pair survives
    assert (1000, 1001) in set(zip(pairs.id_a, pairs.id_b))
    assert len(pairs) <= 1  # nothing quadratic leaks through
    sig.unpersist()


def test_candidate_pairs_match_reference(spark, monkeypatch):
    """The one candidate path equals the pure-Python reference, each
    pair emitted once: with no hot set, with a non-empty hot set (cap
    10), and with a single table. Docs 500-502 agree with the
    boilerplate at tables 0-2 (hot under cap 10) and only with each
    other at table 3, so their pairs must surface from table 3."""
    corpus = _boilerplate_corpus(spark, n_hot=60, n_late=3)
    for n_tables, cap in ((4, 10_000), (4, 10), (1, 10_000)):
        monkeypatch.setattr(textops, "LSH_BUCKET_CAP", cap)
        sig = minhash_signature_table(
            shingle_table(corpus, n=3), n_tables=n_tables
        ).persist()
        bands = _bands(sig, n_tables)
        expected = _reference_pairs(bands, bands, n_tables, cap)
        got = _pairs_once(
            minhash_candidate_pairs(sig, n_tables=n_tables), ["id_a", "id_b"]
        )
        assert got == expected, (n_tables, cap, got ^ expected)
        if cap == 10 and n_tables == 4:
            assert expected == {(1000, 1001), (500, 501), (500, 502), (501, 502)}
            assert all(bands[500][1][t] == bands[0][1][t] for t in range(3))
        sig.unpersist()


def test_probe_pairs_match_reference(spark):
    """minhash_probe_pairs equals the same reference, one-sided: each
    (batch, corpus) pair sharing a band and passing the length bound,
    emitted once. Batch doc 200 extends a corpus doc by six tokens, so
    it shares bands with it but fails the length bound."""
    corpus_docs = _near_dup_groups(spark)
    batch_docs = corpus_docs.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + 100).alias("doc_id"), "text"
    ).union(
        corpus_docs.filter(F.col("doc_id") == 1).select(
            F.lit(200).cast("long").alias("doc_id"),
            F.concat("text", F.lit(" one two three four five six")).alias("text"),
        )
    )
    corpus_sig = minhash_signature_table(shingle_table(corpus_docs, n=3), n_tables=4)
    batch_sig = minhash_signature_table(shingle_table(batch_docs, n=3), n_tables=4)
    batch, corpus = _bands(batch_sig, 4), _bands(corpus_sig, 4)
    expected = _reference_pairs(batch, corpus, 4, LSH_BUCKET_CAP)
    assert expected
    assert any(a == b for a, b in zip(batch[200][1], corpus[1][1]))
    assert not any(x == 200 for x, _ in expected)
    got = _pairs_once(
        minhash_probe_pairs(batch_sig, corpus_sig, n_tables=4),
        ["batch_id", "corpus_id"],
    )
    assert got == expected, got ^ expected


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
    """On a healthy corpus the hot set is empty, so the returned plan
    must contain no masking join — the hot-set cost is one counting
    agg, not an extra join in the candidate path."""
    import hephaestus_spark.queries  # noqa: F401 — registration
    from hephaestus_spark.registry import QUERIES

    df = QUERIES["q33_near_dedup_jaccard"](spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan, plan[:2000]
    assert "LeftOuter" not in plan, plan[:2000]


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


def test_narrow_banding_recall_pin(spark):
    """Candidate banding keys on 32-bit hash(mh_i). A 32-bit collision
    can only MERGE buckets (extra candidates, discarded by the exact
    verify), never split them — so every pair sharing a 64-bit min-hash
    value at some table MUST appear among candidates. Pins the recall
    direction of the narrowing, with 4 tables and with a single table
    (no earlier table to check)."""
    docs = _near_dup_groups(spark)
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
        got = minhash_candidate_pairs(sig, n_tables=n_tables).toPandas()
        got_pairs = set(zip(got.id_a, got.id_b))
        assert expected <= got_pairs, (n_tables, expected - got_pairs)
        sig.unpersist()
