"""Near-duplicate detection: SURVEY.md §2.B Q33 + SimHash extension.

Strategy (the scale story):
- The registered q33 pipeline IS the scale composition: min-hash
  signatures (xxhash64, fixed salts) -> banded (table, value)
  equi-join for candidates -> exact-Jaccard verify on candidates only.
  Bucket size bounds the join fan-out; a raw shingle inverted-index
  self-join would instead fan out quadratically on hot boilerplate
  shingles (the classic skew bomb). The oracle checks the exact
  verified output: recall loss is bounded at 0.2^8 per true pair, and
  the fixed hash family makes the result deterministic.
- x_minhash_lsh keeps the pyspark.ml MinHashLSH variant of the
  candidate stage (rows-only: its recall is probabilistic by design).

The test corpus has no near-duplicates, so both engines synthesize the
same ones: every doc_id % 7 == 0 document re-ingested with a 4-token
suffix (id + 2000000) — Jaccard (w-4)/w >= 0.8 whenever the doc has
>= 20 tokens, giving a varied positive set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hephaestus_spark.operators.textops import (
    jaccard_verify,
    minhash_candidate_pairs,
    minhash_probe_pairs,
    minhash_signature_scan,
    minhash_signature_table,
    shingle_hash_table,
    shingle_table,
    simhash_signatures,
)
from hephaestus_spark.registry import query
from hephaestus_spark.sources import load_table

_SUFFIX = " near duplicate suffix tail"

_NEAR_CORPUS_DUCK = f"""
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text || '{_SUFFIX}' AS text
    FROM documents WHERE doc_id % 7 = 0
"""

_TOKENS_DUCK = (
    "list_filter(string_split(regexp_replace(lower(text), '[^a-z ]', ' ', 'g'), ' '),"
    " t -> t <> '')"
)


def _near_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_SUFFIX)).alias("text"),
    )
    return d.union(dup)


@query(
    "q33_near_dedup_jaccard",
    oracle=f"""
    WITH corpus AS ({_NEAR_CORPUS_DUCK}),
    shingled AS (
      SELECT doc_id, UNNEST(list_distinct(
        list_transform(range(1, greatest(len({_TOKENS_DUCK}) - 3, 1)),
                       i -> array_to_string(list_slice({_TOKENS_DUCK}, CAST(i AS INTEGER), CAST(i + 4 AS INTEGER)), ' '))
      )) AS shingle
      FROM corpus
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
      FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    """,
)
def q33_near_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup composed the way it must run at corpus scale:
    MinHashLSH candidate generation -> exact-Jaccard verify on the
    candidates ONLY.

    The candidate join is the banded minhash-bucket equi-join
    (approxSimilarityJoin), whose fan-out is bounded by band-bucket
    size — never the raw shingle inverted-index self-join, whose
    fan-out is quadratic in the count of docs sharing one hot
    boilerplate shingle. The verify stage computes exact Jaccard per
    candidate pair via array_intersect on the true shingle sets (a
    per-row op, no further shuffle), so the emitted (id_a, id_b,
    jaccard) rows are exact.

    Recall: a true pair at Jaccard >= 0.8 escapes all 8 min-hash
    tables with prob 0.2^8 ~ 2.6e-6, and the hash family is fixed
    (xxhash64 salted by table index), so the result is deterministic
    run-to-run. The jaccard ratio is int/int division — bit-identical
    across engines (single IEEE divide, no accumulation).

    Candidates come from ``minhash_candidate_pairs``: each pair is
    emitted once, from its first shared bucket, and only if its
    shingle-set sizes can still reach the 0.8 verify threshold (the
    AllPairs length bound). Buckets over ``LSH_BUCKET_CAP`` (10k docs)
    are masked out — at 100 TB a degenerate boilerplate/empty-doc
    bucket of millions of rows is the norm, and each costs b^2 pairs —
    and ``minhash_hot_buckets`` reports them, so the cut is never
    silent. The hot set is empty on the oracle test corpora (far
    fewer than 10k docs share any band there), so no masking join is
    planned and the oracle, which models no cap, is unchanged
    (tests/test_scale_trend.py exercises a genuinely skewed corpus)."""
    corpus = _near_corpus(spark, sf_dir)
    # r15: ZERO-shuffle signatures — doc_ids are unique per corpus
    # row, so shingle sets and all 8 min-hashes are scan-side array
    # expressions (minhash_signature_scan); the old explode->groupBy
    # shuffled every (doc, shingle) pair for a per-row no-op agg.
    # Persisted: consumed by candidate generation and twice by the
    # verify joins. Shingles stored as 64-bit hashes: same Jaccard
    # (collision odds ~1e-13/doc, deterministic on fixed data), 3x
    # smaller state.
    sig = minhash_signature_scan(
        corpus, n=5, n_tables=8, hash_shingles=True
    ).persist()
    cand = minhash_candidate_pairs(sig, n_tables=8)
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    # r15: jaccard_verify pins array_intersect to ONE evaluation per
    # pair (the filter-into-join plan recomputed it up to 5x) — see
    # operators/textops.py for the measured plan pathology.
    return jaccard_verify(
        cand.join(sa, "id_a").join(sb, "id_b"), ["id_a", "id_b"]
    )


@query("x_minhash_lsh")  # rows-only: LSH recall is probabilistic by design
def q33_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHashLSH candidate pairs (fixed seed), exact-distance filtered.

    Pipeline: shingles -> HashingTF (2^18 sparse vectors) -> MinHashLSH
    (16 tables, seed=42) -> approxSimilarityJoin at Jaccard distance
    <= 0.2. At scale the band join bounds candidate fan-out regardless
    of corpus size; the exact verify then runs only on candidates."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    corpus = _near_corpus(spark, sf_dir)
    sh = (
        shingle_table(corpus, n=5)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shingles"))
    )
    tf = HashingTF(inputCol="shingles", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(sh).filter(F.expr("size(shingles) > 0"))
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=16, seed=42)
    model = lsh.fit(feats)
    pairs = model.approxSimilarityJoin(feats, feats, 0.2, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("id_a"),
            F.col("datasetB.doc_id").alias("id_b"),
            (1 - F.col("jaccard_dist")).alias("jaccard_est"),
        )
    )


@query("x_simhash")  # rows-only: engine-specific 64-bit hash in signatures
def x_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures + band keys for near-dup blocking.

    Per doc: xxhash64 each token, majority-vote each bit position,
    reassemble a 64-bit signature, emit 4 16-bit bands. Docs sharing a
    band key are Hamming-distance candidates — the banding turns
    pairwise comparison into an equi-join, which is what survives at
    corpus scale. Pure built-ins: explode + narrow-int agg + bit ops.

    The implementation (operators/textops.py simhash_signatures) packs
    3 bit-counters per 64-bit sum as 21-bit lanes — 22 long sums
    instead of 64, the r4 10x bench win — exact to 2,097,151 tokens/doc
    with deterministic prefix truncation beyond (r5 overflow guard;
    test_simhash.py asserts packed == unpacked per-bit reference on a
    70k-token doc and prefix semantics at the cap)."""
    d = load_table(spark, sf_dir, "documents")
    out = simhash_signatures(d).drop("n_tok")
    return out.select(
        "doc_id",
        "simhash",
        *[
            F.expr(f"(simhash >> {16 * band}) & 65535").cast("int").alias(f"band{band}")
            for band in range(4)
        ],
    )


_PAIRS_DUCK = f"""
    corpus AS ({_NEAR_CORPUS_DUCK}),
    shingled AS (
      SELECT doc_id, UNNEST(list_distinct(
        list_transform(range(1, greatest(len({_TOKENS_DUCK}) - 3, 1)),
                       i -> array_to_string(list_slice({_TOKENS_DUCK}, CAST(i AS INTEGER), CAST(i + 4 AS INTEGER)), ' '))
      )) AS shingle
      FROM corpus
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
      FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    )
"""


@query(
    "x_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE {_PAIRS_DUCK},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS id, v AS r FROM edges
      UNION
      SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
    )
    SELECT id AS doc_id,
           least(id, min(r)) AS cluster_id,
           id = least(id, min(r)) AS is_canonical
    FROM reach GROUP BY id
    """,
)
def x_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIRS -> dedup CLUSTERS: transitively connected docs
    form one duplicate group labeled by its min doc_id; exactly the min
    member is canonical (what a keep-one-per-group dedup retains).

    Runs connected components (operators/graph.py min-label
    propagation — one equi-join + one min-agg per round, rounds =
    component diameter) over the q33 verified pairs. The oracle computes
    the same fixpoint via a recursive transitive-closure CTE — feasible
    at oracle scale because duplicate clusters are tiny; the Spark path
    never materializes closures, only per-round labels."""
    pairs = q33_near_dedup_jaccard(spark, sf_dir).select("id_a", "id_b")
    from hephaestus_spark.operators.graph import dedup_clusters

    return dedup_clusters(pairs)


def _pagerank_duck(n_iter: int = 10, damping: float = 0.85) -> str:
    """DuckDB oracle for x_pagerank (r14, VERDICT r13 #5): the
    iteration count is FIXED, so the power iteration unrolls into
    n_iter chained CTEs — no recursion semantics to trust, every round
    is the exact relational shape the Spark operator runs (join on
    src, keyed sum on dst, teleport floor for no-inflow nodes).
    Rounding to 10dp at the end absorbs summation-order float drift."""
    rounds = []
    prev = "pr0"
    for k in range(1, n_iter + 1):
        rounds.append(
            f"""
    pr{k} AS (
      SELECT nd.id,
             (SELECT (1.0 - {damping}) / n FROM nn)
             + {damping} * COALESCE(inf.inflow, 0.0) AS rank
      FROM nodes nd LEFT JOIN (
        SELECT e.v AS id, SUM(p.rank / dg.deg) AS inflow
        FROM edges e JOIN {prev} p ON e.u = p.id JOIN deg dg ON dg.u = e.u
        GROUP BY e.v
      ) inf ON nd.id = inf.id
    )"""
        )
        prev = f"pr{k}"
    return f"""
    WITH {_PAIRS_DUCK},
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    deg AS (SELECT u, CAST(count(*) AS DOUBLE) AS deg FROM edges GROUP BY u),
    nodes AS (SELECT DISTINCT u AS id FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    pr0 AS (SELECT id, (SELECT 1.0 / n FROM nn) AS rank FROM nodes),
    {",".join(rounds)}
    SELECT id AS doc_id, round(rank, 10) AS rank FROM {prev}
    """


@query("x_pagerank", oracle=_pagerank_duck())
def x_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the verified near-dup pair graph (q33 output) —
    the document-centrality signal a curation pipeline uses to pick the
    most-connected member of a duplicate neighborhood (or to weight
    boilerplate clusters down). Third iterative-algorithm demo beside
    connected components and k-means: per-round join + keyed sum with
    teleport normalization, no driver data collect (operators/graph.py;
    invariants — probability mass sums to 1, degree monotonicity,
    determinism — asserted in tests/test_graph.py). Ranks are rounded
    to 10dp for a stable wire format; the fixed iteration count makes
    the run DuckDB-oracleable via _pagerank_duck's unrolled rounds
    (r14, VERDICT r13 #5)."""
    from hephaestus_spark.operators.graph import pagerank

    pairs = q33_near_dedup_jaccard(spark, sf_dir).select("id_a", "id_b")
    pr = pagerank(pairs, n_iter=10)
    return pr.select(
        F.col("id").alias("doc_id"), F.round("rank", 10).alias("rank")
    )


# Synthetic PII seeded on every 13th BASE doc before duplicate
# synthesis, so copies inherit it and the dedup stages are unchanged.
_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
_PII_PHONE_RE = "\\+?[0-9][0-9 -]{6,}[0-9]"

_CURATION_SEEDED_DUCK = """
    SELECT doc_id,
           CASE WHEN doc_id % 13 = 0
                THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                     || '@example.com now'
                ELSE text END AS text
    FROM documents
"""

_CURATION_CORPUS_DUCK = f"""
    SELECT doc_id, text FROM seeded
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id, text
    FROM seeded WHERE doc_id % 10 = 0
    UNION ALL
    SELECT doc_id + 2000000 AS doc_id, text || '{_SUFFIX}' AS text
    FROM seeded WHERE doc_id % 7 = 0
"""


@query(
    "x_curation_pipeline",
    oracle=f"""
    WITH RECURSIVE seeded AS ({_CURATION_SEEDED_DUCK}),
    corpus AS ({_CURATION_CORPUS_DUCK}),
    exact_ranked AS (
      SELECT doc_id, text,
             row_number() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
      FROM corpus
    ),
    kept1 AS (SELECT doc_id, text FROM exact_ranked WHERE rn = 1),
    shingled AS (
      SELECT doc_id, UNNEST(list_distinct(
        list_transform(range(1, greatest(len({_TOKENS_DUCK}) - 3, 1)),
                       i -> array_to_string(list_slice({_TOKENS_DUCK}, CAST(i AS INTEGER), CAST(i + 4 AS INTEGER)), ' '))
      )) AS shingle
      FROM kept1
    ),
    sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM shingled GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(count(*) AS BIGINT) AS n_common
      FROM shingled a JOIN shingled b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common * 1.0 / (sa.n_sh + sb.n_sh - n_common) >= 0.8
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT u AS id, v AS r FROM edges
      UNION SELECT reach.id, e.v FROM reach JOIN edges e ON reach.r = e.u
    ),
    near_dropped AS (
      SELECT id AS doc_id FROM reach GROUP BY id
      HAVING id <> least(id, min(r))
    ),
    kept2 AS (
      SELECT k.doc_id, k.text FROM kept1 k
      WHERE k.doc_id NOT IN (SELECT doc_id FROM near_dropped)
    ),
    bench_grams AS (
      SELECT DISTINCT g FROM (
        SELECT UNNEST(list_transform(range(1, greatest(len({_TOKENS_DUCK}) - 6, 1)),
               i -> array_to_string(list_slice({_TOKENS_DUCK}, CAST(i AS INTEGER), CAST(i + 7 AS INTEGER)), ' '))) AS g
        FROM seeded WHERE doc_id % 97 = 0)
    ),
    kept2_grams AS (
      SELECT doc_id, UNNEST(list_distinct(
        list_transform(range(1, greatest(len({_TOKENS_DUCK}) - 6, 1)),
               i -> array_to_string(list_slice({_TOKENS_DUCK}, CAST(i AS INTEGER), CAST(i + 7 AS INTEGER)), ' ')))) AS g
      FROM kept2
    ),
    contaminated AS (
      SELECT DISTINCT c.doc_id FROM kept2_grams c JOIN bench_grams b ON c.g = b.g
    ),
    pii AS (
      SELECT doc_id FROM kept2
      WHERE regexp_matches(text, '{_PII_EMAIL_RE}')
         OR regexp_matches(text, '{_PII_PHONE_RE}')
    ),
    toks2 AS (SELECT doc_id, {_TOKENS_DUCK} AS ts FROM kept2),
    grams AS (
      SELECT doc_id, len(ts) AS n_tok,
             list_transform(range(1, greatest(len(ts), 1)),
                            i -> ts[CAST(i AS INTEGER)] || ' ' || ts[CAST(i + 1 AS INTEGER)]) AS gs
      FROM toks2
    ),
    gc AS (
      SELECT doc_id, n_tok, g, count(*) AS c
      FROM grams, UNNEST(gs) AS t(g) GROUP BY doc_id, n_tok, g
    ),
    rep AS (
      SELECT doc_id, max(n_tok) AS n_tok,
             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c) AS dup_frac
      FROM gc GROUP BY doc_id
    )
    SELECT c.doc_id,
           CASE WHEN er.rn > 1 THEN 'exact_dup'
                WHEN nd.doc_id IS NOT NULL THEN 'near_dup'
                WHEN ct.doc_id IS NOT NULL THEN 'contaminated'
                WHEN rep.n_tok < 20 THEN 'too_short'
                WHEN rep.dup_frac > 0.2 THEN 'repetitive'
                WHEN pi.doc_id IS NOT NULL THEN 'pii'
                ELSE 'kept' END AS status
    FROM corpus c
    JOIN exact_ranked er ON er.doc_id = c.doc_id
    LEFT JOIN near_dropped nd ON nd.doc_id = c.doc_id
    LEFT JOIN contaminated ct ON ct.doc_id = c.doc_id
    LEFT JOIN pii pi ON pi.doc_id = c.doc_id
    LEFT JOIN rep ON rep.doc_id = c.doc_id
    """,
)
def x_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END curation pass — the composite a training-data team
    actually runs, assembled from the already-oracled stages: exact
    dedup (sha2 canonical-keep) -> near-dedup (minhash-LSH candidates,
    exact-Jaccard verify, connected-component clusters, keep min-id
    canonical) -> benchmark decontamination (8-gram overlap with a
    broadcast benchmark set) -> quality gates (length,
    bigram-repetition) -> PII gate (email/phone regex). Emits one
    (doc_id, status) row per corpus doc with the FIRST failing stage:
    exact_dup | near_dup | contaminated | too_short | repetitive |
    pii | kept.

    The corpus synthesizes every failure class over `documents`: PII
    seeded on every 13th BASE doc (before duplicate synthesis, so
    copies inherit it and dedup is unchanged), every 10th doc
    re-ingested verbatim, every 7th with a 4-token suffix, and every
    97th doc doubling as the held-out benchmark set (so its survivors
    flag as contaminated). Plan shape: each stage is the same bounded
    plan its standalone query uses (hash-groupBy; q33's candidate
    path — first-match emission under the bucket cap — and exact
    verify; per-round label propagation; broadcast
    semi-join for contamination — the corpus never shuffles for it;
    scan-side regex for PII; scan-side token math) with statuses
    assembled by left joins on doc_id — no new shuffle classes, so the
    composite scales exactly as its parts do. The only emitted column
    is a string status: no float channel at all (the most robust
    hash-compare class). Oracle = same stages as recursive/windowed
    SQL."""
    from hephaestus_spark.operators.textops import tokens, word_shingles

    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = base.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com now"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    exact_dup = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near_dup = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_SUFFIX)).alias("text"),
    )
    corpus = d.union(exact_dup).union(near_dup)

    from pyspark.sql.window import Window as W

    ranked = corpus.withColumn(
        "rn",
        F.row_number().over(W.partitionBy(F.sha2("text", 256)).orderBy("doc_id")),
    )
    kept1 = ranked.filter(F.col("rn") == 1).select("doc_id", "text")

    sig = minhash_signature_table(
        shingle_hash_table(kept1, n=5), n_tables=8, prehashed=True
    ).persist()
    cand = minhash_candidate_pairs(sig, n_tables=8)
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("shingles").alias("sh_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("shingles").alias("sh_b"))
    # Inline verify, not jaccard_verify: its persisted counts would nest
    # in the cached lineage of every connected_components round below
    # (measured +22 s exec at sf0.1, 4 cores).
    n_common = F.size(F.array_intersect("sh_a", "sh_b")).cast("bigint")
    jac = n_common * 1.0 / (
        F.size("sh_a").cast("bigint") + F.size("sh_b").cast("bigint") - n_common
    )
    pairs = (
        cand.join(sa, "id_a").join(sb, "id_b")
        .filter(jac >= 0.8)
        .select("id_a", "id_b")
    )
    from hephaestus_spark.operators.graph import dedup_clusters

    near_dropped = (
        dedup_clusters(pairs)
        .filter(~F.col("is_canonical"))
        .select("doc_id", F.lit(True).alias("_near_dropped"))
    )

    kept2 = kept1.join(near_dropped, "doc_id", "left_anti")

    # Benchmark decontamination: the benchmark shingle set is small by
    # nature (eval suites, not corpora) -> broadcast; the corpus side
    # never shuffles for this stage (same plan as x_contamination).
    bench_grams = (
        d.filter(F.col("doc_id") % 97 == 0)
        .select(F.explode(word_shingles(tokens(), 8)).alias("g"))
        .distinct()
    )
    kept2_grams = kept2.select(
        "doc_id", F.explode(word_shingles(tokens(), 8)).alias("g")
    )
    contaminated = (
        kept2_grams.join(F.broadcast(bench_grams), "g")
        .select("doc_id")
        .distinct()
        .withColumn("_contaminated", F.lit(True))
    )

    # PII gate: scan-side regex match, zero shuffle (x_pii_scrub's
    # patterns — RE2-compatible so the oracle runs the identical ones).
    pii = (
        kept2.filter(
            F.col("text").rlike(_PII_EMAIL_RE) | F.col("text").rlike(_PII_PHONE_RE)
        )
        .select("doc_id")
        .withColumn("_pii", F.lit(True))
    )

    toks = "filter(split(regexp_replace(lower(text), '[^a-z ]', ' '), ' '), t -> t <> '')"
    grams = kept2.select(
        "doc_id",
        F.size(F.expr(toks)).alias("n_tok"),
        F.explode(
            F.expr(
                f"transform(sequence(1, greatest(size({toks}) - 1, 1)),"
                f" i -> concat_ws(' ', slice({toks}, i, 2)))"
            )
        ).alias("g"),
    )
    gc = grams.groupBy("doc_id", "n_tok", "g").agg(F.count("*").alias("c"))
    rep = gc.groupBy("doc_id").agg(
        F.max("n_tok").alias("n_tok"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).cast("double")
            / F.sum("c")
        ).alias("dup_frac"),
    )

    status = (
        F.when(F.col("rn") > 1, F.lit("exact_dup"))
        .when(F.col("_near_dropped"), F.lit("near_dup"))
        .when(F.col("_contaminated"), F.lit("contaminated"))
        .when(F.col("n_tok") < 20, F.lit("too_short"))
        .when(F.col("dup_frac") > 0.2, F.lit("repetitive"))
        .when(F.col("_pii"), F.lit("pii"))
        .otherwise(F.lit("kept"))
    )
    return (
        ranked.select("doc_id", "rn")
        .join(near_dropped, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
        .join(pii, "doc_id", "left")
        .join(rep, "doc_id", "left")
        .select("doc_id", status.alias("status"))
    )


# --------------------------------------------------------------------------
# r5: incremental dedup — a new batch probed against the existing corpus
# --------------------------------------------------------------------------
_INCREMENTAL_DEDUP_SQL = f"""
    WITH corpus AS (SELECT doc_id, text FROM documents),
    batch AS (
      SELECT doc_id + 3000000 AS doc_id, text || '{_SUFFIX}' AS text
      FROM documents WHERE doc_id % 10 = 0
    ),
    sh_c AS (
      SELECT doc_id, UNNEST(list_distinct(
        list_transform(range(1, greatest(len({_TOKENS_DUCK}) - 3, 1)),
                       i -> array_to_string(list_slice({_TOKENS_DUCK}, CAST(i AS INTEGER), CAST(i + 4 AS INTEGER)), ' '))
      )) AS shingle
      FROM corpus
    ),
    sh_b AS (
      SELECT doc_id, UNNEST(list_distinct(
        list_transform(range(1, greatest(len({_TOKENS_DUCK}) - 3, 1)),
                       i -> array_to_string(list_slice({_TOKENS_DUCK}, CAST(i AS INTEGER), CAST(i + 4 AS INTEGER)), ' '))
      )) AS shingle
      FROM batch
    ),
    sz_c AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh_c GROUP BY doc_id),
    sz_b AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh_b GROUP BY doc_id),
    inter AS (
      SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
             CAST(count(*) AS BIGINT) AS n_common
      FROM sh_b b JOIN sh_c c ON b.shingle = c.shingle
      GROUP BY 1, 2
    )
    SELECT batch_id, corpus_id,
           n_common * 1.0 / (sb.n_sh + sc.n_sh - n_common) AS jaccard
    FROM inter
    JOIN sz_b sb ON sb.doc_id = batch_id
    JOIN sz_c sc ON sc.doc_id = corpus_id
    WHERE n_common * 1.0 / (sb.n_sh + sc.n_sh - n_common) >= 0.8
    """


@query("x_incremental_dedup", oracle=_INCREMENTAL_DEDUP_SQL)
def x_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup: a new ingest batch (every doc_id % 10
    document re-crawled with a suffix, under a fresh id) probed against
    the EXISTING corpus — the daily shape of production dedup, where
    re-running the full corpus self-join every day would be a 100 TB
    shuffle for a GB of new data.

    Plan: the corpus signature table is computed once (in production:
    maintained incrementally, stored bucketed on the band keys); the
    batch's band rows broadcast into the corpus bands
    (operators/textops.py::minhash_probe_pairs — the corpus is never
    shuffled for candidates), then the verify stage joins the corpus
    signatures ONCE on corpus_id and broadcasts the batch's shingle
    sets. Total corpus cost per batch: one band-table map-side join +
    one keyed join on the candidate ids — both linear, both
    batch-size-bounded. Jaccard is int/int division, exact in both
    engines; recall loss is (1-J)^8 per true pair as in q33.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_SUFFIX)).alias("text"),
    )
    corpus_sig = minhash_signature_table(
        shingle_hash_table(d, n=5), n_tables=8, prehashed=True
    )
    batch_sig = minhash_signature_table(
        shingle_hash_table(batch, n=5), n_tables=8, prehashed=True
    ).persist()
    cand = minhash_probe_pairs(batch_sig, corpus_sig, n_tables=8)
    sb = batch_sig.select(
        F.col("doc_id").alias("batch_id"), F.col("shingles").alias("sh_b")
    )
    sc = corpus_sig.select(
        F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh_c")
    )
    # r15: one array_intersect per pair via the persist barrier
    # (operators/textops.py::jaccard_verify).
    return jaccard_verify(
        cand.join(sc, "corpus_id").join(F.broadcast(sb), "batch_id"),
        ["batch_id", "corpus_id"],
        sh_a="sh_b",
        sh_b="sh_c",
    )


@query(
    "x_stream_incremental_dedup",
    # Full delivery + a static corpus index make the streamed union
    # equal the one-shot batch probe, so the oracle is the same SQL as
    # x_incremental_dedup (each batch doc's candidates and Jaccard
    # depend only on (doc, corpus), never on co-batched docs).
    oracle=_INCREMENTAL_DEDUP_SQL
)
def x_stream_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-ingest dedup loop as it actually runs in production:
    documents arrive as ordered micro-batches (3 arrival days here) and
    each micro-batch is probed against the STATIC corpus signature
    index inside ``foreachBatch`` — full batch-plan expressiveness
    (multi-stage agg + broadcast probe + verify join) that Structured
    Streaming's incremental planner cannot express stream-side, with
    exactly-once per batch via the checkpointed batch id
    (streaming/replay.py::replay_foreach_batch).

    Scale shape per micro-batch: identical to x_incremental_dedup —
    the batch's band rows broadcast into the corpus bands, verify joins
    the corpus signatures once on the candidate ids; the corpus index
    is computed once per stream (in production: a maintained table),
    never per batch. Because each document's verdict depends only on
    (doc, corpus), the micro-batched union is bit-identical to the
    one-shot batch result — asserted by sharing its oracle.
    """
    from hephaestus_spark.streaming.replay import replay_foreach_batch

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_SUFFIX)).alias("text"),
        (F.col("doc_id") % 3).cast("int").alias("arrival_day"),
    )
    corpus_sig = minhash_signature_table(
        shingle_hash_table(d, n=5), n_tables=8, prehashed=True
    ).persist()
    sc = corpus_sig.select(
        F.col("doc_id").alias("corpus_id"), F.col("shingles").alias("sh_c")
    )

    def probe(batch_df: DataFrame):
        batch_sig = minhash_signature_table(
            shingle_hash_table(batch_df, n=5), n_tables=8, prehashed=True
        ).persist()
        handles = [batch_sig]
        cand = minhash_probe_pairs(batch_sig, corpus_sig, n_tables=8)
        sb = batch_sig.select(
            F.col("doc_id").alias("batch_id"), F.col("shingles").alias("sh_b")
        )
        # r15: same single-intersect barrier as the one-shot probe.
        # r16 (VERDICT r15 #2): every per-batch persist — the batch
        # signatures and the verify counts — is unpersisted after the
        # batch's write, so cached state stays FLAT across an unbounded
        # stream instead of accumulating until LRU eviction
        # (tests/test_streaming_pipeline.py pins zero residual cached
        # RDDs after a multi-batch replay).
        out = jaccard_verify(
            cand.join(sc, "corpus_id").join(F.broadcast(sb), "batch_id"),
            ["batch_id", "corpus_id"],
            sh_a="sh_b",
            sh_b="sh_c",
            handles=handles,
        )

        def cleanup() -> None:
            for h in handles:
                h.unpersist()

        return out, cleanup

    return replay_foreach_batch(spark, batch, "arrival_day", probe)


@query("x_simhash_pairs")  # rows-only: xxhash64 signatures are engine-specific
def x_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS: banded Hamming-distance join over the
    64-bit signatures — completing the simhash pipeline (x_simhash
    emits the signatures; this finds the pairs).

    The pigeonhole guarantee makes this EXACT, not probabilistic: a
    pair at Hamming distance <= 3 differs in at most 3 of the 4
    16-bit bands, so at least one band matches and the pair is a
    candidate with recall exactly 1 (tests/test_simhash_pairs.py
    asserts band-join output == brute-force all-pairs Hamming). The
    residual filter is one bit_count(xor) per candidate.

    Scale shape: 4 band equi-joins expressed as one exploded (band,
    key) self-join — fan-out bounded by band-bucket size exactly like
    the minhash path (reuse the cap discipline for degenerate
    boilerplate corpora); signatures ride through the band rows so the
    verify needs NO extra join against the signature table."""
    corpus = _near_corpus(spark, sf_dir)
    sig = simhash_signatures(corpus).select("doc_id", "simhash")
    return _simhash_band_pairs(sig)


def _simhash_band_pairs(sig: DataFrame) -> DataFrame:
    """Banded Hamming join over (doc_id, simhash) — shared by the
    xxhash64 headline and the md5-portable oracle variant."""
    bands = sig.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.expr(f"(simhash >> {16 * i}) & 65535").alias("key"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", F.col("b.band").alias("band"), F.col("b.key").alias("key"))
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sim_a"),
            F.col("b.simhash").alias("sim_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return (
        cand.select(
            "id_a",
            "id_b",
            F.expr("bit_count(sim_a ^ sim_b)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
    )


# r15: the PORTABLE simhash hash — a 64-bit value both engines derive
# identically from md5's first 16 hex chars (two 32-bit conv() chunks
# on the Spark side, a hex-digit list_reduce on the DuckDB side).
# xxhash64 stays the fast path for the headline queries; this family
# exists so the simhash vote/packing/banding logic itself is
# hash-verified cross-engine instead of rows-only.
def _md5_h64(col: str) -> str:
    return (
        f"shiftleft(CAST(conv(substring(md5({col}), 1, 8), 16, 10) AS BIGINT), 32)"
        f" | CAST(conv(substring(md5({col}), 9, 8), 16, 10) AS BIGINT)"
    )


def _simhash_portable_duck(corpus_sql: str) -> str:
    """CTE chain ``corpus -> toks -> h -> bits -> sig`` computing the
    md5-family SimHash per doc; ``sig`` holds (doc_id, husig) with
    husig the UNSIGNED 64-bit signature as HUGEINT (the tail converts
    to signed BIGINT where it must match Spark's column)."""
    return f"""
    corpus AS ({corpus_sql}),
    toks AS (
      SELECT doc_id, UNNEST({_TOKENS_DUCK}) AS token FROM corpus
    ),
    h AS (
      SELECT doc_id,
        list_reduce(
          list_transform(range(1, 17),
            i -> CAST(strpos('0123456789abcdef',
                   substring(md5(token), CAST(i AS INTEGER), 1)) - 1
                 AS HUGEINT)),
          (a, b) -> a * 16 + b
        ) AS hu
      FROM toks
    ),
    bits AS (
      SELECT doc_id, b,
             sum(CASE WHEN (hu >> CAST(b AS INTEGER)) & 1 = 1
                      THEN 1 ELSE 0 END) AS cnt,
             count(*) AS n_tok
      FROM h CROSS JOIN (SELECT UNNEST(range(0, 64)) AS b)
      GROUP BY doc_id, b
    ),
    sig AS (
      SELECT doc_id,
             sum(CASE WHEN 2 * cnt > n_tok
                      THEN CAST(1 AS HUGEINT) << CAST(b AS INTEGER)
                      ELSE CAST(0 AS HUGEINT) END) AS husig
      FROM bits GROUP BY doc_id
    )
    """


_HUSIG_SIGNED = (
    "CAST(husig - CASE WHEN husig >= CAST(9223372036854775808 AS HUGEINT)"
    " THEN CAST(18446744073709551616 AS HUGEINT)"
    " ELSE CAST(0 AS HUGEINT) END AS BIGINT)"
)


@query(
    "x_simhash_portable",
    oracle=f"""
    WITH {_simhash_portable_duck("SELECT doc_id, text FROM documents")}
    SELECT doc_id,
           {_HUSIG_SIGNED} AS simhash,
           CAST((husig >> 0) & 65535 AS INT) AS band0,
           CAST((husig >> 16) & 65535 AS INT) AS band1,
           CAST((husig >> 32) & 65535 AS INT) AS band2,
           CAST((husig >> 48) & 65535 AS INT) AS band3
    FROM sig
    """,
)
def x_simhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_simhash with the md5-portable hash family — the SAME Spark
    pipeline (lane-packed majority vote, 16-bit banding; see
    operators/textops.py simhash_signatures), hash-verified against a
    from-scratch DuckDB SimHash. x_simhash itself stays on xxhash64
    (faster, but engine-specific, hence rows-only); this query is the
    cross-engine witness that the vote/packing/banding logic is
    correct, not just deterministic."""
    d = load_table(spark, sf_dir, "documents")
    out = simhash_signatures(d, hash_expr=F.expr(_md5_h64("token"))).drop("n_tok")
    return out.select(
        "doc_id",
        "simhash",
        *[
            F.expr(f"(simhash >> {16 * band}) & 65535")
            .cast("int")
            .alias(f"band{band}")
            for band in range(4)
        ],
    )


@query(
    "x_simhash_pairs_portable",
    oracle=f"""
    WITH {_simhash_portable_duck(_NEAR_CORPUS_DUCK)},
    bandk AS (
      SELECT doc_id, husig, b AS band,
             CAST((husig >> CAST(16 * b AS INTEGER)) & 65535 AS INT) AS key
      FROM sig CROSS JOIN (SELECT UNNEST(range(0, 4)) AS b)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.husig AS ha, b.husig AS hb
      FROM bandk a JOIN bandk b
        ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
    FROM pairs WHERE bit_count(xor(ha, hb)) <= 3
    """,
)
def x_simhash_pairs_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x_simhash_pairs with the md5-portable hash family: the banded
    Hamming join (pigeonhole-exact at distance <= 3) verified
    end-to-end against DuckDB — candidate banding, dedup, and the
    bit_count(xor) residual all hash-checked. The xxhash64 original
    keeps its brute-force-equivalence pin in test_simhash_pairs.py."""
    corpus = _near_corpus(spark, sf_dir)
    sig = simhash_signatures(corpus, hash_expr=F.expr(_md5_h64("token"))).select(
        "doc_id", "simhash"
    )
    return _simhash_band_pairs(sig)


@query(
    "x_substring_dedup",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text), '[^a-z ]',
               ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents
    ), w AS (
      SELECT DISTINCT doc_id, md5(array_to_string(toks[i : i + 9], ' ')) AS wkey
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(toks) - 9, 1))) AS i
      )
    ), d AS (
      SELECT wkey FROM w GROUP BY wkey HAVING count(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id,
           CAST(count(*) AS BIGINT) AS n_windows,
           CAST(count(d.wkey) AS BIGINT) AS n_dup_windows,
           CAST(count(d.wkey) AS DOUBLE) / count(*) AS dup_fraction
    FROM w LEFT JOIN d USING (wkey)
    GROUP BY w.doc_id
    """,
)
def x_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level dedup signal (the Lee et al. 2022
    "Deduplicating Training Data" ExactSubstr shape): every 10-token
    rolling window is content-hashed, windows occurring in >= 2 distinct
    docs are duplicated spans, and each doc reports its duplicated-window
    fraction — the signal a curation pass thresholds to drop or trim
    boilerplate-heavy documents. Distinct from q33 (doc-level Jaccard):
    this catches a verbatim paragraph shared by otherwise-different docs.

    Scale shape: windows are generated scan-side (sequence/slice — no
    shuffle), keyed by md5 so the duplicated-window detection is ONE
    uniform-key groupBy; the join back to docs is on the same key (no
    second shuffle of the corpus rows — AQE reuses the hash layout), and
    the per-doc rollup keys on doc_id. Window width 10 fits this
    corpus's 10-token minimum; production would run 50-token windows
    after a length gate, same plan. All counts int-exact; dup_fraction
    is one int/int IEEE divide."""
    from hephaestus_spark.operators.textops import tokens

    d = load_table(spark, sf_dir, "documents")
    # r16 (guide §2.3 narrower types): the window key is INTERNAL — the
    # declared output is per-doc counts/fractions — so the key is the
    # xxhash64 of the 10 token hashes instead of the md5 hex STRING of
    # the joined window (32 chars + the window-string build per row).
    # Identity is 1:1 with the string form modulo 64-bit collisions
    # (tokens carry no spaces; xxhash64 skips NULL args, so a short
    # doc's single truncated window hashes its actual tokens, exactly
    # the windows the string form produced). The (doc, wkey) exchange
    # narrows ~4x and no window string is ever materialized.
    # try_element_at: ANSI mode (the Spark 4 default) throws on an
    # out-of-range [] index, and a short doc's single window reads past
    # its array; try_element_at yields NULL there and xxhash64 skips
    # NULL args, giving the truncated window exactly its actual tokens.
    win_args = ", ".join(f"try_element_at(_th, i + {k})" for k in range(10))
    sh = (
        d.select("doc_id", tokens("text").alias("_toks"))
        .select(
            "doc_id", F.expr("transform(_toks, t -> xxhash64(t))").alias("_th")
        )
        .select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, greatest(size(_th) - 9, 1)),"
                        f" i -> xxhash64({win_args}))"
                    )
                )
            ).alias("wkey"),
        )
    )
    dup = sh.groupBy("wkey").agg(
        F.count_distinct("doc_id").alias("nd")
    ).filter(F.col("nd") >= 2).select("wkey")
    return (
        sh.join(dup.withColumn("_dup", F.lit(1)), "wkey", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_windows"),
            F.count("_dup").cast("bigint").alias("n_dup_windows"),
            (F.count("_dup").cast("double") / F.count("*")).alias("dup_fraction"),
        )
    )


@query(
    "x_containment",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(regexp_replace(lower(text), '[^a-z ]',
               ' ', 'g'), ' '), x -> x <> '') AS toks
      FROM documents
    ), ex AS (
      SELECT doc_id + 5000000 AS eid, toks[1:15] AS toks
      FROM t WHERE doc_id % 7 = 0
    ), sa AS (
      SELECT DISTINCT eid, md5(array_to_string(toks[i : i + 4], ' ')) AS wkey
      FROM ex, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - 4)) AS i
      )
    ), sb AS (
      SELECT DISTINCT doc_id AS did,
             md5(array_to_string(toks[i : i + 4], ' ')) AS wkey
      FROM t, LATERAL (
        SELECT unnest(generate_series(1, len(toks) - 4)) AS i
      )
    ), na AS (
      SELECT eid, CAST(count(*) AS BIGINT) AS n_a FROM sa GROUP BY eid
    ), pair AS (
      SELECT sa.eid, sb.did, CAST(count(*) AS BIGINT) AS shared
      FROM sa JOIN sb USING (wkey)
      GROUP BY sa.eid, sb.did
    )
    SELECT pair.eid, pair.did, pair.shared, na.n_a,
           CAST(pair.shared AS DOUBLE) / na.n_a AS containment
    FROM pair JOIN na USING (eid)
    WHERE pair.shared * 5 >= na.n_a * 4
    """,
)
def x_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment detection (|A ∩ B| / |A| over 5-token
    shingle sets): finds docs that CONTAIN an excerpt — quotes, mirrored
    paragraphs, boilerplate inclusions — which symmetric Jaccard (q33)
    misses when the containing doc is much larger. Excerpts here are
    the first 15 tokens of every 7th doc (built identically in both
    engines); each excerpt reports the docs covering >= 80% of its
    shingles, source doc included at containment 1.

    The 80% gate is an integer cross-multiply (shared*5 >= n_a*4) so no
    boundary pair can flip on a double; the emitted containment is one
    int/int divide. Plan: two scan-side shingle tables, one uniform-key
    equi-join on the md5 shingle hash, pair counts + a tiny per-excerpt
    size table broadcast back. At 100 TB the full shingle join is
    replaced by q33's banded-minhash candidates with THIS exact
    containment as the verify stage — same verify math, bounded
    candidates."""
    from hephaestus_spark.operators.textops import tokens

    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens("text").alias("toks"))
    ex = t.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 5000000).alias("eid"),
        F.slice("toks", 1, 15).alias("toks"),
    )

    def shingles(df, id_out, id_in):
        # r16: internal join key = xxhash64 over the 5 token hashes
        # (see x_substring_dedup — same identity argument, same ~4x
        # narrower exchange than the md5 hex string).
        # try_element_at for the same ANSI short-doc reason as
        # x_substring_dedup above
        win_args = ", ".join(
            f"try_element_at(_th, i + {k})" for k in range(5)
        )
        return df.select(
            F.col(id_in).alias(id_out),
            F.expr("transform(toks, t -> xxhash64(t))").alias("_th"),
        ).select(
            id_out,
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, greatest(size(_th) - 4, 1)),"
                        f" i -> xxhash64({win_args}))"
                    )
                )
            ).alias("wkey"),
        ).distinct()

    sa = shingles(ex, "eid", "eid")
    sb = shingles(t, "did", "doc_id")
    na = sa.groupBy("eid").agg(F.count("*").cast("bigint").alias("n_a"))
    pair = sa.join(sb, "wkey").groupBy("eid", "did").agg(
        F.count("*").cast("bigint").alias("shared")
    )
    return (
        pair.join(F.broadcast(na), "eid")
        .filter(F.col("shared") * 5 >= F.col("n_a") * 4)
        .select(
            "eid",
            "did",
            "shared",
            "n_a",
            (F.col("shared").cast("double") / F.col("n_a")).alias("containment"),
        )
    )


from hephaestus_spark.registry import ORACLES as _ORACLES  # noqa: E402


@query(
    # Prefix filtering is EXACT (any pair at Jaccard >= 0.8 must share
    # at least one prefix shingle), so the output is identical to the
    # ground-truth all-pairs join — the oracle is q33's, verbatim. The
    # hash match therefore PROVES exact recall, which the minhash path
    # only approaches (2.6e-6 miss probability per pair).
    "x_ppjoin_exact",
    oracle=_ORACLES["q33_near_dedup_jaccard"],
)
def x_ppjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join via prefix filtering (the
    PPJoin/AllPairs family): order each doc's shingles by ascending
    document frequency (rarest first — one tiny df agg broadcast back),
    keep only the first |d| - ceil(0.8|d|) + 1 as the doc's PREFIX, and
    generate candidates from the prefix inverted index. The prefix
    theorem guarantees every true pair collides, so after the exact
    Jaccard verify the result equals the naive quadratic join — at a
    fraction of the fan-out, and with the skew channel inverted: the
    naive inverted index explodes on COMMON shingles, while prefixes
    are by construction the RAREST shingles, so hot buckets can't form.

    When to pick this over q33's minhash: exact-recall requirements
    (legal/compliance dedup), or corpora whose boilerplate makes
    minhash banding collide too often. Same two-shuffle scale shape:
    one (doc, shingle) agg + one prefix-keyed join, verify on candidate
    pairs only."""
    from pyspark.sql.window import Window as W

    corpus = _near_corpus(spark, sf_dir)
    sh = shingle_table(corpus, n=5)
    df_ = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = sh.join(df_, "shingle").withColumn(
        "r",
        F.row_number().over(
            W.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
        ),
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    ranked = ranked.join(sizes, "doc_id")
    prefix = ranked.filter(
        F.col("r") <= F.col("n_sh") - F.ceil(F.lit(0.8) * F.col("n_sh")) + 1
    ).select("doc_id", "shingle")
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .distinct()
    )
    sets = sh.groupBy("doc_id").agg(F.collect_set("shingle").alias("sh_set"))
    sa = sets.select(F.col("doc_id").alias("id_a"), F.col("sh_set").alias("sh_a"))
    sb = sets.select(F.col("doc_id").alias("id_b"), F.col("sh_set").alias("sh_b"))
    # r15: one array_intersect per pair via the persist barrier
    # (operators/textops.py::jaccard_verify).
    return jaccard_verify(
        cand.join(sa, "id_a").join(sb, "id_b"), ["id_a", "id_b"]
    )
