"""Text-analysis building blocks for documents-scale pipelines.

All pure column expressions (codegen'd, no Python in the hot path):
tokenization, n-gram shingling, token statistics, stopword scoring,
rolling-hash fingerprinting. Used by Q31/Q32/Q33 and the x_* training-
data queries. Designed partition-parallel: everything is per-row or a
single groupBy on (doc) or (lang, token) — no driver materialization,
so the same plan holds on a 100 TB corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Normalization used across Q31/Q33: lowercase, non [a-z space] -> space.
_NORM_SQL = "regexp_replace(lower({col}), '[^a-z ]', ' ')"
# Identical DuckDB spelling (global flag needed there).
NORM_DUCK = "regexp_replace(lower({col}), '[^a-z ]', ' ', 'g')"


def tokens(col: str = "text") -> Column:
    """Non-empty lowercase tokens."""
    return F.expr(f"filter(split({_NORM_SQL.format(col=col)}, ' '), t -> t <> '')")


def word_shingles(tokens_col: Column, n: int) -> Column:
    """Distinct word n-gram shingles of a token array.

    r15 guard: a doc with fewer than ``n`` tokens has ZERO shingles.
    ``sequence(1, 0)`` is DESCENDING in Spark ([1, 0] — not empty!),
    so the old greatest(..., 0) bound fed slice() a 0 start and
    crashed on short docs; DuckDB's end-exclusive range() was already
    empty there, so the engines disagreed exactly where the data got
    short. CASE-gate the whole expression instead."""
    toks = _c(tokens_col)
    return F.expr(
        f"CASE WHEN size({toks}) >= {n} THEN array_distinct("
        f"transform(sequence(1, size({toks}) - {n - 1}),"
        f" i -> concat_ws(' ', slice({toks}, i, {n}))))"
        f" ELSE CAST(array() AS array<string>) END"
    )


def _c(col: Column) -> str:
    # Column -> SQL snippet; only used with simple named columns.
    return col._jc.toString() if hasattr(col, "_jc") else str(col)


def shingle_table(docs: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, shingle) rows — the inverted-index layout for set-similarity.

    At scale this is the layout that lets near-dup detection run as a
    shuffle on `shingle` (co-locating candidate pairs) instead of an
    O(n^2) cross join."""
    t = docs.select(F.col(id_col), tokens(text_col).alias("_toks"))
    # short-doc guard shared with word_shingles (r15): sequence(1, 0)
    # descends in Spark, so docs under n tokens must CASE to empty
    sh = t.select(
        F.col(id_col),
        F.explode(word_shingles(F.col("_toks"), n)).alias("shingle"),
    )
    return sh


def _window_hash_sql(th: str, n: int) -> str:
    """SQL snippet: distinct xxhash64 over each length-``n`` window of
    the token-hash array ``th`` (r16, guide §1.2 per-task work). The
    64-bit window hash IDENTIFIES the n-token shingle without ever
    materializing the shingle string: tokens carry no spaces (they come
    from a split on ' '), so the joined string and the token sequence
    determine each other, and hashing the n fixed-width token hashes is
    a drop-in identity for hashing the string — same distinct-set
    sizes, same intersections, up to 64-bit collisions (the regime
    hash_shingles=True already accepted). Measured at sf1: building
    17M shingle STRINGS (slice + concat_ws + string xxhash64) was ~60%
    of the signature stage; this form runs it 2x faster end to end
    (1.03 -> 0.56 s noop wall, 20-way)."""
    args = ", ".join(f"{th}[i - 1 + {k}]" for k in range(n))
    return (
        f"array_distinct(transform(sequence(1, size({th}) - {n - 1}),"
        f" i -> xxhash64({args})))"
    )


def shingle_hash_table(
    docs: DataFrame, n: int, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) rows with ``shingle`` a 64-bit token-window hash —
    ``shingle_table`` for the hashed-shingle family (r16). Each token
    is hashed exactly once and each n-token window hashes n fixed-width
    longs instead of building the shingle string (see _window_hash_sql).
    Per-row distinctness matches word_shingles' array_distinct, so
    groupBy(id).collect_set over duplicate-id inputs unions per-row
    distinct sets exactly like the string form. Exploded rows carry a
    LONG instead of a ~30-char string — the (id, shingle) exchange of
    every table-form consumer narrows ~4x."""
    t = (
        docs.select(F.col(id_col), tokens(text_col).alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select(
            F.col(id_col),
            F.expr("transform(_toks, t -> xxhash64(t))").alias("_th"),
        )
    )
    return t.select(
        F.col(id_col),
        F.explode(F.expr(_window_hash_sql("_th", n))).alias("shingle"),
    )


def minhash_signature_table(
    sh: DataFrame,
    n_tables: int = 16,
    id_col: str = "doc_id",
    hash_shingles: bool = False,
    prehashed: bool = False,
) -> DataFrame:
    """Per-doc shingle set + ``n_tables`` min-hashes in ONE aggregation.

    minhash_i = min(xxhash64(xxhash64(shingle), i)): each shingle
    STRING is hashed exactly once, and each table's family re-hashes
    the resulting 64-bit value salted with the table index (r15 —
    hashing the fixed-width long is ~the cost of one 8-byte block,
    where the old per-table string hash re-walked the whole shingle
    n_tables times; min over a permutation of a permutation is still
    a uniform min-hash family). JVM built-ins only, no UDF, no ML
    pipeline. A single shuffle on ``id_col`` produces both the exact
    shingle set (for the verify stage) and the LSH signature (for
    candidate generation), so the corpus is scanned once.

    ``hash_shingles=True`` stores the shingle set as 64-bit xxhash64
    values instead of strings: ~3x smaller persisted signatures and
    cheaper array_intersect in the verify joins. Set-size and
    intersection counts (hence Jaccard) are unchanged unless two
    distinct shingles collide in 64 bits (~1e-13 for a 500-shingle doc;
    across a 1e9-shingle corpus, expected cross-doc collisions follow
    the birthday bound — acceptable for dedup, and deterministic for a
    fixed corpus, which is what keeps the oracle comparison exact on
    the test data).

    ``prehashed=True`` (r16): the input's ``shingle`` column already
    holds 64-bit window hashes (``shingle_hash_table``) — collect them
    as the set and derive each table's min directly from them, skipping
    the per-row string hash entirely. Same family shape (min of a
    salted re-hash of the shingle identity); the identity is the
    token-window hash instead of the string hash."""
    if prehashed:
        aggs = [F.collect_set("shingle").alias("shingles")] + [
            F.min(F.xxhash64("shingle", F.lit(i))).alias(f"mh{i}")
            for i in range(n_tables)
        ]
        return sh.groupBy(id_col).agg(*aggs)
    shingle_col = F.xxhash64("shingle") if hash_shingles else F.col("shingle")
    aggs = [F.collect_set(shingle_col).alias("shingles")] + [
        F.min(F.xxhash64(F.xxhash64("shingle"), F.lit(i))).alias(f"mh{i}")
        for i in range(n_tables)
    ]
    return sh.groupBy(id_col).agg(*aggs)


def minhash_signature_scan(
    docs: DataFrame,
    n: int = 5,
    n_tables: int = 16,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_shingles: bool = False,
) -> DataFrame:
    """``minhash_signature_table`` with ZERO shuffle (r15, VERDICT r14
    #3), for the case every corpus caller is actually in: one row per
    ``id_col``. The explode -> groupBy(id) -> collect_set/min pipeline
    was semantically a per-row no-op there — the whole shingle
    multiset of a doc sits in its own row — yet it shuffled every
    (id, shingle) pair. Here shingling, the shingle set, and all
    ``n_tables`` min-hashes are array expressions on the scan:
    codegen'd, no exchange, the same memory per doc the agg state
    held. Output is column-for-column identical to the agg form on
    unique-id input (same xxhash64 salting, same distinct-set
    semantics including 64-bit hash collisions, and docs with zero
    shingles are absent from both — pinned by test_lsh_cap.py).
    Duplicate-id inputs must keep using the agg form.

    Expression hygiene (r15, found by the sf0.1 regression this first
    shipped with): ``tokens()`` must land as its OWN projection before
    ``word_shingles`` references it — passing the raw expression
    inlines the regex tokenizer into the shingle lambda BODY, where it
    re-executes once per shingle (O(shingles) regexes per row, a 6x
    wall regression). Same for the zero-shingle filter: gate on
    ``size(_toks) >= n`` (equivalent, attribute-cheap) instead of
    ``size(_sh) > 0``, which filter-pushdown would re-derive from
    scratch below the projection.

    r16: with ``hash_shingles=True`` the shingle identity is the
    TOKEN-WINDOW hash (see _window_hash_sql) — each token hashed once,
    each n-token window hashed as n fixed-width longs, no shingle
    string ever built. Measured 2x on the signature stage at sf1;
    family-consistent with ``shingle_hash_table`` + ``prehashed=True``
    (pinned by test_lsh_cap.py)."""
    toks = docs.select(F.col(id_col), tokens(text_col).alias("_toks")).filter(
        F.size("_toks") >= n
    )
    if hash_shingles:
        base = toks.select(
            F.col(id_col),
            F.expr("transform(_toks, t -> xxhash64(t))").alias("_th"),
        ).select(
            F.col(id_col), F.expr(_window_hash_sql("_th", n)).alias("_hs")
        )
        shingles = F.col("_hs")
    else:
        base = toks.select(
            F.col(id_col), word_shingles(F.col("_toks"), n).alias("_sh")
        ).select(
            # each shingle STRING hashed exactly once (r15): the table
            # hashes below re-hash the fixed-width long, not the string
            # — same family as minhash_signature_table. Own projection
            # for the same hygiene reason as _toks/_sh.
            F.col(id_col),
            F.col("_sh"),
            F.expr("transform(_sh, s -> xxhash64(s))").alias("_hs"),
        )
        shingles = F.col("_sh")
    mins = [
        F.array_min(
            F.expr(f"transform(_hs, h -> xxhash64(h, {i}))")
        ).alias(f"mh{i}")
        for i in range(n_tables)
    ]
    return base.select(
        F.col(id_col), shingles.alias("shingles"), *mins
    )


# Largest LSH bucket that emits candidate pairs. A bucket of b
# near-identical docs costs b(b-1)/2 pairs, so buckets over the cap
# are masked out of candidate generation and reported by
# minhash_hot_buckets — the cut is never silent.
LSH_BUCKET_CAP = 10_000

# Exact-Jaccard threshold of jaccard_verify; candidate emission drops
# the pairs whose length bound already falls under it.
JACCARD_THRESHOLD = 0.8


def jaccard_verify(
    joined: DataFrame,
    id_cols: list[str],
    sh_a: str = "sh_a",
    sh_b: str = "sh_b",
    threshold: float = JACCARD_THRESHOLD,
    handles: list[DataFrame] | None = None,
) -> DataFrame:
    """Exact-Jaccard verify over candidate pairs carrying both shingle
    sets: (ids..., jaccard) filtered to ``jaccard >= threshold``.

    r15 (guide §1.2 per-task work, found in the executed plan): the
    naive ``select(jaccard).filter(jaccard >= t)`` gets its filter
    pushed INTO the join condition, after which the projection
    recomputes it — ``array_intersect`` (the expensive part: a hash set
    per pair) was evaluated up to 5x per surviving pair (3x in the
    condition, 2x in the project). Computing the three counts behind a
    PERSIST barrier pins the intersect to exactly one evaluation per
    pair: the cached rows are (ids, n_common, n_a, n_b) — a few dozen
    bytes per candidate, same order as the candidate list itself — and
    the threshold filter runs on cached integers. Measured at sf1
    (57k docs, 492k candidates, fresh cache both arms): exec
    1.10-2.83 s -> 0.87-1.65 s. The division is a single IEEE divide
    on exact integers — bit-identical to the unbarriered form.

    r16 persist hygiene (VERDICT r15 #2): the persisted counts table
    is appended to ``handles`` when the caller passes a list, so
    callers that OWN the consuming action (the streaming per-batch
    probe, sinks) can unpersist after it completes instead of letting
    per-batch cache entries accumulate until LRU eviction. Callers
    that return a lazy DataFrame to an external driver cannot know
    when consumption ends; there the session owner's cache hygiene
    (bench.py clears between runs; oracle sweeps are one-shot
    processes) bounds the residency.

    Pairs failing the AllPairs length bound (``_size_ratio_ok``) are
    dropped before their array_intersect is evaluated. Candidates from
    ``minhash_candidate_pairs``/``minhash_probe_pairs`` already passed
    that bound at ``JACCARD_THRESHOLD``, so a caller verifying them
    at a LOWER threshold would miss pairs the emission dropped."""
    na = F.size(sh_a).cast("bigint")
    nb = F.size(sh_b).cast("bigint")
    pre = joined.filter(_size_ratio_ok(na, nb, threshold))
    nc = F.size(F.array_intersect(sh_a, sh_b)).cast("bigint")
    counts = pre.select(
        *id_cols, nc.alias("_nc"), na.alias("_na"), nb.alias("_nb")
    ).persist()
    if handles is not None:
        handles.append(counts)
    jac = F.col("_nc") * 1.0 / (F.col("_na") + F.col("_nb") - F.col("_nc"))
    return counts.select(*id_cols, jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


def _band32(i: int) -> Column:
    """32-bit band value of min-hash table ``i``: ``hash(mh_i)``
    (Murmur3, deterministic). Banding on it instead of the 64-bit
    min-hash halves the carried signature and the bucket key of the
    band exchange. A 32-bit collision between two DISTINCT mh values
    only MERGES buckets — the pair becomes a candidate it wasn't
    before, and the exact-Jaccard verify discards it. The one semantic
    channel is the bucket cap (a merged bucket could cross it where
    the 64-bit buckets did not), which needs thousands of colliding
    distinct values in one (t, v32) key."""
    return F.hash(F.col(f"mh{i}"))


def _size_ratio_ok(na: Column, nb: Column, ratio: float) -> Column:
    """jaccard(A, B) <= min(|A|,|B|) / (|A|+|B|-min) — the AllPairs
    length-filter bound. A pair failing it cannot reach ``ratio`` after
    the exact verify, so dropping it never changes a thresholded
    output. Exact at the boundary: when the intersection equals the
    smaller set, verify computes this very quotient; otherwise the real
    gap between bound and jaccard is orders of magnitude above 1 ulp
    (both are single IEEE divides of exact integers)."""
    mn = F.least(na, nb)
    return mn * 1.0 / (na + nb - mn) >= ratio


def _band_rows(
    sig: DataFrame, n_tables: int, id_col: str, hot: DataFrame | None = None
) -> DataFrame:
    """(_id, _sig, _n, t, v) band rows, one per doc and table: ``_sig``
    is the doc's 32-bit band array (``_band32`` per table), ``_n`` its
    shingle-set size, and ``v = _sig[t]`` the bucket key. Requires the
    ``shingles`` column.

    ``hot`` is a (t, v) relation of bucket keys to mask: each table
    looks its band up in it with a broadcast hash join, a hit sets that
    entry of ``_sig`` to NULL, and a NULL band emits no row. Masking
    happens before any (t, v) grouping, so a hot bucket never builds
    agg state."""
    rows = sig.select(
        F.col(id_col).alias("_id"),
        F.array(*[_band32(i) for i in range(n_tables)]).alias("_sig"),
        F.size("shingles").cast("int").alias("_n"),
    )
    if hot is not None:
        for i in range(n_tables):
            hit = hot.filter(F.col("t") == i).select(
                F.col("v").alias("_hv"), F.lit(True).alias(f"_h{i}")
            )
            rows = rows.join(
                F.broadcast(hit), F.col("_sig")[i] == F.col("_hv"), "left"
            ).drop("_hv")
        masked = [
            F.when(F.col(f"_h{i}").isNull(), F.col("_sig")[i])
            for i in range(n_tables)
        ]
        rows = rows.select("_id", F.array(*masked).alias("_sig"), "_n")
    return rows.select(
        "_id", "_sig", "_n", F.posexplode("_sig").alias("t", "v")
    ).filter(F.col("v").isNotNull())


def _emit(a: Column, b: Column, n_tables: int) -> Column:
    """Emission rule for two band-row structs (_id, _sig, _n) meeting
    in table ``t``: the pair passes the AllPairs length bound at
    ``JACCARD_THRESHOLD`` and ``t`` is the FIRST table where the two
    agree. Every pair is therefore emitted exactly once, with no
    dedup stage. Each earlier-table term is null-safe: a band masked
    to NULL (hot bucket) makes its term false, so a pair whose first
    agreement is hot surfaces from its first surviving table."""
    keep = _size_ratio_ok(a["_n"], b["_n"], JACCARD_THRESHOLD)
    for k in range(n_tables - 1):
        same = F.coalesce(a["_sig"][k] == b["_sig"][k], F.lit(False))
        keep = keep & ~((F.col("t") > k) & same)
    return keep


def minhash_hot_buckets(
    sig: DataFrame, n_tables: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """(t, v, bucket_rows) of the LSH buckets over ``LSH_BUCKET_CAP`` —
    the buckets ``minhash_candidate_pairs`` masks out. One small
    map-side-combined count; log it so the cut is never silent (a hot
    bucket at corpus scale usually means boilerplate/empty docs, and
    each pair inside it costs quadratic verify work).

    ``v`` is the 32-bit band hash ``hash(mh_t)`` (``_band32``) that the
    candidate paths bucket on, NOT a min-hash value."""
    return (
        _band_rows(sig, n_tables, id_col)
        .groupBy("t", "v")
        .agg(F.count("*").alias("bucket_rows"))
        .filter(F.col("bucket_rows") > LSH_BUCKET_CAP)
    )


def minhash_candidate_pairs(
    sig: DataFrame, n_tables: int = 16, id_col: str = "doc_id"
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing a (table, 32-bit band)
    bucket of at most ``LSH_BUCKET_CAP`` docs and passing the AllPairs
    length bound at ``JACCARD_THRESHOLD``. ``sig`` carries ``id_col``,
    ``shingles`` and ``mh0..mh{n_tables-1}``.

    The (table, value) banding IS the LSH trick: fan-out is bounded by
    bucket size, never quadratic in a hot shingle's document
    frequency. A pair with true Jaccard J escapes all tables with prob
    (1-J)^n_tables.

    Plan: the hot set — buckets over the cap, structurally <=
    rows*n_tables/cap keys and empty on a healthy corpus — is counted
    first and enters as one broadcast (t, v) relation that masks its
    bands (``_band_rows``); when it is empty no join is planned. Then
    ONE (t, v) aggregation collects each bucket's (id, band array,
    size) members, and a triangular explode pairs each member with
    the members after it. ``_emit`` keeps a pair only at its first
    agreeing table, so the output is distinct by construction and
    needs no dedup shuffle. Pairs inside a hot bucket still surface
    through their other tables; log the hot set with
    ``minhash_hot_buckets``."""
    hot = minhash_hot_buckets(sig, n_tables, id_col).select("t", "v").collect()
    hot_rel = (
        sig.sparkSession.createDataFrame(hot, "t int, v int") if hot else None
    )
    buckets = (
        _band_rows(sig, n_tables, id_col, hot_rel)
        .groupBy("t", "v")
        .agg(F.collect_list(F.struct("_id", "_sig", "_n")).alias("ms"))
        .filter(F.size("ms") >= 2)
    )
    pairs = buckets.select("t", "ms", F.posexplode("ms").alias("p", "x")).select(
        "t", "x", F.explode(F.expr("slice(ms, p + 2, size(ms))")).alias("y")
    )
    return pairs.filter(_emit(F.col("x"), F.col("y"), n_tables)).select(
        F.least("x._id", "y._id").alias("id_a"),
        F.greatest("x._id", "y._id").alias("id_b"),
    )


def minhash_probe_pairs(
    batch_sig: DataFrame,
    corpus_sig: DataFrame,
    n_tables: int = 16,
    id_col: str = "doc_id",
) -> DataFrame:
    """One-sided LSH probe: distinct (batch_id, corpus_id) candidates
    for an incoming batch against an existing corpus signature table,
    under the same band rows and emission rule (``_emit``) as
    ``minhash_candidate_pairs``.

    The daily-ingest shape at 100 TB: the corpus signatures are a
    MAINTAINED table (bucketed/partitioned on its band keys on disk),
    so dedup of a new batch never re-shuffles the corpus — the batch's
    band rows (|batch| x n_tables, typically MBs) BROADCAST into a map-
    side join against the corpus bands. No corpus self-join, no
    quadratic channel on the corpus side, and no cap: fan-out is
    |batch bucket| x |corpus bucket| only where band values collide."""
    b = _band_rows(batch_sig, n_tables, id_col).select(
        "t", "v", F.struct("_id", "_sig", "_n").alias("b")
    )
    c = _band_rows(corpus_sig, n_tables, id_col).select(
        "t", "v", F.struct("_id", "_sig", "_n").alias("c")
    )
    return (
        c.join(F.broadcast(b), ["t", "v"])
        .filter(_emit(F.col("b"), F.col("c"), n_tables))
        .select(F.col("b._id").alias("batch_id"), F.col("c._id").alias("corpus_id"))
    )


# SimHash lane geometry: 3 bit-counters per 64-bit sum at 21-bit lanes.
# Worst case (every counted token sets all 3 bits of a column) the sum is
# n * (2^42 + 2^21 + 1), which at n = 2^21 - 1 is EXACTLY 2^63 - 1 —
# the largest sane packing: no signed-int64 overflow, no inter-lane
# carry, counts exact up to 2,097,151 tokens/doc.
_SIMHASH_LANE_BITS = 21
_SIMHASH_LANES_PER_COL = 3
_SIMHASH_MAX_TOKENS = (1 << _SIMHASH_LANE_BITS) - 1  # 2,097,151


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_tokens: int = _SIMHASH_MAX_TOKENS,
    hash_expr: Column | None = None,
) -> DataFrame:
    """(id, n_tok, simhash) — 64-bit SimHash per document.

    Per doc: xxhash64 each token, majority-vote each bit position,
    reassemble a 64-bit signature. The +1/-1 vote sum reduces to set-bit
    counting (vote_i > 0 iff 2*count(bit_i set) > n_tok), and lane
    packing carries several bit-counters per 64-bit sum, so the
    aggregate is 22 long sums + count(*) instead of 64 (the r4 10x
    bench win) with one map-side-combined shuffle.

    Overflow guard (VERDICT r5 item 4 — the r4 16-bit x 4 packing
    actually overflowed the SIGNED top lane at ~32k tokens, caught by
    ANSI mode): lanes are 21-bit x 3 per column, exact to 2^21 - 1 =
    2,097,151 tokens (see _SIMHASH_LANE_BITS proof above), and tokens
    beyond ``max_tokens`` are deterministically truncated by a
    scan-side slice(), so a pathological mega-doc gets the signature of
    its first max_tokens tokens — never a silently corrupt one. Docs
    that long should be pre-chunked upstream anyway (x_chunk_docs);
    ``n_tok`` reports the counted tokens so callers can see when
    truncation applied."""
    if not 0 < max_tokens <= _SIMHASH_MAX_TOKENS:
        raise ValueError(
            f"max_tokens must be in [1, {_SIMHASH_MAX_TOKENS}] to keep"
            f" {_SIMHASH_LANE_BITS}-bit lanes exact"
        )
    lb, lpc = _SIMHASH_LANE_BITS, _SIMHASH_LANES_PER_COL
    n_cols = (64 + lpc - 1) // lpc
    # r15 (guide §2.5): tokenize+explode+vote is the expensive per-row
    # stage — when the input scan cannot split (single-row-group local
    # files: measured 2.4 s of executor time on 1 of 32 cores at
    # sf0.1), spread it by the doc key first; no-op when the scan
    # already yields >= cores splits. Bonus: the groupBy below keys on
    # the same column, so the pre-spread exchange REPLACES the agg
    # exchange rather than adding one (hashpartitioning(id) satisfies
    # the aggregation's clustering requirement).
    from hephaestus_spark.sources.tables import spread_scan

    docs = spread_scan(docs, id_col)
    # ``hash_expr`` (r15) swaps the per-token 64-bit hash: the default
    # xxhash64 is the fast path; x_simhash_portable passes an
    # md5-derived hash both engines can compute, which is what lets
    # the vote/packing/banding logic be oracle-checked cross-engine.
    toks = docs.select(
        F.col(id_col),
        F.explode(F.slice(tokens(text_col), 1, max_tokens)).alias("token"),
    ).withColumn(
        "h", hash_expr if hash_expr is not None else F.xxhash64("token")
    )
    lanes = [
        F.sum(
            F.expr(
                " | ".join(
                    f"(((h >> {lpc * j + k}) & 1) << {lb * k})"
                    for k in range(lpc)
                    if lpc * j + k < 64
                )
            )
        ).alias(f"lane{j}")
        for j in range(n_cols)
    ]
    votes = toks.groupBy(id_col).agg(F.count("*").alias("n_tok"), *lanes)
    return _simhash_assemble(votes, id_col)


def _simhash_assemble(votes: DataFrame, id_col: str) -> DataFrame:
    """(id, n_tok, lane0..laneN) -> (id, n_tok, simhash): unpack the
    21-bit lane counters and majority-vote each of the 64 bits.

    r15 build-cost fix: the signature is ONE SQL expression string
    parsed by a single F.expr — the previous per-bit Column chain (64 x
    when/shift/bitwiseOR builder calls) cost ~1.4-2.7 s of Py4J round
    trips per plan CONSTRUCTION, dominating x_simhash's measured
    build_sec. Identical expression tree, same codegen'd evaluation;
    shiftleft handles the sign bit and OR cannot overflow."""
    lb, lpc = _SIMHASH_LANE_BITS, _SIMHASH_LANES_PER_COL
    terms = []
    for i in range(64):
        j, k = divmod(i, lpc)
        terms.append(
            f"(CASE WHEN ((lane{j} >> {lb * k}) & {(1 << lb) - 1}) * 2"
            f" > n_tok THEN shiftleft(CAST(1 AS BIGINT), {i})"
            " ELSE CAST(0 AS BIGINT) END)"
        )
    return votes.select(
        id_col, "n_tok", F.expr(" | ".join(terms)).alias("simhash")
    )


# r15 negative result, measured then removed: a scan-side zero-shuffle
# SimHash (22 ``aggregate()`` lane walks over a per-row token-hash
# array, mirroring minhash_signature_scan) ran ~1.7x SLOWER warm than
# the explode->groupBy form at sf0.1 and sf1. Two reasons, both
# structural: (a) Spark evaluates higher-order-function lambdas
# INTERPRETED, per element, outside whole-stage codegen, while the
# lane sums in the agg form are codegen'd hash-aggregate updates; and
# (b) the agg form's shuffle was never token-sized to begin with —
# explode keeps a doc's tokens in one partition, so the map-side
# partial aggregate collapses to ONE row per doc before the exchange
# (docs-sized, unlike the minhash case where the agg carried wide
# collect_set shingle state). The explode->groupBy form IS the right
# form for this operator at every scale.


def stopword_hits(tokens_expr: str, words: list[str]) -> str:
    """SQL snippet: number of tokens that are in `words`."""
    lst = ", ".join(f"'{w}'" for w in words)
    return f"size(filter({tokens_expr}, t -> t IN ({lst})))"


def url_domain(url_col: str) -> F.Column:
    """Normalized registrable host of a URL-ish string: lowercase,
    scheme and leading www. stripped, path/query dropped. Pure regex
    projection (scan-side, zero shuffle); the pattern is RE2-compatible
    so a DuckDB oracle can run the identical extraction."""
    return F.regexp_extract(
        F.lower(F.col(url_col)), r"^[a-z]+://(www\.)?([^/?]+)", 2
    )
