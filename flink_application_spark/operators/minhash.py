"""MinHash + LSH near-duplicate detection, SimHash, n-gram Jaccard.

Spark-first design for 100 TB document dedup:

1. **Signatures are scan-local**: shingling + k minhashes are
   per-row Catalyst expressions (transform/array_min over md5) — no
   shuffle, no Python, runs at scan speed.
2. **Banding turns O(n²) into a shuffle**: docs are exploded to
   (band_key, doc) and hash-partitioned on band_key; only same-bucket
   pairs are generated. Bucket skew is the scale hazard — a degenerate
   band key (e.g. empty docs) creates a quadratic bucket; we cap bucket
   contribution per key and note salting as the cluster-scale answer.
3. **Verification is a pair join**: candidates join back to shingle
   sets to compute exact Jaccard; the threshold filters false positives
   from banding.

The md5-based hash family is shared verbatim with the DuckDB oracle, so
the whole pipeline (signatures → bands → candidate pairs → verified
pairs) is hash-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from flink_application_spark.functions.text import tokens, word_ngrams  # noqa: F401 (word_ngrams re-exported)

DEFAULT_K = 8           # minhashes per doc
DEFAULT_BANDS = 4       # → rows_per_band = K / BANDS = 2
NGRAM = 3


def with_shingles(
    df: DataFrame,
    text_col: str = "text",
    n: int = NGRAM,
    id_col: str = "doc_id",
    num_partitions: int | None = None,
) -> DataFrame:
    """(id, shingles) with two exchange barriers, deliberately.

    Higher-order array functions run interpreted (outside whole-stage
    codegen) and Catalyst's CollapseProject inlines a projected
    expression into every downstream reference: naively, the tokenize
    expression is re-evaluated per n-gram position (~3·|tokens| splits
    of the full text per row) and the shingle array is re-built per
    minhash column. A `repartition` between the tokenize, shingle, and
    hash projections pins each to ONE evaluation (attributes cross an
    exchange, expressions don't) — measured 6.6× on the sf0.1
    documents table — and simultaneously spreads the hash work across
    the cluster instead of one-task-per-small-parquet-file. The
    shuffled payload is (id, tokens/shingles) only — the document body
    is dropped before the first exchange.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    toks = tokens(F.col(text_col))
    small = F.size(toks) < n  # size(NULL) = -1 → NULL text routes here too
    pre = df.select(
        F.col(id_col),
        toks.alias("_toks"),
        small.alias("_small"),
        F.when(small, F.lower(F.trim(F.col(text_col)))).alias("_whole"),
    ).repartition(num_partitions)
    grams = F.transform(
        F.sequence(F.lit(0), F.size("_toks") - n),
        lambda i: F.concat_ws(
            " ", *[F.element_at(F.col("_toks"), i + j + 1) for j in range(n)]
        ),
    )
    sh = pre.select(
        id_col,
        F.array_distinct(
            F.when(~F.col("_small"), grams).otherwise(F.array(F.col("_whole")))
        ).alias("shingles"),
    )
    return sh.repartition(num_partitions)


def lsh_candidate_recall(similarity: float, rows_per_band: int, bands: int) -> float:
    """P[candidate] for a pair at Jaccard `similarity` under banded
    MinHash-LSH with `bands` bands × `rows_per_band` rows: each band
    collides with probability s^r (all r minhashes agree), and the pair
    is a candidate if ANY band collides — 1 − (1 − s^r)^b (Broder /
    Leskovec-Rajaraman-Ullman ch. 3). Monotone in s, so this evaluated
    at the dedup threshold t lower-bounds the expected recall over all
    true pairs (every true pair has s ≥ t)."""
    if not (0.0 <= similarity <= 1.0):
        raise ValueError(f"similarity must be in [0, 1], got {similarity}")
    return 1.0 - (1.0 - similarity**rows_per_band) ** bands


def size_lsh_for_recall(
    threshold: float,
    target_recall: float,
    max_k: int = 256,
    max_rows_per_band: int = 16,
) -> tuple[int, int, int]:
    """Pick (k, rows_per_band, bands) so the banding's candidate recall
    at Jaccard = `threshold` meets `target_recall` — the 1−(1−t^r)^b
    sizing every pipeline must do BEFORE trusting LSH dedup at scale
    (q_lsh_recall_audit then measures the achieved recall on real data;
    tests validate the curve against the audit's measured numbers).

    Minimizes total signature width k = r·b (the per-doc compute and
    the band-store footprint); ties prefer LARGER r — a steeper S-curve
    admits fewer sub-threshold candidate pairs, i.e. better candidate
    precision for the same recall and k.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if not (0.0 < target_recall < 1.0):
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    import math

    best: tuple[int, int, int] | None = None
    for r in range(1, max_rows_per_band + 1):
        p_band = threshold**r
        # tiny p underflows 1-p to exactly 1.0 → log(1-p) = 0; no
        # finite b reaches the target at this r or any larger one
        if p_band <= 0.0 or (p_band < 1.0 and 1.0 - p_band >= 1.0):
            break
        # smallest b with 1-(1-p)^b >= target  ⇔  b >= log(1-target)/log(1-p)
        if p_band >= 1.0:
            b = 1
        else:
            b = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p_band)))
        k = r * b
        if k > max_k:
            continue
        # float-edge safety: the ceil can land a hair under target
        while lsh_candidate_recall(threshold, r, b) < target_recall and r * b <= max_k:
            b += 1
        k = r * b
        if k > max_k:
            continue
        if best is None or k < best[0] or (k == best[0] and r > best[1]):
            best = (k, r, b)
    if best is None:
        raise ValueError(
            f"no (rows, bands) with k <= {max_k} reaches recall "
            f"{target_recall} at threshold {threshold}"
        )
    return best


def minhash_expr(i: int) -> F.Column:
    """min over shingles of md5('<i>|' + shingle) — one permutation of
    the md5 hash family (lexicographic min over hex strings)."""
    return F.array_min(
        F.transform(F.col("shingles"), lambda s: F.md5(F.concat(F.lit(f"{i}|"), s)))
    )


def with_minhash_signature(df: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    # ONE select, not k withColumn calls: each withColumn copies the
    # whole plan through py4j, and the loop was ~40% of this stack's
    # driver-side build time on the bench queries (plan is identical)
    return df.select(
        "*", *[minhash_expr(i).alias(f"mh{i}") for i in range(k)]
    )


def with_band_keys(df: DataFrame, k: int = DEFAULT_K, bands: int = DEFAULT_BANDS) -> DataFrame:
    rows = k // bands
    return df.select(
        "*",
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"mh{b * rows + r}") for r in range(rows)]
                )
            ).alias(f"band{b}")
            for b in range(bands)
        ],
    )


def band_keys_long(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """(id, band_key) long form of the LSH fingerprint — `bands` small
    rows per document: the self-join input below. A frame that already carries the mh0..
    mh{k-1} signature columns is used as-is — callers that need the
    signatures AGAIN downstream (the estimate-vs-exact audit joins them
    to every candidate pair) sign once, persist, and pass the signed
    frame, instead of paying the k-hash interpreted fold per consumer."""
    signed = df if f"mh{k - 1}" in df.columns else with_minhash_signature(df, k)
    sig = with_band_keys(signed, k, bands)
    return sig.select(
        F.col(id_col).alias("id"),
        F.explode(F.array(*[F.col(f"band{b}") for b in range(bands)])).alias("band_key"),
    )


def bucket_self_pairs(
    bands_long: DataFrame, max_bucket_size: int | None = None
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing ≥1 band bucket.

    Rename one side's columns BEFORE the join: a self-join whose equi
    predicate references the same lineage can be resolved as a
    trivially-true same-column comparison, degrading to a single-task
    BroadcastNestedLoopJoin (O(n²) compares). Distinct aliases force a
    real hash equi-join on band_key.

    ``max_bucket_size`` is the 100-TB guard rail: a degenerate bucket
    (boilerplate-heavy corpora collapse many docs into one band value)
    contributes |bucket|² candidate rows to ONE join key — a single
    straggler task that can dominate the job. Capping skips buckets
    above the bound (documented recall loss on exactly those buckets;
    near-dup pairs inside a mega-bucket are usually boilerplate
    matches, and each doc pair still has bands-1 other chances to
    collide). Off by default so oracle-checked queries stay exact."""
    if max_bucket_size is not None:
        sizes = bands_long.groupBy("band_key").agg(F.count(F.lit(1)).alias("_n"))
        bands_long = (
            bands_long.join(sizes, "band_key")
            .filter(F.col("_n") <= max_bucket_size)
            .drop("_n")
        )
    a = bands_long.select(F.col("id").alias("id_a"), "band_key")
    b = bands_long.select(
        F.col("id").alias("id_b"), F.col("band_key").alias("band_key_b")
    )
    return (
        a.join(
            b,
            (F.col("band_key") == F.col("band_key_b")) & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .distinct()
    )


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Distinct candidate pairs (a < b) sharing ≥1 LSH band bucket.

    One shuffle on band_key; the self-join is per-bucket. At cluster
    scale add a bucket-size cap / salting for degenerate keys.
    """
    return bucket_self_pairs(band_keys_long(df, id_col, k, bands))


def jaccard_column(sh_a: F.Column, sh_b: F.Column) -> F.Column:
    """Exact Jaccard over two distinct-shingle arrays, 6 decimals."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_distinct(F.concat(sh_a, sh_b)))
    return F.round(inter.cast("double") / union, 6)


def verified_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Full MinHash-LSH pipeline: shingle → sign → band → candidate
    pairs → exact-Jaccard verification ≥ threshold.

    The shingle table feeds three consumers (banding + both sides of
    the verify join) — persist it so the tokenize/shingle work runs
    once. At cluster scale this is the natural checkpoint: signatures
    are tiny relative to the corpus and reused across rounds.
    """
    sh = with_shingles(docs, text_col, id_col=id_col).persist()
    pairs = lsh_candidate_pairs(sh, id_col, k, bands)
    a = sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a"))
    b = sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jaccard_column(F.col("sh_a"), F.col("sh_b")).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def _hex_digit_value(c: F.Column) -> F.Column:
    """Map a lowercase hex char to 0..15 via strpos arithmetic (portable
    with the DuckDB oracle — no conv() there)."""
    return F.instr(F.lit("0123456789abcdef"), c) - 1


def simhash_expr(n_bits: int = SIMHASH_BITS) -> F.Column:
    """SimHash over the doc's shingle set: bit j is the sign of
    sum(±1 per shingle) where the vote is bit j of md5(shingle).

    Bit j lives in hex digit j//4 of the md5, extracted with
    div/mod arithmetic so the construction is expressible identically
    in the oracle SQL.
    """
    def _vote(digit_pos: int, shift: int):
        # pyspark lambdas must have exactly the hof's arity — bind via closure
        def fold(acc, s):
            bit = (
                F.floor(
                    _hex_digit_value(F.substring(F.md5(s), digit_pos, 1)) / (2 ** shift)
                ).cast("bigint")
                % 2
            )
            return acc + bit * 2 - 1

        return fold

    total = F.lit(0).cast("bigint")
    for j in range(n_bits):
        votes = F.aggregate(
            F.col("shingles"),
            F.lit(0).cast("bigint"),
            _vote(j // 4 + 1, 3 - (j % 4)),
        )
        total = total + F.when(votes > 0, F.lit(2 ** j)).otherwise(F.lit(0))
    return total


# ---------------------------------------------------------------------------
# 60-bit SimHash (scale form)
# ---------------------------------------------------------------------------

SIMHASH64_BITS = 60  # 15 hex digits — fits a signed BIGINT with room


def with_simhash64(df: DataFrame, n_bits: int = SIMHASH64_BITS) -> DataFrame:
    """(…, simhash) with a 60-bit signature and ONE md5 per shingle.

    The 16-bit ``simhash_expr`` recomputes md5(shingle) inside every
    per-bit fold (16 md5 per shingle); at 60 bits that construction
    would do 60. Here the md5 hex strings are materialized once into
    an array column behind an exchange barrier (same CollapseProject
    reasoning as ``with_shingles``), and a SINGLE fold carries all
    ``n_bits`` vote counters as an array accumulator:

        votes[j] += bit_j(md5(s))   (one pass over the shingles)

    Bit j is hex digit j//4 (1-based), weight 2^(3-j%4) — identical
    digit arithmetic to ``simhash_expr``/the DuckDB oracle, so bit j
    of the result equals ``sign(sum ±1) > 0`` there: with o ones among
    n shingles, sum(±1) = 2o - n > 0  ⟺  2·votes[j] > n.

    Per-row cost is n_bits × |shingles| integer ops (no hashing) —
    scan-local, shuffle payload is (id, 32-byte hex strings).
    """
    num_partitions = df.sparkSession.sparkContext.defaultParallelism
    hashed = df.select(
        *[c for c in df.columns if c != "shingles"],
        F.transform(F.col("shingles"), F.md5).alias("_h"),
        F.size(F.col("shingles")).cast("bigint").alias("_n"),
    ).repartition(num_partitions)

    weights = F.array(*[F.lit(8 >> r) for r in range(4)])  # 2^(3-j%4)
    pow2 = F.array(*[F.lit(2 ** j).cast("bigint") for j in range(n_bits)])

    def add_votes(acc, h):
        # votes[j] += bit j of h, for all j at once
        def bit(j):
            pos = F.floor(j / 4).cast("int") + 1
            digit = F.instr(F.lit("0123456789abcdef"), h.substr(pos, F.lit(1))) - 1
            return F.floor(digit / F.element_at(weights, (j % 4 + 1).cast("int"))).cast("bigint") % 2

        return F.zip_with(
            acc, F.sequence(F.lit(0), F.lit(n_bits - 1)), lambda a, j: a + bit(j)
        )

    votes = F.aggregate(
        F.col("_h"),
        F.array_repeat(F.lit(0).cast("bigint"), n_bits),
        add_votes,
    )
    simhash = F.aggregate(
        F.zip_with(
            votes,
            F.sequence(F.lit(0), F.lit(n_bits - 1)),
            lambda v, j: F.when(v * 2 > F.col("_n"), F.element_at(pow2, j + 1)).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda a, x: a + x,
    )
    return hashed.withColumn("simhash", simhash).drop("_h", "_n")
