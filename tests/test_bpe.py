"""BPE learning pinned against a pure-Python reference implementation
(classic Sennrich alg); oracle parity for the pair-count round is in
test_oracle_parity."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from flink_application_spark.catalog import table
from flink_application_spark.operators.bpe import (
    END,
    apply_merge,
    bpe_learn,
    bpe_segment,
    word_symbol_counts,
)


def _py_bpe(word_counts: dict[str, int], n_merges: int):
    """Reference BPE: per round, count adjacent pairs weighted by word
    freq, merge the (count desc, pair asc) winner left-to-right."""
    vocab = {w: list(w) + [END] for w in word_counts}
    rules = []
    for _ in range(n_merges):
        pairs: Counter = Counter()
        for w, syms in vocab.items():
            c = word_counts[w]
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        (lhs, rhs), n = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        rules.append((lhs, rhs, n))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return rules, vocab


def _word_counts(spark, sf_dir) -> dict[str, int]:
    docs = table(spark, sf_dir, "documents")
    rows = (
        docs.select(
            F.explode(
                F.filter(
                    F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != ""
                )
            ).alias("w")
        )
        .groupBy("w")
        .count()
        .collect()
    )
    return {r["w"]: r["count"] for r in rows}


def test_bpe_learn_matches_python_reference(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    got = bpe_learn(docs, n_merges=8)
    want, _ = _py_bpe(_word_counts(spark, sf_dir), 8)
    assert got == want


def test_bpe_segment_matches_python_vocab(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    rules = bpe_learn(docs, n_merges=8)
    seg = bpe_segment(word_symbol_counts(docs), rules)
    got = {r["word"]: r["syms"] for r in seg.collect()}
    _, vocab = _py_bpe(_word_counts(spark, sf_dir), 8)
    assert got == vocab
    # reconstruction: symbols concatenate back to word + terminal marker
    bad = seg.filter(
        F.concat_ws("", F.col("syms")) != F.concat(F.col("word"), F.lit(END))
    ).count()
    assert bad == 0


def test_apply_merge_overlapping_runs_left_to_right(spark):
    words = spark.createDataFrame(
        [("aaa", 1)], "word string, c bigint"
    ).select(
        "word",
        "c",
        F.concat(F.split("word", ""), F.array(F.lit(END))).alias("syms"),
    )
    out = apply_merge(words, "a", "a").collect()[0]["syms"]
    assert out == ["aa", "a", END]


def test_bpe_token_counts_match_python(spark, sf_dir):
    from flink_application_spark.plans.registry import REGISTRY_GET

    wc = _word_counts(spark, sf_dir)
    rules, vocab = _py_bpe(wc, 10)
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in REGISTRY_GET("doc_bpe_token_counts").spark(spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents")
    rows = docs.select(
        "doc_id",
        F.filter(F.split(F.lower(F.trim("text")), r"\s+"), lambda t: t != "").alias(
            "toks"
        ),
    ).collect()
    for r in rows:
        toks = r["toks"] or []
        if not toks:
            assert r["doc_id"] not in got
            continue
        want = (len(toks), sum(len(vocab[w]) for w in toks))
        assert got[r["doc_id"]] == want


def test_apply_merge_matches_python_on_random_words(spark):
    """Hypothesis-style randomized check (deterministic seed): the
    fold-based merge equals the reference left-to-right merge on
    adversarial alphabets (single letters, repeated runs)."""
    import random

    rng = random.Random(1234)
    words = set()
    for _ in range(60):
        words.add(
            "".join(rng.choice("aab") for _ in range(rng.randint(1, 8)))
        )
    wc = {w: 1 for w in words}
    df = spark.createDataFrame(
        [(w, 1) for w in words], "word string, c bigint"
    ).select(
        "word",
        "c",
        F.concat(F.split("word", ""), F.array(F.lit(END))).alias("syms"),
    )
    for lhs, rhs in [("a", "a"), ("a", "b"), ("aa", "b"), ("b", END)]:
        got = {
            r["word"]: r["syms"] for r in apply_merge(df, lhs, rhs).collect()
        }
        for w in words:
            syms, out, i = list(w) + [END], [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                    out.append(lhs + rhs)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            assert got[w] == out, (w, lhs, rhs)


def test_bpe_oracle_delimiter_precondition(sf_dir):
    """The DuckDB replay of the merge loop (`bpe_oracle_sql`) encodes
    symbol arrays as \\x01sym\\x02 wrapped strings — sound only while
    the corpus contains neither control character. Assert it on the
    fixture (the SPARK side needs no such guard). Pure DuckDB."""
    import duckdb

    con = duckdb.connect()
    n = con.execute(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet' "
        "WHERE text LIKE '%' || chr(1) || '%' OR text LIKE '%' || chr(2) || '%'"
    ).fetchone()[0]
    assert n == 0


def test_bpe_oracle_exhaustion_edge_parity(spark):
    """Merges exhaust BEFORE n_merges: bpe_learn breaks early and
    segments normally, and the oracle's per-round rewrite must be a
    NO-OP for the empty rounds (LEFT JOIN + COALESCE), not a
    vocabulary-wiping CROSS JOIN against the empty top-1 — the
    round-8 ADVICE divergence. Both oracle modes compared against the
    Spark path on a corpus with only two learnable merges."""
    import duckdb

    from flink_application_spark.operators.bpe import bpe_oracle_sql

    rows = [(0, "ab ab"), (1, "ab")]
    n_merges = 5  # > the 2 merges the corpus can yield
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    rules = bpe_learn(docs, n_merges=n_merges)
    assert [(l, r) for l, r, _ in rules] == [("a", "b"), ("ab", END)]
    vocab = bpe_segment(word_symbol_counts(docs), rules).collect()
    assert [(v["word"], v["n_sym"]) for v in vocab] == [("ab", 1)]

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    merges = con.sql(bpe_oracle_sql(n_merges, mode="merges")).fetchall()
    assert [(m[1], m[2], m[3]) for m in sorted(merges)] == rules
    toks = {
        d: (w, t)
        for d, w, t in con.sql(bpe_oracle_sql(n_merges, mode="tokens")).fetchall()
    }
    # every word collapses to the single symbol 'ab</w>'
    assert toks == {0: (2, 2), 1: (1, 1)}


def test_bpe_oracle_replace_is_greedy_nonoverlapping():
    """The wrapped-symbol string replace must equal the left-to-right
    greedy fold on overlapping runs: merge (a,a) turns aaa into
    [aa, a] and aaaa into [aa, aa] — replace() resumes AFTER each
    replacement, never re-matching inside one. Pure DuckDB."""
    import duckdb

    con = duckdb.connect()

    def enc(syms):
        return "".join(f"\x01{s}\x02" for s in syms)

    for word, want in [("aaa", ["aa", "a"]), ("aaaa", ["aa", "aa"]),
                       ("baab", ["b", "aa", "b"])]:
        got = con.execute(
            "SELECT replace(?, ?, ?)",
            [enc(list(word)), enc(["a", "a"]), enc(["aa"])],
        ).fetchone()[0]
        assert got == enc(want), (word, got)
