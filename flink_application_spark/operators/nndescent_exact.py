"""Exact-integer NN-Descent — the all-points kNN-graph builder (Dong,
Moses, Li — "Efficient k-nearest neighbor graph construction for
generic similarity measures", WWW 2011), the one numeric core for the
kNN-graph family.

Principle: *a neighbor of a neighbor is likely a neighbor.* Each round
every vertex introduces its current neighbors (incoming and outgoing)
to each other; the newly met pairs are scored; every vertex keeps the
k best edges seen so far. The recipe is the ivf_exact one end to end:

- vectors quantize ONCE to ppm BIGINTs (`kmeans_exact.quantize_ppm`);
- the edge score is the exact integer d² fold Σ(aᵢ−bᵢ)² — order-free
  under ANY partitioning, batching, or reduction order (so the Arrow
  scorer needs no fold-order pinning at all: int64 sums are exact);
- every top-k ties→(d2 ASC, dst ASC); the "random" initial graph is
  an md5-permuted ring (`_ring_init` — no RNG anywhere);
- the round count is a FIXED constant, so the whole neighbor-of-
  neighbor loop unrolls as MATERIALIZED CTE stages in DuckDB
  (`nn_descent_exact_oracle_sql`) — ring init, canonical-pair
  scoring, per-round candidate join, scored-ever anti-join, and
  top-k merge all replay bit-for-bit.

On unit-norm embeddings integer-L2 ranking IS the cosine ranking
(monotone transform), so the WWW'11 recall behavior carries over:
measured on a clustered 16-dim corpus, k=6 plateaus near 0.5 recall
while k=10 reaches 1.0 by round 6 (tests/test_nndescent_exact.py pins
the >= 0.9 contract at k=10).

Scale shape: graph state is n·k edges of ids + one BIGINT (never
vectors); embeddings move only through the candidate-scoring
equi-joins; the per-round candidate volume is bounded by
n·(2·sample_k)²; `localCheckpoint` truncates the iterative lineage per
round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from flink_application_spark.operators.kmeans_exact import quantize_ppm

__all__ = [
    "pair_d2_arrow",
    "nn_descent_exact",
    "nn_descent_exact_profile",
    "knn_graph_exact_int",
    "nn_descent_exact_oracle_sql",
]


def pair_d2_arrow(va, vb):
    """Arrow-batched exact integer d² between two array<bigint> (ppm)
    columns. No fold-order pinning is needed: int64 adds are
    associative and exact, so any vectorization order gives the same
    BIGINT. NULL or length-
    mismatched pairs yield NULL."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: module-level `from __future__ import annotations`
    # stringifies them into names pyspark can't resolve here
    @pandas_udf("long")
    def _d2(a, b):
        av, bv = a.tolist(), b.tolist()
        out = [None] * len(av)
        by_dim: dict[int, list[int]] = {}
        for i, (x, y) in enumerate(zip(av, bv)):
            if x is None or y is None or len(x) != len(y):
                continue
            by_dim.setdefault(len(x), []).append(i)
        for d, idxs in by_dim.items():
            X = np.array([av[i] for i in idxs], dtype=np.int64)
            Y = np.array([bv[i] for i in idxs], dtype=np.int64)
            diff = X - Y
            d2 = np.einsum("ij,ij->i", diff, diff)
            for j, i in enumerate(idxs):
                out[i] = int(d2[j])
        return pd.Series(out, dtype="object")

    return _d2(va, vb)


def _ring_init(emb: DataFrame, k: int, id_col: str) -> DataFrame:
    """Deterministic 'random' initial acquaintances: vertices are laid
    on a ring in md5-permuted id order; each takes the next k ring
    positions. One window + one equi-join; every vertex gets exactly
    min(k, n-1) distinct non-self neighbors, as directed (id_a, id_b).

    The global-order window is the one serial step; it runs ONCE, on
    (id, position) pairs only — never vectors. At cluster scale the
    same ring comes from a sort-based zip (repartitionByRange on the
    md5 + per-partition offsets + partition-boundary stitch); the
    single-window form is the correct-by-construction baseline."""
    n = emb.count()
    w = Window.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
    pos = emb.select(
        F.col(id_col).alias("_id"), (F.row_number().over(w) - 1).alias("_pos")
    )
    offs = F.explode(
        F.sequence(F.lit(1), F.lit(min(k, max(n - 1, 1))))
    ).alias("_off")
    want = pos.select("_id", "_pos", offs).withColumn(
        "_nbr_pos", (F.col("_pos") + F.col("_off")) % F.lit(n)
    )
    return (
        want.join(
            pos.select(F.col("_id").alias("_nbr"), F.col("_pos").alias("_nbr_pos")),
            "_nbr_pos",
        )
        # n <= k wraps the ring onto itself; never pair a vertex with itself
        .filter(F.col("_id") != F.col("_nbr"))
        .select(F.col("_id").alias("id_a"), F.col("_nbr").alias("id_b"))
    )


def _score_pairs_int(pairs: DataFrame, q: DataFrame) -> DataFrame:
    """(id_a, id_b) → (id_a, id_b, d2): two equi-joins pull the ppm
    vectors to the candidate pairs (the corpus never cross-joins), one
    Arrow int64 batch scores them exactly."""
    ea = q.select(F.col("vec_id").alias("id_a"), F.col("e").alias("_va"))
    eb = q.select(F.col("vec_id").alias("id_b"), F.col("e").alias("_vb"))
    return (
        pairs.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a", "id_b", pair_d2_arrow(F.col("_va"), F.col("_vb")).alias("d2")
        )
    )


def _topk_int(edges: DataFrame, k: int) -> DataFrame:
    """Keep each src's k NEAREST edges; ties → dst ascending."""
    w = Window.partitionBy("src").orderBy(F.col("d2").asc(), F.col("dst").asc())
    return (
        edges.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "d2", "rank")
    )


def _directed_int(scored: DataFrame) -> DataFrame:
    fwd = scored.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "d2")
    rev = scored.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "d2")
    return fwd.unionByName(rev)


def nn_descent_exact(
    emb: DataFrame,
    k: int = 6,
    n_iter: int = 3,
    *,
    sample_k: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _profile: list | None = None,
) -> DataFrame:
    """Exact-integer approximate kNN graph: (vec_id, nbr_id, d2, rank)
    with d2 the exact ppm-integer squared distance, rank 1..k by
    (d2 ASC, nbr ASC). Bit-replayable by the unrolled DuckDB oracle
    (`nn_descent_exact_oracle_sql`); NULL vectors excluded up front
    (no content to neighbor on — the set-similarity join contract).

    `sample_k` bounds how many of a vertex's current neighbors
    introduce each other per round (the paper's ρ·k sampling, made
    deterministic: the TOP sample_k by the kept order). Default: k."""
    if k < 1 or n_iter < 0:
        raise ValueError(f"need k >= 1, n_iter >= 0; got k={k}, n_iter={n_iter}")
    sk = min(sample_k or k, k)
    q = quantize_ppm(emb, id_col, vec_col).persist()

    # canonical init pairs: the ring is directed, but scores are
    # symmetric — canonicalize, score once, direct both ways
    init = (
        _ring_init(q.select(F.col("vec_id").alias(id_col), "e"), k, id_col)
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # ONE eager checkpoint seeds both loop states: graph rows tagged
    # 'g', scored-ever pairs tagged 'e' — and each round truncates both
    # lineages with ONE blocking job instead of two (round-11 verdict
    # item 5: 8 eager checkpoints at gate scale were overhead-dominated;
    # the builder's earlier eager=False attempt measured WORSE, so the
    # fix is fewer jobs, not lazier ones). The `fresh` subtree feeds
    # both tags; its shuffles dedupe via ReusedExchange inside the one
    # union plan. Filtering a tag back out of the checkpointed frame is
    # a narrow scan of materialized blocks.
    def _fuse(graph_df: DataFrame, ever_df: DataFrame) -> DataFrame:
        return graph_df.select(
            "src", "dst", "d2", "rank", F.lit("g").alias("_tag")
        ).unionByName(
            ever_df.select(
                F.col("id_a").alias("src"),
                F.col("id_b").alias("dst"),
                F.lit(None).cast("long").alias("d2"),
                F.lit(None).cast("int").alias("rank"),
                F.lit("e").alias("_tag"),
            )
        ).localCheckpoint()

    def _split(state_df: DataFrame) -> tuple[DataFrame, DataFrame]:
        return (
            state_df.filter(F.col("_tag") == "g").select("src", "dst", "d2", "rank"),
            state_df.filter(F.col("_tag") == "e").select(
                F.col("src").alias("id_a"), F.col("dst").alias("id_b")
            ),
        )

    graph, scored_ever = _split(
        _fuse(_topk_int(_directed_int(_score_pairs_int(init, q)), k), init)
    )

    for it in range(n_iter):
        intro = graph.filter(F.col("rank") <= sk)
        b = (
            intro.select(F.col("src").alias("pivot"), F.col("dst").alias("peer"))
            .unionByName(
                intro.select(F.col("dst").alias("pivot"), F.col("src").alias("peer"))
            )
            .dropDuplicates(["pivot", "peer"])
        )
        cand = (
            b.alias("x")
            .join(b.alias("y"), "pivot")
            .filter(F.col("x.peer") < F.col("y.peer"))
            .select(F.col("x.peer").alias("id_a"), F.col("y.peer").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        fresh = cand.join(scored_ever, ["id_a", "id_b"], "left_anti")
        scored = _directed_int(_score_pairs_int(fresh, q))
        merged, scored_ever = _split(
            _fuse(
                _topk_int(graph.select("src", "dst", "d2").unionByName(scored), k),
                scored_ever.unionByName(fresh),
            )
        )
        if _profile is not None:
            row = (
                merged.join(
                    graph.select("src", "dst").withColumn("_old", F.lit(1)),
                    ["src", "dst"],
                    "left",
                )
                .agg(
                    F.sum(
                        F.when(F.col("_old").isNull(), 1).otherwise(0)
                    ).alias("new"),
                    F.sum("d2").alias("d2sum"),
                )
                .collect()[0]
            )
            _profile.append(
                (it + 1, int(row["new"] or 0), int(row["d2sum"] or 0))
            )
        graph = merged

    q.unpersist()
    return graph.withColumnRenamed("src", id_col).withColumnRenamed("dst", "nbr_id")


def nn_descent_exact_profile(
    emb: DataFrame, spark, k: int = 6, n_iter: int = 3, **kw
) -> DataFrame:
    """Convergence readout, fully integer: per round the count of
    edges that entered a top-k list and the exact BIGINT sum of kept
    d² (non-increasing — every vertex's kept set only improves — and
    hashable, where a mean cosine would not be)."""
    prof: list = []
    nn_descent_exact(emb, k=k, n_iter=n_iter, _profile=prof, **kw)
    return spark.createDataFrame(
        prof, "iteration int, new_edges bigint, kept_d2_sum bigint"
    )


def knn_graph_exact_int(
    emb: DataFrame, k: int = 6, *, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact integer kNN graph — the O(n²) baseline the exact
    NN-Descent recall is measured against (INTENTIONALLY quadratic;
    its scale twin is nn_descent_exact itself).

    Two-phase scan: the ppm query matrix is COLLECTED (gate/test-scale
    bound, like every INTENTIONALLY_QUADRATIC baseline), each corpus Arrow
    batch emits only its per-query top-k partials (int64 matmul —
    exact, order-free), and one final window merges partials. Never
    the 100 TB path."""
    import numpy as np
    import pandas as pd

    from flink_application_spark.catalog import fan_out

    q = quantize_ppm(emb, id_col, vec_col)
    qrows = q.orderBy("vec_id").collect()
    if not qrows:
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} bigint, nbr_id bigint, d2 bigint, rank int"
        )
    qids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    Q = np.array([r["e"] for r in qrows], dtype=np.int64)

    def part(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cids = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = np.array(list(pdf["e"]), dtype=np.int64)
            # d2 = |q|^2 + |c|^2 - 2 q·c, all int64 (exact; ppm coords
            # ≤ ~1e6 so each term ≤ 64·(2e6)² ≈ 2.6e14 ≪ 2⁶³)
            qq = np.einsum("ij,ij->i", Q, Q)
            cc = np.einsum("ij,ij->i", C, C)
            d2 = qq[:, None] + cc[None, :] - 2 * (Q @ C.T)
            d2[qids[:, None] == cids[None, :]] = np.iinfo(np.int64).max  # self
            kk = min(k, d2.shape[1])
            idx = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
            rows = {
                "query_id": np.repeat(qids, kk),
                "vec_id": cids[idx].ravel(),
                "d2": np.take_along_axis(d2, idx, axis=1).ravel(),
            }
            out = pd.DataFrame(rows)
            yield out[out["d2"] != np.iinfo(np.int64).max]

    partials = fan_out(q).mapInPandas(
        part, "query_id bigint, vec_id bigint, d2 bigint"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("vec_id").asc()
    )
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("query_id").alias(id_col), F.col("vec_id").alias("nbr_id"),
            "d2", "rank",
        )
    )


# --------------------------------------------------------------------
# DuckDB replay


def _unroll_parts(k: int, n_iter: int, sk: int) -> list[str]:
    """The shared CTE stages: ppm base, md5 ring init, canonical-pair
    scoring, then per round (general-neighbor pivot table, candidate
    self-join, scored-ever anti-join, exact-d² scoring, top-k merge).
    Every stage MATERIALIZED — the chain is referenced across rounds
    and by the final readout (the kmeans_exact inlining lesson)."""
    d2 = (
        "CAST(list_sum(list_transform(list_zip(a.e, b.e),"
        " z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
    )
    parts = [
        """q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
           AS e
  FROM embeddings WHERE embedding IS NOT NULL
)""",
        # md5-permuted ring positions (`_ring_init`):
        # row_number over (md5(id::VARCHAR), id), 0-based
        """pos AS MATERIALIZED (
  SELECT vec_id AS id,
         row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
           AS p
  FROM q
)""",
        # each vertex takes the next min(k, max(n-1, 1)) ring slots;
        # canonicalized (scores are symmetric — score each edge once).
        # The neighbor position is computed in a PROJECTION before the
        # join: a scalar subquery inside the join condition defeats
        # the hash join (DuckDB falls back to a nested loop — measured
        # minutes at a 16k-vector sweep vs sub-second with the
        # precomputed column; round-9 sweep finding)
        f"""init AS MATERIALIZED (
  SELECT DISTINCT LEAST(a.id, b.id) AS id_a, GREATEST(a.id, b.id) AS id_b
  FROM (SELECT id, p,
               (p + off) % (SELECT count(*) FROM pos) AS nbr_p
        FROM (SELECT id, p,
                     unnest(generate_series(
                       1, LEAST({k},
                                GREATEST((SELECT count(*) FROM pos) - 1, 1))))
                       AS off
              FROM pos)) a
  JOIN pos b ON b.p = a.nbr_p
  WHERE a.id <> b.id
)""",
        f"""s0 AS MATERIALIZED (
  SELECT i.id_a, i.id_b, {d2} AS d2
  FROM init i JOIN q a ON a.vec_id = i.id_a JOIN q b ON b.vec_id = i.id_b
)""",
        f"""g0 AS MATERIALIZED (
  SELECT src, dst, d2, rank FROM (
    SELECT src, dst, d2,
           row_number() OVER (PARTITION BY src ORDER BY d2 ASC, dst ASC)
             AS rank
    FROM (SELECT id_a AS src, id_b AS dst, d2 FROM s0
          UNION ALL
          SELECT id_b AS src, id_a AS dst, d2 FROM s0)
  ) WHERE rank <= {k}
)""",
        "se0 AS MATERIALIZED (SELECT id_a, id_b FROM init)",
    ]
    for t in range(1, n_iter + 1):
        parts.append(
            f"""b{t} AS MATERIALIZED (
  SELECT DISTINCT pv, peer FROM (
    SELECT src AS pv, dst AS peer FROM g{t - 1} WHERE rank <= {sk}
    UNION ALL
    SELECT dst AS pv, src AS peer FROM g{t - 1} WHERE rank <= {sk}
  )
)"""
        )
        parts.append(
            f"""fresh{t} AS MATERIALIZED (
  SELECT id_a, id_b FROM (
    SELECT DISTINCT x.peer AS id_a, y.peer AS id_b
    FROM b{t} x JOIN b{t} y USING (pv)
    WHERE x.peer < y.peer
  ) c
  ANTI JOIN se{t - 1} USING (id_a, id_b)
)"""
        )
        parts.append(
            f"""se{t} AS MATERIALIZED (
  SELECT id_a, id_b FROM se{t - 1} UNION ALL SELECT id_a, id_b FROM fresh{t}
)"""
        )
        parts.append(
            f"""s{t} AS MATERIALIZED (
  SELECT i.id_a, i.id_b, {d2} AS d2
  FROM fresh{t} i
  JOIN q a ON a.vec_id = i.id_a JOIN q b ON b.vec_id = i.id_b
)"""
        )
        parts.append(
            f"""g{t} AS MATERIALIZED (
  SELECT src, dst, d2, rank FROM (
    SELECT src, dst, d2,
           row_number() OVER (PARTITION BY src ORDER BY d2 ASC, dst ASC)
             AS rank
    FROM (SELECT src, dst, d2 FROM g{t - 1}
          UNION ALL
          SELECT id_a AS src, id_b AS dst, d2 FROM s{t}
          UNION ALL
          SELECT id_b AS src, id_a AS dst, d2 FROM s{t})
  ) WHERE rank <= {k}
)"""
        )
    return parts


def nn_descent_exact_oracle_sql(
    mode: str = "graph", k: int = 6, n_iter: int = 3, sample_k: int | None = None
) -> str:
    """The DuckDB replay of the whole NN-Descent run.

    mode='graph'   → the final graph (vec_id, nbr_id, d2, rank);
    mode='profile' → per-round (iteration, new_edges, kept_d2_sum);
    mode='recall'  → one row (n_vertices, exact_edges, matched_edges,
                     recall_ppm) against the quadratic exact graph
                     (INTENTIONALLY_QUADRATIC — gate-scale baseline,
                     the same bound as knn_graph_exact_int)."""
    sk = min(sample_k or k, k)
    parts = _unroll_parts(k, n_iter, sk)
    T = n_iter
    if mode == "graph":
        body = ",\n".join(parts)
        return (
            f"WITH {body}\n"
            f"SELECT src AS vec_id, dst AS nbr_id, d2,"
            f" CAST(rank AS INT) AS rank FROM g{T}"
        )
    if mode == "profile":
        rows = "\nUNION ALL\n".join(
            f"SELECT CAST({t} AS INT) AS iteration,"
            f" (SELECT count(*) FROM g{t} gg ANTI JOIN"
            f" (SELECT src, dst FROM g{t - 1}) po USING (src, dst))"
            f" AS new_edges,"
            f" (SELECT CAST(sum(d2) AS BIGINT) FROM g{t}) AS kept_d2_sum"
            for t in range(1, T + 1)
        )
        body = ",\n".join(parts)
        return (
            f"WITH {body}\n"
            f"SELECT iteration, new_edges, kept_d2_sum FROM ({rows})"
        )
    assert mode == "recall"
    d2q = (
        "CAST(list_sum(list_transform(list_zip(a.e, b.e),"
        " z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
    )
    parts.append(
        f"""exact AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           row_number() OVER (
             PARTITION BY a.vec_id ORDER BY {d2q} ASC, b.vec_id ASC
           ) AS rank
    FROM q a CROSS JOIN q b
    WHERE a.vec_id <> b.vec_id
  ) WHERE rank <= {k}
)"""
    )
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT (SELECT count(DISTINCT src) FROM exact) AS n_vertices,
       (SELECT count(*) FROM exact) AS exact_edges,
       (SELECT count(*) FROM g{T} SEMI JOIN exact USING (src, dst))
         AS matched_edges,
       (SELECT count(*) FROM g{T} SEMI JOIN exact USING (src, dst))
         * 1000000 // (SELECT count(*) FROM exact) AS recall_ppm"""
