"""Incremental kNN-graph maintenance — INSERTION without rebuild
(round-10 capability; the third leg of the build/serve/maintain
story: `nndescent_exact` BUILDS, `graph_ann` SERVES, this module
GROWS the graph as new vectors arrive).

The procedure is the HNSW layer-0 insert (Malkov & Yashunin,
arXiv:1603.09320 §4, re-derived for the DataFrame model) in its
MICRO-BATCH form — the form a Spark pipeline actually runs: every
vector of an arriving wave beam-searches the FROZEN pre-wave graph
for its neighborhood (`graph_ann`'s greedy search, identical scoring),
takes the top-k of its final beam as out-neighbors, back-links each
neighbor to itself, and all touched adjacency lists re-prune to top-k
by (d2 ASC, dst ASC). Vectors within one wave do not see each other;
vectors in LATER waves see every earlier wave — exactly a streaming
ingest folding one micro-batch at a time.

Exact-integer throughout (the shared recipe): ppm vectors, BIGINT d²,
(d2 ASC, id ASC) ties, entry points = the `beam` smallest BASE
vec_ids (inserted ids are the corpus's largest, so the entry set is
wave-invariant), fixed hop/wave counts — so base build + every wave's
search + every re-prune unrolls as MATERIALIZED CTE stages in DuckDB
(`graph_insert_oracle_sql`) and replays bit-for-bit.

Scale shape: a wave of |W| inserts touches |W|·beam·(k+1) candidate
scorings per hop (equi-joins; corpus never scanned) plus one window
re-prune over |affected srcs|·(k+1) edges — independent of graph
size n except for the O(n·k) edge-frame union the prune reads, which
is ids-only. State between waves is the edge frame alone; at 100 TB
the graph lives partitioned by src and only the new/back-link rows
shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from flink_application_spark.operators.kmeans_exact import quantize_ppm
from flink_application_spark.operators.nndescent_exact import (
    _unroll_parts,
    nn_descent_exact,
)

__all__ = [
    "graph_insert_batch",
    "graph_insert_waves",
    "graph_insert_oracle_sql",
]

_D2 = (
    "aggregate(zip_with(e, qv, (a, b) -> (a - b) * (a - b)),"
    " 0L, (acc, x) -> acc + x)"
)


def _beam_topb(cand: DataFrame, coords: DataFrame, beam: int) -> DataFrame:
    """Score (query_id, qv, vec_id) candidates with exact integer d²
    and keep each query's top-`beam` — the shared hop kernel (same
    scoring and ties as graph_ann._score_topb; queries here are NEW
    vectors so no self-exclusion is possible within a wave, and an
    earlier-wave vertex is a legitimate neighbor, not a self)."""
    scored = cand.join(coords, "vec_id").select(
        "query_id", "qv", "vec_id", F.expr(_D2).alias("d2q")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2q").asc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= beam)
        .select("query_id", "qv", "vec_id", "d2q", "rank")
    )


def _prune_topk(edges: DataFrame, k: int) -> DataFrame:
    """Re-prune every adjacency list to its k nearest (d2 ASC, dst
    ASC) — the HNSW shrink step, applied to the whole edge frame (at
    scale this is one window over a src-partitioned frame; only srcs
    with new rows can change)."""
    w = Window.partitionBy("src").orderBy(F.col("d2").asc(), F.col("dst").asc())
    return (
        edges.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("src", "dst", "d2", "rank")
    )


def graph_insert_batch(
    graph: DataFrame,
    coords: DataFrame,
    new_vecs: DataFrame,
    *,
    k: int,
    beam: int,
    hops: int,
    entry_ids: list[int],
) -> tuple[DataFrame, DataFrame]:
    """Fold ONE wave of new vectors into the graph.

    graph:    current edges (src, dst, d2, rank) — ids + BIGINT only;
    coords:   ppm coordinates (vec_id, e) of every CURRENT vertex;
    new_vecs: (vec_id, e) of the wave (ids must be new);
    returns (updated graph, updated coords) — both unpersisted plans;
    callers checkpoint between waves."""
    edges = graph.select("src", "dst", "d2")
    queries = new_vecs.select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qv")
    )
    frontier = queries.select(
        "query_id",
        "qv",
        F.explode(F.array(*[F.lit(int(v)) for v in entry_ids])).alias("vec_id"),
    )
    beam_df = _beam_topb(frontier, coords, beam)
    edge_src = graph.select("src", "dst")
    for _ in range(hops):
        nbrs = beam_df.join(
            edge_src, beam_df["vec_id"] == edge_src["src"]
        ).select("query_id", "qv", F.col("dst").alias("vec_id"))
        cand = (
            beam_df.select("query_id", "qv", "vec_id")
            .unionByName(nbrs)
            .dropDuplicates(["query_id", "vec_id"])
        )
        beam_df = _beam_topb(cand, coords, beam)
    # out-neighbors: top-min(k, beam) of the final beam
    nb = beam_df.filter(F.col("rank") <= min(k, beam)).select(
        F.col("query_id").alias("src"), F.col("vec_id").alias("dst"),
        F.col("d2q").alias("d2"),
    )
    updated = _prune_topk(
        edges.unionByName(nb).unionByName(
            nb.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "d2")
        ),
        k,
    )
    return updated, coords.unionByName(new_vecs.select("vec_id", "e"))


def graph_insert_waves(
    emb: DataFrame,
    *,
    k: int = 6,
    beam: int = 8,
    hops: int = 2,
    n_insert: int = 4,
    n_waves: int = 2,
    graph_iters: int = 3,
    base_graph: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """End-to-end demonstration split: hold OUT the corpus's
    `n_insert` LARGEST vec_ids, NN-Descent-build the base graph over
    the rest (or take a prebuilt `base_graph` over exactly that
    base — the session memo path), then fold the held-out vectors
    back in over `n_waves` micro-batches in ascending-id order.
    Returns the final graph (vec_id, nbr_id, d2, rank) over the FULL
    corpus — bit-replayable by `graph_insert_oracle_sql`."""
    if n_waves < 1 or n_insert < n_waves:
        raise ValueError(f"need 1 <= n_waves <= n_insert; got {n_waves}, {n_insert}")
    q = quantize_ppm(emb, id_col, vec_col).persist()
    ins_rows = q.orderBy(F.col("vec_id").desc()).limit(n_insert).collect()
    ins_ids = sorted(r["vec_id"] for r in ins_rows)  # ascending insert order
    base = q.filter(~F.col("vec_id").isin([int(i) for i in ins_ids]))
    if base_graph is None:
        # build from the RAW column — quantize_ppm scales DOUBLE→ppm,
        # so feeding it the already-ppm frame would double-scale
        base_graph = nn_descent_exact(
            emb.filter(
                F.col(vec_col).isNotNull()
                & ~F.col(id_col).isin([int(i) for i in ins_ids])
            ),
            k=k,
            n_iter=graph_iters,
            id_col=id_col,
            vec_col=vec_col,
        )
    graph = base_graph.select(
        F.col(id_col).alias("src"), F.col("nbr_id").alias("dst"), "d2", "rank"
    ).localCheckpoint()
    # coordinate side of every wave's candidate-scoring join: the FULL
    # persisted ppm frame. Candidates can only ever be CURRENT vertices
    # (entry points are base ids; hop expansions follow the frozen
    # pre-wave graph's edges), so the inner join matches exactly the
    # same rows as the old per-wave base∪earlier-waves union — which
    # cost one localCheckpoint job per wave for a frame q already held
    # (round-11 verdict item 5: halve blocking jobs per round).
    coords = q.select("vec_id", "e")
    entry_ids = [
        r["vec_id"] for r in base.orderBy("vec_id").limit(beam).collect()
    ]
    # fixed wave membership: ceil-split the ascending insert ids
    per = -(-n_insert // n_waves)
    for w in range(n_waves):
        wave_ids = ins_ids[w * per : (w + 1) * per]
        if not wave_ids:
            break
        new_vecs = q.filter(F.col("vec_id").isin([int(i) for i in wave_ids]))
        graph, _ = graph_insert_batch(
            graph, coords, new_vecs, k=k, beam=beam, hops=hops, entry_ids=entry_ids
        )
        graph = graph.localCheckpoint()
    q.unpersist()
    return graph.select(
        F.col("src").alias(id_col), F.col("dst").alias("nbr_id"), "d2", "rank"
    )


# --------------------------------------------------------------------
# DuckDB replay


def graph_insert_oracle_sql(
    mode: str = "graph",
    k: int = 6,
    *,
    beam: int = 8,
    hops: int = 2,
    n_insert: int = 4,
    n_waves: int = 2,
    graph_iters: int = 3,
    search_k: int = 6,
    search_beam: int = 8,
    search_hops: int = 3,
    n_queries: int = 5,
) -> str:
    """The full replay: NN-Descent unroll over the BASE corpus (all
    but the `n_insert` largest vec_ids), then per wave one beam-search
    chain for the wave's vectors plus one re-prune stage.

    mode='graph'  → the final adjacency (vec_id, nbr_id, d2, rank);
    mode='search' → `graph_ann`-style beam search for the first
                    `n_queries` vec_ids over the UPDATED graph
                    (query_id, vec_id, d2q, rank) — proves the
                    inserted vertices serve."""
    parts = [
        """qall AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        v -> CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT))
           AS e
  FROM embeddings WHERE embedding IS NOT NULL
)""",
        f"""cut AS MATERIALIZED (
  SELECT min(vec_id) AS c FROM (
    SELECT vec_id FROM qall ORDER BY vec_id DESC LIMIT {n_insert})
)""",
    ]
    # the NN-Descent unroll, rebased onto the held-out-free corpus:
    # its stages reference `q`, which we define as the BASE subset
    # (drop the unroll's own q stage, substitute ours)
    base_parts = _unroll_parts(k, graph_iters, k)
    assert base_parts[0].startswith("q AS MATERIALIZED")
    parts.append(
        "q AS MATERIALIZED (SELECT vec_id, e FROM qall"
        " WHERE vec_id < (SELECT c FROM cut))"
    )
    parts.extend(base_parts[1:])
    T = graph_iters
    d2q = (
        "CAST(list_sum(list_transform(list_zip(c.e, s.qv),"
        " z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT)"
    )
    parts.append(
        f"""ins AS MATERIALIZED (
  SELECT vec_id, e, row_number() OVER (ORDER BY vec_id) AS rn
  FROM qall WHERE vec_id >= (SELECT c FROM cut)
)"""
    )
    parts.append(
        f"ent AS MATERIALIZED (SELECT vec_id FROM q ORDER BY vec_id LIMIT {beam})"
    )
    per = -(-n_insert // n_waves)
    prev_g = f"g{T}"  # (src, dst, d2, rank)
    for w in range(1, n_waves + 1):
        lo, hi = (w - 1) * per, min(w * per, n_insert)
        if lo >= hi:
            break
        parts.append(
            f"""wave{w} AS MATERIALIZED (
  SELECT vec_id AS query_id, e AS qv FROM ins WHERE rn > {lo} AND rn <= {hi}
)"""
        )
        # coordinates of CURRENT vertices (base + earlier waves) all
        # live in qall; hop candidates only ever reference current
        # vertices (entries are base, expansions follow prev_g edges)
        prev_b = None
        for t in range(hops + 1):
            cand = (
                f"SELECT s.query_id, s.qv, ent.vec_id FROM wave{w} s CROSS JOIN ent"
                if t == 0
                else f"""SELECT query_id, qv, vec_id FROM w{w}b{t - 1}
    UNION
    SELECT b.query_id, b.qv, g.dst AS vec_id
    FROM w{w}b{t - 1} b JOIN {prev_g} g ON g.src = b.vec_id"""
            )
            parts.append(
                f"""w{w}b{t} AS MATERIALIZED (
  SELECT query_id, qv, vec_id, d2q, rank FROM (
    SELECT s.query_id, s.qv, s.vec_id, {d2q} AS d2q,
           row_number() OVER (
             PARTITION BY s.query_id
             ORDER BY {d2q} ASC, s.vec_id ASC
           ) AS rank
    FROM (SELECT DISTINCT query_id, qv, vec_id FROM ({cand})) s
    JOIN qall c ON c.vec_id = s.vec_id
  ) WHERE rank <= {beam}
)"""
            )
            prev_b = f"w{w}b{t}"
        parts.append(
            f"""nb{w} AS MATERIALIZED (
  SELECT query_id AS src, vec_id AS dst, d2q AS d2
  FROM {prev_b} WHERE rank <= {min(k, beam)}
)"""
        )
        parts.append(
            f"""gw{w} AS MATERIALIZED (
  SELECT src, dst, d2, rank FROM (
    SELECT src, dst, d2,
           row_number() OVER (PARTITION BY src ORDER BY d2 ASC, dst ASC)
             AS rank
    FROM (SELECT src, dst, d2 FROM {prev_g}
          UNION ALL SELECT src, dst, d2 FROM nb{w}
          UNION ALL SELECT dst AS src, src AS dst, d2 FROM nb{w})
  ) WHERE rank <= {k}
)"""
        )
        prev_g = f"gw{w}"
    if mode == "graph":
        body = ",\n".join(parts)
        return (
            f"WITH {body}\n"
            f"SELECT src AS vec_id, dst AS nbr_id, d2,"
            f" CAST(rank AS INT) AS rank FROM {prev_g}"
        )
    assert mode == "search"
    parts.append(
        f"""qs AS MATERIALIZED (
  SELECT vec_id AS query_id, e AS qv FROM qall WHERE vec_id < {n_queries}
)"""
    )
    parts.append(
        "sent AS MATERIALIZED"
        f" (SELECT vec_id FROM qall ORDER BY vec_id LIMIT {search_beam})"
    )
    prev_b = None
    for t in range(search_hops + 1):
        cand = (
            "SELECT s.query_id, s.qv, sent.vec_id FROM qs s CROSS JOIN sent"
            if t == 0
            else f"""SELECT query_id, qv, vec_id FROM sb{t - 1}
    UNION
    SELECT b.query_id, b.qv, g.dst AS vec_id
    FROM sb{t - 1} b JOIN {prev_g} g ON g.src = b.vec_id"""
        )
        parts.append(
            f"""sb{t} AS MATERIALIZED (
  SELECT query_id, qv, vec_id, d2q, rank FROM (
    SELECT s.query_id, s.qv, s.vec_id, {d2q} AS d2q,
           row_number() OVER (
             PARTITION BY s.query_id
             ORDER BY {d2q} ASC, s.vec_id ASC
           ) AS rank
    FROM (SELECT DISTINCT query_id, qv, vec_id FROM ({cand})) s
    JOIN qall c ON c.vec_id = s.vec_id
    WHERE s.vec_id <> s.query_id
  ) WHERE rank <= {search_beam}
)"""
        )
        prev_b = f"sb{t}"
    body = ",\n".join(parts)
    return (
        f"WITH {body}\n"
        f"SELECT query_id, vec_id, d2q, CAST(rank AS INT) AS rank "
        f"FROM {prev_b} WHERE rank <= {search_k}"
    )
