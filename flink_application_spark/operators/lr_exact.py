"""Exact-integer (ppm-quantized) linear-classifier training — the
oracle-replayable TRAINING loop for the quality-classifier stage.

A float softmax trainer cannot be hash-checked: its gradient partials
are float sums with engine-dependent cross-partition order, and
softmax's exp() itself differs between engines in the last ulp. This
trainer removes BOTH float hazards — the round-7 determinism recipe
(`operators/kmeans_exact.py`) applied to gradient descent:

- the model is a one-vs-all LINEAR classifier trained on squared loss
  (a ridge classifier, scikit-learn's ``RidgeClassifier`` shape): the
  gradient is a POLYNOMIAL in the data — no transcendentals anywhere;
- inputs quantize ONCE to ppm integers; the bias folds in as a 65th
  coordinate with constant feature 1.0 (ppm 1e6), so one weight table,
  one gradient shape, one update rule cover the whole model (l2 then
  applies to the bias too — stated, deliberate, mirrored in the
  oracle);
- per-row logits are exact BIGINT dot products (scale 1e12; 65 terms
  of |x|≤~5.3e5 · |w|≤~1e7 ≈ 5e12 each ≪ 2⁶³), so the argmax
  prediction (ties → class ascending) is bit-deterministic under ANY
  partitioning;
- residuals downscale to 1e6 units via one double division + engine
  round() (identical IEEE ops both engines — the kmeans-proven pair);
- gradient partials are exact integer sums Σ rq·x (associative —
  order-free; summed into DECIMAL(38,0) on the Spark side for HUGEINT
  headroom, the round-7 ADVICE discipline). Each Arrow chunk's int64
  matmul is checked against max|rq|·max|x|·rows < 2⁶³ and falls back
  to exact Python-int accumulation where the check fails;
- the weight update runs INSIDE the engine as one double expression +
  round() + re-quantize (``CAST(round(w − step·(g/(n·1e6) + l2·w)) AS
  BIGINT)``), byte-identical text both sides, so weights stay integers
  and the next iteration is again exact.

The per-iteration profile (pre-update squared loss in 1e6 units,
pre-update argmax train-correct count, post-update weight L1 mass —
all exact BIGINTs) pins the ENTIRE trajectory in the driver's value
hash: the DuckDB oracle (`lr_exact_oracle_sql`) unrolls the `iters` GD
rounds as MATERIALIZED CTE stages and must reproduce every number
bit-for-bit. Final-weight argmax scoring (confusion matrix, holdout
accuracy) replays the same way with one extra scoring stage.

Scale shape: per iteration, one broadcast-literal scoring pass (the
weights ride into the expression as 650 literals — kilobytes) plus one
posexplode partial-agg reduction to (class, pos) cells — map-side
combine makes shuffle volume partitions×C×(d+1), corpus-size-
independent; driver state is C×(d+1) integers. Reference capability
anchor: the reference app's enrichment chain applies a config "model"
per record (EnrichmentApp.java lookup maps); here the model is LEARNED
from data, verifiably.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SCALE = 1_000_000
ONEHOT = SCALE * SCALE  # a true-class target of 1.0 at logit scale 1e12
STEP_SQL = "CAST(1.5 AS DOUBLE)"
L2_SQL = "CAST(0.001 AS DOUBLE)"


def quantize_ppm_labeled(
    emb: DataFrame, id_col: str = "vec_id", col: str = "embedding"
) -> DataFrame:
    """(vec_id, label, e) with e = the embedding as ppm BIGINTs plus a
    trailing constant 1e6 bias coordinate."""
    return emb.filter(
        F.col(col).isNotNull() & F.col("label").isNotNull()
    ).select(
        F.col(id_col).alias("vec_id"),
        F.col("label").cast("int").alias("label"),
        F.expr(
            f"concat(transform({col}, v -> CAST(round(CAST(v AS DOUBLE)"
            f" * {SCALE}) AS BIGINT)), array(CAST({SCALE} AS BIGINT)))"
        ).alias("e"),
    )


def _score_arr(weights: list[list[int]]) -> str:
    """SQL array of (s, cls) structs — one exact BIGINT dot product per
    class under the given integer weights (bias included as the last
    coordinate of each weight row)."""
    structs = ", ".join(
        "named_struct('s', aggregate(zip_with(e, array("
        + ", ".join(f"{int(v)}L" for v in wv)
        + f"), (a, b) -> a * b), 0L, (acc, x) -> acc + x), 'cls', {c})"
        for c, wv in enumerate(weights)
    )
    return f"array({structs})"


def _pred_expr(weights: list[list[int]]) -> str:
    """Argmax class (ties -> class ascending) as a scan-local
    expression: sort (−s, cls) ascending, take the head."""
    arr = _score_arr(weights)
    return (
        f"element_at(array_sort(transform({arr},"
        " x -> named_struct('ns', -x.s, 'cls', x.cls))), 1).cls"
    )


def _scored(q: DataFrame, weights: list[list[int]]) -> DataFrame:
    """(vec_id, label, e, rqs, pred): residuals in 1e6 units per class
    and the argmax prediction, all under the CURRENT weights.

    The 650-literal score array is projected ONCE (`_sc`) and both
    derivations read the projected column — the old form inlined the
    array into rqs AND pred, so every plan carried (and Catalyst
    analyzed) three copies of it per round (round-11 verdict item 6:
    per-round plan cost is a real fraction of the gate wall)."""
    arr = _score_arr(weights)
    rqs = (
        "transform(_sc, x -> CAST(round(CAST(x.s -"
        f" IF(label = x.cls, {ONEHOT}L, 0L) AS DOUBLE) / 1000000.0D)"
        " AS BIGINT))"
    )
    pred = (
        "element_at(array_sort(transform(_sc,"
        " x -> named_struct('ns', -x.s, 'cls', x.cls))), 1).cls"
    )
    return q.select(
        "vec_id", "label", "e", F.expr(arr).alias("_sc")
    ).select(
        "vec_id",
        "label",
        "e",
        F.expr(rqs).alias("rqs"),
        F.expr(pred).alias("pred"),
    )


# Rows per Arrow gradient chunk: bounds the int64 matmul — |rq·v| ≤
# ~1e13 at observed residual/coordinate magnitudes, so a 65536-row
# chunk's cell sum stays ≤ ~6.6e17 ≪ 2⁶³. `_exact_matmul` checks the
# bound per chunk and falls back to Python ints where it fails; chunk
# partials then combine in DECIMAL(38,0) Spark-side (exact,
# associative).
_GRAD_CHUNK = 65_536

_INT64_LIMIT = 2**63


# Tag row for the fused per-round pass: metrics ride the gradient
# exchange as (class = -1, pos0 = 0 → Σ lrow, pos0 = 1 → Σ ok).
_METRICS_CLASS = -1


def _exact_matmul(R, E):
    """Exact RᵀE over int64 matrices. The int64 matmul is used only
    when max|R| · max|E| · rows < 2⁶³, which bounds every product and
    every partial sum; otherwise the cells accumulate as Python ints
    (dtype=object) — slower, never wrapped."""

    def _absmax(a):
        return max(abs(int(a.max())), abs(int(a.min())))

    if _absmax(R) * _absmax(E) * R.shape[0] < _INT64_LIMIT:
        return R.T @ E
    return R.astype(object).T @ E.astype(object)


def _round_cells(scored: DataFrame) -> DataFrame:
    """ONE Arrow pass per GD round (guide §4.2 + §2.6 job-count
    discipline): exact gradient partials (class, pos0,
    g = Σ rq·v — a single RᵀE matmul per chunk instead of the
    n·C·(d+1)-row double-posexplode the first form shuffled into the
    650-cell aggregate) PLUS the round metrics as two tagged partial
    rows per task (class = -1). The per-row metric values (`lrow`,
    `ok`) are computed SPARK-SIDE in the input projection — their
    round()/IF() semantics stay in the engine, Python only sums exact
    integers (associative, so task/chunk order cannot change totals).
    Everything downstream combines in one DECIMAL(38,0) aggregate —
    the whole round costs ONE job where the first form cost two
    (metrics agg + gradient agg), each ~0.3 s of fixed sub-second-job
    overhead at the gate SF. Bit-identical trajectory pinned by
    tests/test_lr_exact.py and the unrolled DuckDB oracle.

    Rows whose `rqs` holds a NULL contribute no gradient: a ragged row
    (or one with a NULL coordinate) scores NULL, because `zip_with`
    pads the shorter array with NULL — the row-skip a SQL sum over
    NULL products gives. Such rows reach Python with `rqs` NULL; every
    other row has the model's full width."""
    import numpy as np
    import pandas as pd

    chunk = _GRAD_CHUNK

    def part(batches):
        lsum = 0
        csum = 0
        nonempty = False
        for pdf in batches:
            for lo in range(0, len(pdf), chunk):
                ch = pdf.iloc[lo : lo + chunk]
                if not len(ch):
                    continue
                nonempty = True
                lr = ch["lrow"].dropna()  # NULL lrow rows: old sum skipped
                if len(lr):
                    lsum += int(lr.astype("int64").sum())
                csum += int(ch["ok"].sum())
                rlist = ch["rqs"].tolist()
                keep = [i for i, rv in enumerate(rlist) if rv is not None]
                if not keep:
                    continue
                elist = ch["e"].tolist()
                R = np.array([rlist[i] for i in keep], dtype=np.int64)
                E = np.array([elist[i] for i in keep], dtype=np.int64)
                G = _exact_matmul(R, E)  # C×d exact
                C, d = G.shape
                yield pd.DataFrame(
                    {
                        "class": np.repeat(np.arange(C, dtype=np.int32), d),
                        "pos0": np.tile(np.arange(d, dtype=np.int32), C),
                        "g": pd.Series(G.ravel().tolist(), dtype=object),
                    }
                )
        if nonempty:
            yield pd.DataFrame(
                {
                    "class": np.array([_METRICS_CLASS] * 2, dtype=np.int32),
                    "pos0": np.array([0, 1], dtype=np.int32),
                    "g": pd.Series([lsum, csum], dtype=object),
                }
            )

    # A NULL-scored row turns its whole `rqs` and `e` NULL here, in the
    # engine: Arrow converts a batch's list column as one flat child
    # array, so a single NULL element would make every row of the batch
    # a float array.
    has_null = "exists(rqs, x -> x IS NULL)"
    inputs = scored.select(
        F.expr(f"IF({has_null}, NULL, rqs)").alias("rqs"),
        F.expr(f"IF({has_null}, NULL, e)").alias("e"),
        # per-row squared-loss term, the engine-side round() intact
        F.expr(
            "CAST(round(CAST(aggregate(rqs, 0L, (acc, x) -> acc + x * x)"
            " AS DOUBLE) / 1000.0D) AS BIGINT)"
        ).alias("lrow"),
        # NULL pred (ragged-row cascade) counts 0, exactly like the
        # old sum(IF(pred = label, 1, 0))
        F.expr("IF(pred = label, 1, 0)").alias("ok"),
    )
    return inputs.mapInPandas(part, "class int, pos0 int, g decimal(38,0)")


def lr_fit_exact(
    emb: DataFrame,
    k_classes: int = 10,
    iters: int = 8,
    id_col: str = "vec_id",
    col: str = "embedding",
) -> tuple[list[list[int]], list[tuple[int, int, int, int]]]:
    """Run `iters` exact-integer GD rounds from zero init and return
    (final ppm weights C×(d+1), profile rows). Profile row t =
    (iteration, loss_mu, correct, w_l1): squared loss in 1e6 units and
    argmax-correct count under the PRE-update weights, weight L1 mass
    AFTER the update — the bit-replayable trajectory."""
    q = quantize_ppm_labeled(emb, id_col, col).persist()
    first = q.select(F.count(F.lit(1)).alias("n"), F.max(F.size("e")).alias("d1")).collect()[0]
    n, d1 = int(first["n"] or 0), first["d1"]
    if n == 0:  # empty / all-NULL input: training is undefined — match
        # the oracle's WHERE n > 0 guard (zero profile rows)
        q.unpersist()
        return [], []
    spark = emb.sparkSession
    weights = [[0] * d1 for _ in range(k_classes)]
    prof: list[tuple[int, int, int, int]] = []
    for t in range(1, iters + 1):
        # one fused action per round (see _round_cells): the scored
        # projection is computed once inside it — no persist barrier,
        # no second scan, no second job. Current weights ride in as a
        # broadcast 650-row frame; the update expression — same text
        # as the oracle's w{t} stage — rounds inside the engine
        # (metrics rows have no matching w and pass through with
        # w_new NULL on the left join).
        scored = _scored(q, weights)
        wdf = spark.createDataFrame(
            [(c, p, w) for c, wv in enumerate(weights) for p, w in enumerate(wv)],
            "class int, pos0 int, w bigint",
        )
        rows = (
            _round_cells(scored)
            .groupBy("class", "pos0")
            .agg(F.expr("sum(g)").alias("g"))
            .join(F.broadcast(wdf), ["class", "pos0"], "left")
            .select(
                "class",
                "pos0",
                "g",
                F.expr(
                    "CAST(round(CAST(w AS DOUBLE)"
                    f" - {STEP_SQL} * (CAST(g AS DOUBLE)"
                    f" / (CAST({n} AS DOUBLE) * CAST({SCALE} AS DOUBLE))"
                    f" + {L2_SQL} * CAST(w AS DOUBLE))) AS BIGINT)"
                ).alias("w_new"),
            )
            .collect()
        )
        loss_mu = correct = 0
        new_w = [list(wv) for wv in weights]
        for r in rows:
            if r["class"] == _METRICS_CLASS:
                if r["pos0"] == 0:
                    loss_mu = int(r["g"])
                else:
                    correct = int(r["g"])
            else:
                new_w[r["class"]][r["pos0"]] = int(r["w_new"])
        weights = new_w
        w_l1 = sum(abs(v) for wv in weights for v in wv)
        prof.append((t, loss_mu, correct, w_l1))
    q.unpersist()
    return weights, prof


def lr_exact_predictions(emb: DataFrame, weights: list[list[int]]) -> DataFrame:
    """(vec_id, label, pred): exact-integer argmax scoring under the
    trained ppm weights — scan-local, embeddings never shuffle."""
    q = quantize_ppm_labeled(emb)
    return q.select("vec_id", "label", F.expr(_pred_expr(weights)).alias("pred"))


# ---------------------------------------------------------------- oracle

_Q_TMPL = """q AS MATERIALIZED (
  SELECT vec_id, CAST(label AS INTEGER) AS label,
         list_append(list_transform(embedding,
             v -> CAST(round(CAST(v AS DOUBLE) * {scale}) AS BIGINT)),
           CAST({scale} AS BIGINT)) AS e
  FROM embeddings
  WHERE embedding IS NOT NULL AND label IS NOT NULL{extra_pred}
)"""


def lr_exact_oracle_sql(
    k_classes: int = 10,
    iters: int = 8,
    dim: int = 64,
    mode: str = "profile",
    split_sql: str | None = None,
) -> str:
    """The DuckDB replay: `iters` GD rounds unrolled as MATERIALIZED
    CTE stages over the same ppm integers (the kmeans_exact unrolling
    recipe applied to gradient descent; materialization matters — the
    pca_exact lesson: plain CTEs re-expand the chain exponentially).

    mode='profile'   → (iteration, loss_mu, correct, w_l1) per round;
    mode='confusion' → final-weight argmax (label, pred, n_rows);
    mode='holdout'   → train on split_sql != 'holdout' rows, score all:
                       (split, n, correct, accuracy). `split_sql` is an
                       expression over vec_id yielding the split name.
    """
    d1 = dim + 1
    extra = ""
    if mode == "holdout":
        assert split_sql is not None
        extra = f"\n    AND ({split_sql}) <> 'holdout'"
    parts = [
        _Q_TMPL.format(scale=SCALE, extra_pred=extra),
        "n AS (SELECT count(*) AS n FROM q)",
        f"""w0 AS MATERIALIZED (
  SELECT c.class, p.pos, CAST(0 AS BIGINT) AS w
  FROM (SELECT unnest(range(0, {k_classes})) AS class) c
  CROSS JOIN (SELECT unnest(range(1, {d1 + 1})) AS pos) p
)""",
    ]
    for t in range(1, iters + 1):
        parts.append(
            f"""cw{t - 1} AS (
  SELECT class, list(w ORDER BY pos) AS wv FROM w{t - 1} GROUP BY class
)"""
        )
        parts.append(
            f"""sc{t} AS MATERIALIZED (
  SELECT q.vec_id, q.label, q.e, c.class,
         CAST(list_sum(list_transform(list_zip(q.e, c.wv),
                                      p -> p[1] * p[2])) AS BIGINT) AS s
  FROM q CROSS JOIN cw{t - 1} c
)"""
        )
        parts.append(
            f"""rq{t} AS MATERIALIZED (
  SELECT vec_id, label, e, class, s,
         CAST(round(CAST(s - CASE WHEN label = class THEN {ONEHOT}
                                  ELSE 0 END AS DOUBLE) / 1000000.0)
              AS BIGINT) AS rq
  FROM sc{t}
)"""
        )
        parts.append(
            f"""g{t} AS (
  SELECT class, p.pos AS pos, sum(rq * e[p.pos]) AS g
  FROM rq{t} CROSS JOIN (SELECT unnest(range(1, {d1 + 1})) AS pos) p
  GROUP BY class, p.pos
)"""
        )
        parts.append(
            f"""w{t} AS MATERIALIZED (
  SELECT w.class, w.pos,
         CAST(round(CAST(w.w AS DOUBLE)
              - {STEP_SQL} * (CAST(COALESCE(g.g, 0) AS DOUBLE)
                / (CAST(n.n AS DOUBLE) * CAST({SCALE} AS DOUBLE))
                + {L2_SQL} * CAST(w.w AS DOUBLE))) AS BIGINT) AS w
  FROM w{t - 1} w
  LEFT JOIN g{t} g ON g.class = w.class AND g.pos = w.pos
  CROSS JOIN n
)"""
        )
    body = ",\n".join(parts)
    if mode == "profile":
        rows = "\nUNION ALL\n".join(
            f"SELECT CAST({t} AS BIGINT) AS iteration,"
            f" (SELECT CAST(sum(lrow_m) AS BIGINT) FROM ("
            f"   SELECT CAST(round(CAST(CAST(sum(rq * rq) AS BIGINT)"
            f" AS DOUBLE) / 1000.0) AS BIGINT) AS lrow_m"
            f" FROM rq{t} GROUP BY vec_id)) AS loss_mu,"
            f" (SELECT CAST(count(*) FILTER (WHERE pred = label) AS BIGINT)"
            f" FROM (SELECT label, class AS pred,"
            f" row_number() OVER (PARTITION BY vec_id"
            f" ORDER BY s DESC, class ASC) AS rn FROM sc{t}) WHERE rn = 1)"
            f" AS correct,"
            f" (SELECT CAST(sum(abs(w)) AS BIGINT) FROM w{t}) AS w_l1"
            f" FROM n WHERE n.n > 0"
            for t in range(1, iters + 1)
        )
        return f"WITH {body}\nSELECT iteration, loss_mu, correct, w_l1 FROM ({rows})"
    # final-weight scoring stage shared by confusion / holdout
    final = f"""score AS (
  SELECT q.vec_id, q.label, c.class,
         CAST(list_sum(list_transform(list_zip(q.e, c.wv),
                                      p -> p[1] * p[2])) AS BIGINT) AS s
  FROM {{score_src}} q
  CROSS JOIN (SELECT class, list(w ORDER BY pos) AS wv
              FROM w{iters} GROUP BY class) c
),
pred AS (
  SELECT vec_id, label, class AS pred
  FROM (SELECT vec_id, label, class,
               row_number() OVER (PARTITION BY vec_id
                                  ORDER BY s DESC, class ASC) AS rn
        FROM score)
  WHERE rn = 1
)"""
    if mode == "confusion":
        final = final.format(score_src="q")
        return (
            f"WITH {body},\n{final}\n"
            "SELECT CAST(label AS BIGINT) AS label,"
            " CAST(pred AS BIGINT) AS pred,"
            " CAST(count(*) AS BIGINT) AS n_rows\n"
            "FROM pred GROUP BY label, pred"
        )
    assert mode == "holdout"
    qa = _Q_TMPL.format(scale=SCALE, extra_pred="").replace(
        "q AS MATERIALIZED", "qa AS MATERIALIZED", 1
    )
    final = final.format(score_src="qa")
    return (
        f"WITH {body},\n{qa},\n{final}\n"
        f"SELECT CASE WHEN ({split_sql}) = 'holdout' THEN 'holdout'"
        " ELSE 'train' END AS split,"
        " CAST(count(*) AS BIGINT) AS n,"
        " CAST(count(*) FILTER (WHERE pred = label) AS BIGINT) AS correct,"
        " round(avg(CASE WHEN pred = label THEN CAST(1 AS DOUBLE)"
        " ELSE CAST(0 AS DOUBLE) END), 6) AS accuracy\n"
        "FROM pred GROUP BY 1"
    )
