"""Learned quality-classifier filtering — the DCLM / FineWeb-Edu stage:
train a linear text classifier on a small trusted slice and keep
documents it scores highly. (DCLM, Li et al. 2024, filters with a
fastText classifier; FineWeb-Edu with a linear head on embeddings —
both are linear scorers over cheap text features.)

This engine trains logistic regression over hashed-bigram count
features with full-batch gradient descent, entirely as DataFrame plans:

- featurize: one explode + md5-bucket map (the DSIR feature space,
  ops/lm.dsir_logweights), counts L1-normalized per document.
- one GD iteration = score pass (broadcast model join + per-doc agg)
  followed by a gradient pass (per-bucket agg) — two shuffles over
  ids-only rows; the model (n_buckets weights + bias) is driver-sized
  and collected/rebroadcast per iteration, exactly the k-means
  centroid loop's shape (ops/clustering.kmeans_train).
- determinism contract: weights and bias are quantized to 6 decimals
  after EVERY update (the k-means quantize-per-update rule), so any
  engine replaying the same arithmetic — the DuckDB oracle does —
  reproduces the model bit-for-bit at the quantization grid.

Scale posture: the corpus-sized frames only ever carry
(id, bucket, x) rows; the model is O(n_buckets) and always broadcasts;
iteration count is a fixed hyperparameter. No per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_frame


def _features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    salt: str,
) -> DataFrame:
    """(id, b, x): L1-normalized hashed-bigram counts per document.
    Documents shorter than two tokens contribute their whole text as one
    feature (the with_shingles convention), so every document has x
    summing to exactly 1."""
    ws = f"split({text_col}, ' ')"
    grams = (
        f"CASE WHEN size({ws}) < 2 THEN array({text_col}) "
        f"ELSE transform(sequence(1, size({ws}) - 1), "
        f"i -> concat({ws}[i-1], ' ', {ws}[i])) END"
    )
    bucket = (
        f"pmod(cast(conv(substring(md5(concat(g, '{salt}')), 1, 4), 16, 10)"
        f" as int), {n_buckets})"
    )
    exploded = df.select(
        id_col, F.explode(F.expr(grams)).alias("g")
    ).withColumn("b", F.expr(bucket))
    counts = exploded.groupBy(id_col, "b").agg(
        F.count(F.lit(1)).alias("_c")
    )
    totals = exploded.groupBy(id_col).agg(F.count(F.lit(1)).alias("_n"))
    return counts.join(totals, id_col).select(
        id_col, "b", (F.col("_c") / F.col("_n")).alias("x")
    )


def _scores(
    feats: DataFrame, weights: list[float], bias: float, id_col: str
) -> DataFrame:
    """(id, p): σ(w·x + bias) under the given model. The weight table is
    a literal map lookup — n_buckets entries, codegen, no join."""
    spark = feats.sparkSession
    wdf = F.broadcast(
        local_frame(
            spark, [(i, float(w)) for i, w in enumerate(weights)], "b int, w double"
        )
    )
    z = feats.join(wdf, "b").groupBy(id_col).agg(
        (F.sum(F.col("x") * F.col("w")) + F.lit(float(bias))).alias("_z")
    )
    return z.select(
        id_col, (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("_z")))).alias("p")
    )


def hashed_logreg_train(
    df: DataFrame,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 256,
    iters: int = 2,
    lr: float = 1.0,
    salt: str = "clf",
) -> tuple[list[float], float]:
    """Train the classifier: full-batch GD from w=0, bias=0, for a fixed
    number of iterations; every update rounds to 6 decimals (the
    engine-portability quantization). ``label_col`` must be 0/1.

    Returns (weights, bias) — driver-sized, like k-means centroids."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    feats = _features(df, id_col, text_col, n_buckets, salt)
    labels = df.select(id_col, F.col(label_col).cast("double").alias("_y"))
    n = labels.count()
    weights = [0.0] * n_buckets
    bias = 0.0
    for _ in range(iters):
        p = _scores(feats, weights, bias, id_col)
        resid = labels.join(p, id_col, "left").select(
            id_col,
            (F.col("_y") - F.coalesce(F.col("p"), F.lit(0.5))).alias("_r"),
        )
        g = (
            feats.join(resid, id_col)
            .groupBy("b")
            .agg(F.sum(F.col("x") * F.col("_r")).alias("_g"))
            .collect()
        )
        gb = resid.agg(F.sum("_r")).collect()[0][0] or 0.0
        grad = {r["b"]: r["_g"] for r in g}
        weights = [
            round(weights[b] + lr * grad.get(b, 0.0) / n, 6)
            for b in range(n_buckets)
        ]
        bias = round(bias + lr * gb / n, 6)
    return weights, bias


def hashed_logreg_score(
    df: DataFrame,
    weights: list[float],
    bias: float,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "clf",
) -> DataFrame:
    """(id, score): σ(w·x + bias) rounded to 6 decimals — threshold the
    ROUNDED score (e.g. >= 0.5) so membership is engine-portable."""
    feats = _features(df, id_col, text_col, len(weights), salt)
    p = _scores(feats, weights, bias, id_col)
    return p.select(id_col, F.round("p", 6).alias("score"))
