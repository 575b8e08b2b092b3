"""Distributed logistic-regression training — the quality-CLASSIFIER-training
step of the LLM curation recipes (CCNet / GPT-3 / DataComp: positives = a
high-quality reference slice, negatives = the raw crawl; the trained model
then gates the corpus). `q_quality_logit` deploys a frozen model; this module
trains one, closing the "training happens outside the engine" gap.

Spark-first shape — the whole training loop is RELATIONAL, zero Python in the
hot path:

  1. Features live in LONG format: (doc_id, bucket, x) rows from hashed
     n-grams (xxhash64 % n_buckets, doc-frequency-normalized) plus one bias
     row per doc. No dense vectors, no pivot — at 100 TB the feature build is
     one explode + one map-side-combinable groupBy, and stays long forever.
  2. Each gradient-descent iteration is two co-partitioned shuffles:
     margin_d = Σ_b w_b·x_db  — broadcast-join the O(n_buckets) weight table
     onto features, groupBy(doc);  residual_d = y_d − σ(margin_d);
     grad_b = Σ_d residual_d·x_db — join residuals back onto features
     (co-partitioned on doc_id, AQE turns it into a local join), groupBy
     (bucket). The driver only ever holds the O(n_buckets) weight vector.
  3. Bit-determinism under ANY partitioning: floating-point `sum()` is
     order-dependent, so every cross-row reduction (margins, gradients, loss)
     sums decimal(38,18)-cast contributions — exact integer arithmetic
     underneath, identical on 1 or 1000 partitions (tested). Per-row products
     stay double (deterministic per row).

The loss is standard L2-regularized logistic NLL; with a fixed step this is
plain batch GD — per-iteration mean loss is returned so tests can pin
monotone descent on separable data.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_DEC = "decimal(38,18)"
BIAS_BUCKET = -1


def hashed_features(
    docs: DataFrame,
    n_buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Long-format hashed bag-of-words features: (doc_id, bucket, x) with
    x = term_count / doc_token_count, plus a constant bias row
    (bucket = BIAS_BUCKET, x = 1.0) per document. Pure JVM: explode + xxhash64
    + two map-side-combinable groupBys."""
    words = docs.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.split(F.col(text_col), r"\s+")).alias("word"),
    ).where(F.length("word") > 0)
    counts = (
        words.select("_doc", F.pmod(F.xxhash64("word"), F.lit(n_buckets)).alias("bucket"))
        .groupBy("_doc", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    totals = counts.groupBy("_doc").agg(F.sum("cnt").alias("tot"))
    feats = counts.join(totals, on="_doc").select(
        "_doc",
        F.col("bucket").cast("int").alias("bucket"),
        (F.col("cnt").cast("double") / F.col("tot").cast("double")).alias("x"),
    )
    bias = totals.select(
        "_doc", F.lit(BIAS_BUCKET).cast("int").alias("bucket"), F.lit(1.0).alias("x")
    )
    return feats.unionByName(bias)


# Above this many buckets the weight lookup goes back to a broadcast join:
# a literal MAP with tens of thousands of entries bloats the plan and codegen
# (planning is driver-side, single-threaded — guide §7.3), while below it the
# map ships inside the task binary and saves a createDataFrame + broadcast
# round-trip per call (8 per training build).
_LITERAL_MAP_MAX_BUCKETS = 4096


def _margins(features: DataFrame, weights: dict[int, float]) -> DataFrame:
    """(doc, margin): decimal-exact Σ_b w_b·x_db. The weight table is tiny
    (O(n_buckets)); look it up via a literal MAP expression instead of a
    broadcast join when it fits (identical per-row product w·x — same double
    values — and the same order-invariant decimal sum, so margins are
    bit-identical; pinned in tests/test_logreg.py)."""
    items = sorted(weights.items())
    if len(items) <= _LITERAL_MAP_MAX_BUCKETS:
        wmap = F.create_map(
            *[F.lit(v) for b, w in items for v in (int(b), float(w))]
        )
        # try_element_at: NULL-on-missing-key by contract in every ANSI mode
        # (plain element_at's missing-key behavior is mode-dependent)
        w_expr = F.try_element_at(wmap, F.col("bucket"))
        # the filter reproduces the join's INNER semantics exactly: rows with
        # unknown buckets are dropped, and a doc with no known bucket yields
        # no row (not a NULL margin)
        return (
            features.where(w_expr.isNotNull())
            .groupBy("_doc")
            .agg(
                F.sum((w_expr * F.col("x")).cast(_DEC)).cast("double").alias("margin")
            )
        )
    spark = features.sparkSession
    wdf = spark.createDataFrame(
        [(int(b), float(w)) for b, w in items], "bucket int, w double"
    )
    return (
        features.join(F.broadcast(wdf), on="bucket")
        .groupBy("_doc")
        .agg(
            F.sum((F.col("w") * F.col("x")).cast(_DEC)).cast("double").alias("margin")
        )
    )


def logreg_train(
    features: DataFrame,
    labels: DataFrame,
    n_iters: int = 20,
    lr: float = 2.0,
    l2: float = 1e-4,
) -> tuple[dict[int, float], list[float]]:
    """Batch gradient descent on L2-regularized logistic NLL.

    ``features``: (_doc, bucket, x) long rows (hashed_features output);
    ``labels``: (_doc, y) with y in {0.0, 1.0} (a NULL y raises
    ValueError). Returns (bucket -> weight, per-iteration mean loss). The
    corpus never leaves the cluster; each iteration moves only the
    O(n_buckets) weight vector through the driver, and every reduction is
    decimal-exact (partitioning-invariant).
    """
    from .dedup import track_cache

    # The loop's per-iteration m.join(labels) re-derived the label frame from
    # its source every iteration (n_iters corpus-grain scans at scale);
    # labels are loop-invariant, so pin them (released by release_cached(),
    # guide §5.3 — the same boundary the KN/unigram trainers use).
    labels = track_cache(labels.select("_doc", F.col("y").cast("double").alias("y")))
    # ONE upfront driver job instead of two: the label counts ride the
    # distinct-bucket collect as a tagged row (the r12/r13 trainer-fusion
    # pattern, guide §5) and materialize the label cache the loop reads.
    # Both union legs aggregate DIFFERENT frames, so no cache is raced.
    head = (
        features.select(F.col("bucket").cast("long").alias("v"))
        .distinct()
        .select("v", F.lit(False).alias("is_n"), F.lit(0).cast("long").alias("n_y"))
        .unionByName(
            labels.agg(F.count(F.lit(1)).alias("v"), F.count("y").alias("n_y")).select(
                "v", F.lit(True).alias("is_n"), "n_y"
            )
        )
        .collect()
    )
    n_row = next(r for r in head if r["is_n"])
    n_rows = int(n_row["v"])
    if n_rows == 0:
        raise ValueError("logreg_train: empty label set")
    # a NULL y has no residual: the gradient sums would skip it while the
    # means still divided by it, and an all-NULL column fails in float(None)
    if int(n_row["n_y"]) < n_rows:
        raise ValueError(
            f"logreg_train: {n_rows - int(n_row['n_y'])} of {n_rows} labels y are NULL"
        )
    buckets = [int(r["v"]) for r in head if not r["is_n"]]
    weights = {int(b): 0.0 for b in buckets}
    losses: list[float] = []
    for _ in range(n_iters):
        m = _margins(features, weights)
        # scored feeds BOTH the loss reduction and the gradient join; persist
        # the (tiny, one-row-per-doc... per-label-row) frame so margins are
        # computed once per iteration, not twice
        scored = m.join(labels, on="_doc").select(
            "_doc",
            (F.col("y") - F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))).alias(
                "resid"
            ),
            # numerically-stable NLL: log(1+e^-|m|) + max(0, -ym') with m' signed
            (
                F.log1p(F.exp(-F.abs("margin")))
                + F.greatest(F.lit(0.0), -(F.col("y") * 2 - 1) * F.col("margin"))
            ).alias("loss"),
        )
        scored = scored.persist()
        # ONE action per iteration: the loss scalar rides the gradient
        # collect as an extra marked row (r12 — guide §5: every driver
        # round trip is a full job launch, and the loop paid two per
        # iteration; the decimal-exact sums are unchanged, so weights and
        # losses stay bit-identical — pinned in tests/test_logreg.py).
        combined = (
            features.join(scored.select("_doc", "resid"), on="_doc")
            .groupBy("bucket")
            .agg(
                F.sum((F.col("resid") * F.col("x")).cast(_DEC))
                .cast("double")
                .alias("g")
            )
            .select("bucket", "g", F.lit(False).alias("is_loss"))
            .unionByName(
                scored.agg(
                    F.sum(F.col("loss").cast(_DEC)).cast("double").alias("g")
                ).select(
                    F.lit(None).cast("int").alias("bucket"),
                    "g",
                    F.lit(True).alias("is_loss"),
                )
            )
            .collect()
        )
        scored.unpersist()
        loss_sum = next(float(r["g"]) for r in combined if r["is_loss"])
        losses.append(loss_sum / n_rows)
        grads = {
            int(r["bucket"]): float(r["g"]) / n_rows
            for r in combined
            if not r["is_loss"]
        }
        # ascent on y-residual == descent on NLL; L2 shrinks everything but bias
        weights = {
            b: w + lr * (grads.get(b, 0.0) - (0.0 if b == BIAS_BUCKET else l2 * w))
            for b, w in sorted(weights.items())
        }
    return weights, losses


def logreg_score(features: DataFrame, weights: dict[int, float]) -> DataFrame:
    """(doc_id, margin, p): frozen-model inference — one broadcast join +
    one groupBy, map-only at corpus scale (the q_quality_logit deployment
    shape, with trained instead of literal weights)."""
    return _margins(features, weights).select(
        F.col("_doc").alias("doc_id"),
        "margin",
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("margin")))).alias("p"),
    )


def auc_rank(scored: DataFrame, labels: DataFrame) -> float:
    """Exact ROC-AUC via the rank statistic (Mann-Whitney U): AUC =
    (Σ ranks of positives − n⁺(n⁺+1)/2) / (n⁺·n⁻), average ranks for ties.
    One global sort-rank window — fine for eval-set sizing; the corpus-scale
    path samples or buckets scores first."""
    from pyspark.sql import Window

    joined = scored.join(labels, scored["doc_id"] == labels["_doc"]).select(
        "p", F.col("y").cast("double").alias("y")
    )
    w = Window.orderBy("p")
    ranked = joined.select(
        "y",
        # average rank within ties: (min_rank + max_rank)/2 via cume counts
        ((F.rank().over(w) + F.count(F.lit(1)).over(w.rangeBetween(Window.unboundedPreceding, 0))) / 2.0).alias(
            "r"
        ),
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("y") == 1.0, F.col("r")).otherwise(F.lit(0.0)).cast(_DEC))
        .cast("double")
        .alias("rpos"),
        F.sum(F.when(F.col("y") == 1.0, 1).otherwise(0)).alias("npos"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    npos, n = int(agg["npos"]), int(agg["n"])
    nneg = n - npos
    if npos == 0 or nneg == 0:
        raise ValueError("auc_rank: need both classes")
    return (float(agg["rpos"]) - npos * (npos + 1) / 2.0) / (npos * nneg)
