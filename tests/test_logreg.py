"""Distributed logistic-regression training (operators/logreg.py) — rows-only
at the driver (iterative GD has no SQL oracle), so the semantics are pinned
here: feature construction invariants, loss descent + perfect separation on
separable data, exact tie-averaged rank AUC, and bit-identical training under
repartitioning (the decimal-sum contract).
"""

from __future__ import annotations

from timing_explorer_spark.operators.logreg import (
    BIAS_BUCKET,
    auc_rank,
    hashed_features,
    logreg_score,
    logreg_train,
)
from timing_explorer_spark.plans import all_queries

SPECS = all_queries()


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, "en", f"s{i % 2}", len(t)) for i, t in enumerate(texts)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


def _separable(spark, n=30):
    texts = [("good solid prose here " * 3) if i % 2 == 0 else ("spam junk noise blob " * 3) for i in range(n)]
    docs = _docs(spark, texts)
    labels = spark.createDataFrame(
        [(i, 1.0 if i % 2 == 0 else 0.0) for i in range(n)], "_doc bigint, y double"
    )
    return docs, labels


def test_hashed_features_invariants(spark):
    docs = _docs(spark, ["aa bb aa", "cc"])
    rows = hashed_features(docs, n_buckets=8).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["_doc"], []).append(r)
    for doc, rs in by_doc.items():
        biases = [r for r in rs if r["bucket"] == BIAS_BUCKET]
        assert len(biases) == 1 and biases[0]["x"] == 1.0
        word_x = [r["x"] for r in rs if r["bucket"] != BIAS_BUCKET]
        assert abs(sum(word_x) - 1.0) < 1e-12  # tf normalized per doc
        assert all(0 <= r["bucket"] < 8 for r in rs if r["bucket"] != BIAS_BUCKET)


def test_separable_data_learns(spark):
    docs, labels = _separable(spark)
    feats = hashed_features(docs, n_buckets=16).cache()
    weights, losses = logreg_train(feats, labels, n_iters=15, lr=1.0)
    assert losses[0] > losses[-1]  # descent
    assert abs(losses[0] - 0.6931471805599453) < 1e-9  # w=0 start: NLL = ln 2
    scored = {r["doc_id"]: r["p"] for r in logreg_score(feats, weights).collect()}
    assert all(scored[i] > 0.5 for i in range(0, 30, 2))
    assert all(scored[i] < 0.5 for i in range(1, 30, 2))
    assert auc_rank(logreg_score(feats, weights), labels) == 1.0


def test_auc_tie_averaging_closed_form(spark):
    scored = spark.createDataFrame(
        [(0, 0.0, 0.1), (1, 0.0, 0.4), (2, 0.0, 0.4), (3, 0.0, 0.8)],
        "doc_id bigint, margin double, p double",
    )
    labels = spark.createDataFrame(
        [(0, 0.0), (1, 0.0), (2, 1.0), (3, 1.0)], "_doc bigint, y double"
    )
    # ranks 1, 2.5, 2.5, 4 -> AUC = (6.5 - 3) / 4
    assert abs(auc_rank(scored, labels) - 0.875) < 1e-12


def test_training_bit_identical_under_repartitioning(spark):
    docs, labels = _separable(spark, n=24)
    f1 = hashed_features(docs.repartition(1), n_buckets=16).repartition(1)
    f2 = hashed_features(docs.repartition(7), n_buckets=16).repartition(13)
    w1, l1 = logreg_train(f1, labels, n_iters=6, lr=1.0)
    w2, l2 = logreg_train(f2, labels, n_iters=6, lr=1.0)
    assert w1 == w2  # decimal-exact reductions: identical floats
    assert l1 == l2


def test_registered_query_on_fixture(spark, sf_smoke):
    out = SPECS["q_quality_classifier_train"].build(spark, sf_smoke).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_docs"] > 0 and 0 < r["n_pos"] < r["n_docs"]
    assert r["loss_last"] < r["loss_first"]  # the bias alone beats ln 2
    assert 0.0 < r["auc"] <= 1.0
    assert r["n_features"] <= 33  # 32 hash buckets + bias


def test_empty_labels_raise(spark):
    """The empty-label guard must survive the r13 fused upfront collect (the
    count now rides the distinct-bucket job as a tagged row)."""
    import pytest

    feats = spark.createDataFrame([(0, -1, 1.0)], "_doc bigint, bucket int, x double")
    empty = spark.createDataFrame([], "_doc bigint, y double")
    with pytest.raises(ValueError, match="empty label set"):
        logreg_train(feats, empty, n_iters=1)


def test_fused_upfront_scalars_match_naive(spark):
    """The r13 single-job (n_rows, buckets) derivation must agree with the
    naive two-job form it replaced — trained weights cover every feature
    bucket exactly once, and the loss normalizer is the label count."""
    docs, labels = _separable(spark, n=10)
    feats = hashed_features(docs, n_buckets=16).cache()
    naive_buckets = {r["bucket"] for r in feats.select("bucket").distinct().collect()}
    n_labels = labels.count()
    weights, losses = logreg_train(feats, labels, n_iters=1, lr=1.0, l2=0.0)
    assert set(weights) == naive_buckets
    # losses[0] = loss_sum / n_rows with w=0: per-row loss is exactly ln 2,
    # so the normalizer is observable: mean == ln 2 iff n_rows == n_labels
    assert abs(losses[0] - 0.6931471805599453) < 1e-12
    assert n_labels == 10


def test_margins_literal_map_inner_join_semantics(spark):
    """The r13 literal-MAP weight lookup must reproduce the broadcast
    join's INNER semantics exactly: rows with buckets absent from the
    model are dropped, and a doc with ONLY unknown buckets yields no
    margin row (not a NULL). Expected values computed by hand."""
    from timing_explorer_spark.operators.logreg import _margins

    feats = spark.createDataFrame(
        [
            (0, -1, 1.0), (0, 5, 0.5),   # known + known
            (1, -1, 1.0), (1, 99, 0.5),  # known + UNKNOWN (dropped)
            (2, 99, 1.0),                # all unknown -> no row
        ],
        "_doc bigint, bucket int, x double",
    )
    out = {r["_doc"]: r["margin"] for r in _margins(feats, {-1: 2.0, 5: 4.0}).collect()}
    assert out == {0: 2.0 * 1.0 + 4.0 * 0.5, 1: 2.0 * 1.0}
    assert 2 not in out


def test_gradient_matches_finite_differences(spark):
    """The distributed decimal-exact gradient equals the numeric gradient of
    the NLL computed in pure Python on the same tiny dataset."""
    import math

    feats_rows = [
        (0, -1, 1.0), (0, 0, 0.5), (0, 1, 0.5),
        (1, -1, 1.0), (1, 0, 1.0),
        (2, -1, 1.0), (2, 1, 1.0),
    ]
    ys = {0: 1.0, 1: 0.0, 2: 1.0}
    feats = spark.createDataFrame(feats_rows, "_doc bigint, bucket int, x double")
    labels = spark.createDataFrame(list(ys.items()), "_doc bigint, y double")

    def py_loss(w):
        total = 0.0
        for d, y in ys.items():
            m = sum(x * w[b] for dd, b, x in feats_rows if dd == d)
            total += math.log1p(math.exp(-abs(m))) + max(0.0, -(2 * y - 1) * m)
        return total / len(ys)

    # one GD step from w=0 with lr and no L2: w1 = lr * grad_ascent
    weights, losses = logreg_train(feats, labels, n_iters=1, lr=1.0, l2=0.0)
    eps = 1e-6
    w0 = {b: 0.0 for b in (-1, 0, 1)}
    for b in w0:
        hi = dict(w0); hi[b] = eps
        lo = dict(w0); lo[b] = -eps
        numeric = (py_loss(hi) - py_loss(lo)) / (2 * eps)  # dNLL/dw
        # engine ascends (y - sigma): step = -dNLL/dw
        assert abs(weights[b] - (-numeric)) < 1e-6, (b, weights[b], -numeric)
    assert abs(losses[0] - py_loss(w0)) < 1e-12


def test_null_labels_raise(spark):
    """A NULL y has no residual: with one NULL the means divided by a count
    that included it, and an all-NULL column crashed in float(None). Both
    are a named ValueError, counted in the same upfront job."""
    import pytest

    feats = spark.createDataFrame(
        [(0, -1, 1.0), (1, -1, 1.0), (2, -1, 1.0)], "_doc bigint, bucket int, x double"
    )
    partly = spark.createDataFrame([(0, 1.0), (1, None), (2, 0.0)], "_doc bigint, y double")
    with pytest.raises(ValueError, match="1 of 3 labels y are NULL"):
        logreg_train(feats, partly, n_iters=1)
    all_null = spark.createDataFrame([(0, None), (1, None)], "_doc bigint, y double")
    with pytest.raises(ValueError, match="2 of 2 labels y are NULL"):
        logreg_train(feats, all_null, n_iters=1)


def test_registered_query_all_null_source_raises(spark, sf_smoke, tmp_path):
    """q_quality_classifier_train labels by documents.source; over a copy of
    the smoke fixture whose source is all NULL it names the NULL labels."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest

    docs = pq.read_table(f"{sf_smoke}/documents.parquet")
    i = docs.schema.get_field_index("source")
    docs = docs.set_column(i, "source", pa.nulls(docs.num_rows, docs.schema.field(i).type))
    pq.write_table(docs, tmp_path / "documents.parquet")
    with pytest.raises(ValueError, match="labels y are NULL"):
        SPECS["q_quality_classifier_train"].build(spark, str(tmp_path))
