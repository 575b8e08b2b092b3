"""Modified Kneser-Ney LM (operators/kneser_ney.py) — pins:

  - the full part/gamma tables against an INDEPENDENT dict-based reference
    implementation of Chen & Goodman's interpolated modified KN (same
    padding/event convention, written from the formulas, not the dataflow)
  - discount formulas from count-of-counts
  - sum_w p(w|ctx) == 1 for seen AND unseen contexts (the telescoping
    normalization property)
  - per-doc perplexity vs the reference
  - bit-identical model tables under input repartitioning
"""

from __future__ import annotations

import math
from collections import Counter

import pytest

from timing_explorer_spark.operators.kneser_ney import (
    BOS,
    EOS,
    SEP,
    kn_perplexity,
    kn_prob,
    kn_train,
    ngram_counts,
)

TOY = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the log"),
    (3, "the cat ate the fish"),
    (4, "a dog ate a bone"),
    (5, "the cat sat"),
    (6, "a cat on a log"),
]
ORDER = 3


# ---------------------------------------------------------------- reference


def _ref_discounts(values) -> tuple[float, float, float]:
    n = Counter(v for v in values if v <= 4)
    n1, n2, n3, n4 = n.get(1, 0), n.get(2, 0), n.get(3, 0), n.get(4, 0)
    if n1 == 0 or n2 == 0:
        return 0.75, 0.75, 0.75
    y = n1 / (n1 + 2.0 * n2)
    d1 = 1.0 - 2.0 * y * n2 / n1
    d2 = 2.0 - 3.0 * y * n3 / n2 if n3 else 0.75
    d3 = 3.0 - 4.0 * y * n4 / n3 if n3 and n4 else 0.75
    clamp = lambda v, hi: min(max(v, 0.0), hi)  # noqa: E731
    return clamp(d1, 1.0), clamp(d2, 2.0), clamp(d3, 3.0)


def ref_train(texts: list[str], order: int):
    """Dict-based interpolated modified KN, straight from the formulas."""
    raw = {k: Counter() for k in range(1, order + 1)}
    for text in texts:
        arr = [BOS] * (order - 1) + text.split() + [EOS]
        for p in range(order - 1, len(arr)):  # 0-based predicted positions
            for k in range(1, order + 1):
                raw[k][tuple(arr[p - k + 1 : p + 1])] += 1
    adj: dict[int, dict] = {order: dict(raw[order])}
    for k in range(order - 1, 0, -1):
        cc: Counter = Counter()
        for g in raw[k + 1]:
            cc[g[1:]] += 1
        # KenLM/Chen-Goodman sentence-boundary rule (r7): BOS-anchored grams
        # keep RAW counts (their only left extension is <s>, so continuation
        # counting degenerates to 1)
        adj[k] = {
            g: (raw[k][g] if g[0] == BOS else c) for g, c in cc.items()
        }
    discounts = {k: _ref_discounts(adj[k].values()) for k in range(1, order + 1)}
    parts: dict[int, dict] = {}
    gammas: dict[int, dict] = {}
    for k in range(1, order + 1):
        d1, d2, d3 = discounts[k]
        stats: dict[tuple, list] = {}
        for g, a in adj[k].items():
            s = stats.setdefault(g[:-1], [0, 0, 0, 0])  # denom, t1, t2, t3+
            s[0] += a
            s[1 if a == 1 else 2 if a == 2 else 3] += 1
        dd = lambda a: d1 if a == 1 else d2 if a == 2 else d3  # noqa: E731
        parts[k] = {
            g: max(a - dd(a), 0.0) / stats[g[:-1]][0] for g, a in adj[k].items()
        }
        gammas[k] = {
            ctx: (d1 * s[1] + d2 * s[2] + d3 * s[3]) / s[0]
            for ctx, s in stats.items()
        }
    return parts, gammas, discounts, len(adj[1])


def ref_prob(gram: tuple, parts, gammas, order: int, v: int) -> float:
    p = parts[1].get((gram[-1],), 0.0) + gammas[1][()] * (1.0 / v)
    for k in range(2, order + 1):
        g = gram[order - k :]
        p = parts[k].get(g, 0.0) + gammas[k].get(g[:-1], 1.0) * p
    return p


def ref_ppl(text: str, parts, gammas, order: int, v: int) -> float:
    arr = [BOS] * (order - 1) + text.split() + [EOS]
    logs = [
        math.log(ref_prob(tuple(arr[p - order + 1 : p + 1]), parts, gammas, order, v))
        for p in range(order - 1, len(arr))
    ]
    return math.exp(-sum(logs) / len(logs))


# ------------------------------------------------------------------ helpers


def _toy_df(spark):
    return spark.createDataFrame(TOY, "doc_id int, text string")


def _collect_model(model):
    parts = {}
    gammas = {}
    for k in range(1, model.order + 1):
        parts[k] = {
            (tuple(r["ctx"].split(SEP)) if r["ctx"] else ()) + (r["w"],): r["part"]
            for r in model.parts[k].collect()
        }
        gammas[k] = {
            (tuple(r["ctx"].split(SEP)) if r["ctx"] else ()): r["gamma"]
            for r in model.gammas[k].collect()
        }
    return parts, gammas


@pytest.fixture(scope="module")
def toy_model(spark):
    """ONE order-3 model over the shared toy corpus (r13 suite-wall-time
    cut): kn_train is deterministic for a given input, so the eight tests
    that each trained this exact model now share a single training run.
    Tests must treat it as READ-ONLY (no unpersist, no table mutation)."""
    m = kn_train(_toy_df(spark), order=ORDER)
    yield m
    m.unpersist()


# -------------------------------------------------------------------- tests


def test_ngram_counts_events_convention(spark):
    """'a b a' padded to [<s>,<s>,a,b,a,</s>] yields exactly the 4
    prediction-event trigrams, each once — no pad-internal grams."""
    df = spark.createDataFrame([(1, "a b a")], "doc_id int, text string")
    rows = {r["gram"]: r["cnt"] for r in ngram_counts(df, k=3, order=3).collect()}
    assert rows == {
        SEP.join([BOS, BOS, "a"]): 1,
        SEP.join([BOS, "a", "b"]): 1,
        SEP.join(["a", "b", "a"]): 1,
        SEP.join(["b", "a", EOS]): 1,
    }


def test_kn_model_matches_reference(spark, toy_model):
    model = toy_model
    rparts, rgammas, rdisc, rv = ref_train([t for _, t in TOY], ORDER)
    assert model.vocab_size == rv
    for k in range(1, ORDER + 1):
        assert model.discounts[k] == pytest.approx(rdisc[k], abs=1e-12)
    sparts, sgammas = _collect_model(model)
    for k in range(1, ORDER + 1):
        assert set(sparts[k]) == set(rparts[k]), f"order-{k} part keys differ"
        for g, v in rparts[k].items():
            assert sparts[k][g] == pytest.approx(v, abs=1e-12), (k, g)
        assert set(sgammas[k]) == set(rgammas[k])
        for ctx, v in rgammas[k].items():
            assert sgammas[k][ctx] == pytest.approx(v, abs=1e-12), (k, ctx)
    assert model.gamma1 == pytest.approx(rgammas[1][()], abs=1e-12)


def test_kn_prob_sums_to_one_seen_and_unseen_context(spark, toy_model):
    model = toy_model
    rparts, rgammas, _, rv = ref_train([t for _, t in TOY], ORDER)
    vocab = sorted({w for (w,) in rparts[1]})
    assert BOS not in vocab  # <s> is never a predicted type
    contexts = [
        (BOS, "the"),      # seen
        ("the", "cat"),    # seen
        ("fish", "bone"),  # unseen at order 3 (passes through)
        ("zz", "qq"),      # fully OOV context
    ]
    queries = spark.createDataFrame(
        [([c0, c1, w],) for c0, c1 in contexts for w in vocab],
        "gram array<string>",
    )
    got = kn_prob(queries, model).collect()
    sums: dict[tuple, float] = {}
    for r in got:
        g = tuple(r["gram"])
        sums[g[:-1]] = sums.get(g[:-1], 0.0) + r["p"]
        assert r["p"] == pytest.approx(
            ref_prob(g, rparts, rgammas, ORDER, rv), abs=1e-12
        )
    for ctx, s in sums.items():
        assert s == pytest.approx(1.0, abs=1e-9), ctx


def test_kn_perplexity_matches_reference(spark, toy_model):
    model = toy_model
    rparts, rgammas, _, rv = ref_train([t for _, t in TOY], ORDER)
    got = {r["doc_id"]: r for r in kn_perplexity(_toy_df(spark), model).collect()}
    for doc_id, text in TOY:
        want = ref_ppl(text, rparts, rgammas, ORDER, rv)
        assert got[doc_id]["ppl"] == pytest.approx(want, rel=1e-9), doc_id
        assert got[doc_id]["n_tokens"] == len(text.split()) + 1


def test_kn_train_bit_identical_under_repartitioning(spark):
    df = _toy_df(spark)
    m1 = kn_train(df.repartition(1), order=ORDER)
    m7 = kn_train(df.repartition(7), order=ORDER)
    p1, g1 = _collect_model(m1)
    p7, g7 = _collect_model(m7)
    assert p1 == p7  # exact float equality — per-row ops on exact ints
    assert g1 == g7
    assert (m1.gamma1, m1.vocab_size) == (m7.gamma1, m7.vocab_size)
    m1.unpersist()
    m7.unpersist()


def test_ccnet_buckets_kn_path(spark, toy_model):
    """The model= flag routes ccnet_buckets through the KN scorer: balanced
    per-lang buckets, and an in-domain doc scores lower ppl than scrambled
    text under a model trained on the clean slice."""
    from timing_explorer_spark.operators.unigram import ccnet_buckets

    clean = [(i, t, "en") for i, t in TOY]
    extra = [
        (100, "the cat sat on the mat", "en"),        # in-domain repeat
        (101, "mat bone the on fish cat dog a", "en"),  # scrambled
        (102, "a dog ate a bone", "en"),
        (103, "log fish a ate on sat", "en"),
        (104, "the dog sat on the log", "en"),
        (105, "bone a mat dog the", "en"),
    ]
    docs = spark.createDataFrame(clean + extra, "doc_id int, text string, lang string")
    # toy_model is trained on exactly these texts (kn_train reads only
    # doc_id/text, so the lang column of the scored frame is irrelevant)
    model = toy_model
    out = {
        r["doc_id"]: r
        for r in ccnet_buckets(docs, n_buckets=3, model=model).collect()
    }
    assert len(out) == len(clean) + len(extra)
    sizes = Counter(r["bucket"] for r in out.values())
    assert set(sizes) == {1, 2, 3} and max(sizes.values()) - min(sizes.values()) <= 1
    assert out[100]["ppl"] < out[101]["ppl"]
    assert out[102]["ppl"] < out[103]["ppl"]


def test_kn_order5_matches_reference(spark):
    """The registry trains ORDER 5 — pin that against the reference too
    (the order-3 pin above covers the recursion; this covers the depth the
    driver actually runs)."""
    model = kn_train(_toy_df(spark), order=5)
    rparts, rgammas, rdisc, rv = ref_train([t for _, t in TOY], 5)
    assert model.vocab_size == rv
    for k in range(1, 6):
        assert model.discounts[k] == pytest.approx(rdisc[k], abs=1e-12)
    sparts, sgammas = _collect_model(model)
    for k in range(1, 6):
        assert set(sparts[k]) == set(rparts[k]), f"order-{k} keys"
        for g, v in rparts[k].items():
            assert sparts[k][g] == pytest.approx(v, abs=1e-12), (k, g)
        for ctx, v in rgammas[k].items():
            assert sgammas[k][ctx] == pytest.approx(v, abs=1e-12), (k, ctx)
    got = {r["doc_id"]: r["ppl"] for r in kn_perplexity(_toy_df(spark), model).collect()}
    for doc_id, text in TOY:
        assert got[doc_id] == pytest.approx(ref_ppl(text, rparts, rgammas, 5, rv), rel=1e-9)
    model.unpersist()


def test_kn_save_load_scores_identically(spark, tmp_path, toy_model):
    from timing_explorer_spark.operators.kneser_ney import kn_load, kn_save

    model = toy_model  # shared read-only fixture (unpersisted at module end)
    before = {r["doc_id"]: r["ppl"] for r in kn_perplexity(_toy_df(spark), model).collect()}
    kn_save(model, str(tmp_path / "knm"))
    loaded = kn_load(spark, str(tmp_path / "knm"))
    assert loaded.order == ORDER and loaded.discounts == model.discounts
    after = {r["doc_id"]: r["ppl"] for r in kn_perplexity(_toy_df(spark), loaded).collect()}
    assert after == before  # bit-identical scoring through the artifact
    loaded.unpersist()


def test_kn_save_prune_monotone_ppl(spark, tmp_path, toy_model):
    """KenLM-style count-threshold pruning (kn_save(prune=t)): higher
    thresholds drop a superset of part rows at orders >= 2, every
    probability weakly decreases (mass falls through to backoff, gammas
    not re-estimated), so per-doc perplexity degrades MONOTONICALLY in t
    — and the artifact genuinely shrinks."""
    from timing_explorer_spark.operators.kneser_ney import kn_load, kn_save

    model = toy_model
    ppls, rows = [], []
    for t in (0, 1, 2):
        p = str(tmp_path / f"knm_p{t}")
        kn_save(model, p, prune=t)
        loaded = kn_load(spark, p)
        ppls.append(
            {r["doc_id"]: r["ppl"] for r in kn_perplexity(_toy_df(spark), loaded).collect()}
        )
        rows.append(sum(loaded.parts[k].count() for k in range(2, ORDER + 1)))
        # unigram level is never pruned
        assert loaded.parts[1].count() == model.parts[1].count()
        loaded.unpersist()
    assert rows[0] >= rows[1] >= rows[2]
    assert rows[2] < rows[0], "pruning removed nothing on a singleton-rich corpus"
    for d in ppls[0]:
        assert ppls[0][d] <= ppls[1][d] * (1 + 1e-12)
        assert ppls[1][d] <= ppls[2][d] * (1 + 1e-12)
    assert any(ppls[1][d] > ppls[0][d] for d in ppls[0])  # degradation is real


def test_kn_save_quantized_layout(spark, tmp_path, toy_model):
    """kn_save(quantize=True): part/gamma stored as float32 (KenLM's
    quantized-binary analog); the loaded model reproduces exact-model
    scores to float32 relative precision."""
    from pyspark.sql.types import FloatType

    from timing_explorer_spark.operators.kneser_ney import kn_load, kn_save

    model = toy_model
    exact = {r["doc_id"]: r["ppl"] for r in kn_perplexity(_toy_df(spark), model).collect()}
    p = str(tmp_path / "knm_q")
    kn_save(model, p, quantize=True)
    on_disk = spark.read.parquet(f"{p}/part_{ORDER}.parquet")
    assert isinstance(on_disk.schema["part"].dataType, FloatType)
    g_disk = spark.read.parquet(f"{p}/gamma_{ORDER}.parquet")
    assert isinstance(g_disk.schema["gamma"].dataType, FloatType)
    loaded = kn_load(spark, p)
    got = {r["doc_id"]: r["ppl"] for r in kn_perplexity(_toy_df(spark), loaded).collect()}
    for d, v in exact.items():
        assert got[d] == pytest.approx(v, rel=1e-5), d
    loaded.unpersist()


def test_per_lang_models_equal_slice_training(spark, toy_model):
    """The CCNet per-language recipe: each language's model must be
    EXACTLY the model trained on that language's slice alone (no
    cross-language leakage through shared tables), and per-lang scoring
    routes every doc through its own model."""
    from timing_explorer_spark.operators.kneser_ney import (
        kn_perplexity_per_lang,
        kn_train_per_lang,
    )

    bilingual = [(i, t, "en") for i, t in TOY] + [
        (100, "der hund sitzt auf der matte", "de"),
        (101, "die katze sitzt auf dem baum", "de"),
        (102, "der hund frisst die wurst", "de"),
    ]
    docs = spark.createDataFrame(bilingual, "doc_id int, text string, lang string")
    models = kn_train_per_lang(docs, order=ORDER)
    assert set(models) == {"en", "de"}
    # en model == the model trained on the en slice alone (the shared
    # toy_model fixture IS that model — same texts, deterministic training)
    solo = toy_model
    assert models["en"].discounts == solo.discounts
    assert models["en"].vocab_size == solo.vocab_size
    p_multi, _ = _collect_model(models["en"])
    p_solo, _ = _collect_model(solo)
    assert p_multi == p_solo
    # per-lang scoring covers every doc exactly once, under its own model
    scored = {r["doc_id"]: r["ppl"] for r in kn_perplexity_per_lang(docs, models).collect()}
    assert set(scored) == {i for i, *_ in bilingual}
    solo_ppl = {r["doc_id"]: r["ppl"] for r in kn_perplexity(_toy_df(spark), solo).collect()}
    for i, _t in TOY:
        assert scored[i] == solo_ppl[i]
    for m in models.values():
        m.unpersist()
