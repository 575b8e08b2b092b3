"""Distributed modified Kneser-Ney n-gram language model (KenLM-class).

Closes the CCNet fidelity gap (round-6 verdict task #2): Wenzek et al. 2020
("CCNet: Extracting High Quality Monolingual Datasets from Web Crawl Data")
filter crawl text by perplexity under a 5-gram Kneser-Ney LM (KenLM) trained
on clean reference text. The unigram LM of operators/unigram.py keeps the
bucketing pipeline honest but not the LM family; this module trains the real
thing — interpolated MODIFIED Kneser-Ney smoothing (Chen & Goodman 1998/1999,
"An Empirical Study of Smoothing Techniques for Language Modeling", §2.7) —
as pure relational dataflow.

Model definition (Chen & Goodman's interpolated modified KN):

  p_k(w | h) = max(a(h,w) - D_k(a), 0) / denom(h)  +  gamma_k(h) * p_{k-1}(w | h')

  - a(h,w): ADJUSTED count — raw n-gram count at the highest order,
    CONTINUATION count N_{1+}(. h w) (distinct left-extension types) below
    it; grams whose context starts with <s> keep RAW counts at every order
    (their only left extension is <s>, so continuation degenerates to 1 —
    the KenLM/Chen-Goodman sentence-boundary rule, r7)
  - D_k(a): three discounts per order from that order's count-of-counts:
      Y = n1/(n1 + 2 n2); D1 = 1 - 2Y n2/n1; D2 = 2 - 3Y n3/n2; D3+ = 3 - 4Y n4/n3
  - gamma_k(h) = (D1 N1(h.) + D2 N2(h.) + D3+ N3+(h.)) / denom(h)
  - base case p_0 = 1/V (uniform over the prediction vocabulary)
  The construction telescopes: sum_w p_k(w|h) = 1 for every seen context
  (asserted in tests), and unseen contexts pass through (part=0, gamma=1).

Spark-first shape — every stage is JVM dataflow; NOTHING touches Python:

  1. Tokenize + pad: each document becomes [<s>]*(n-1) + words + [</s>].
     Counted grams are the spans ENDING at a predicted position (each real
     word and </s>) — exactly (m+1) spans per order per doc, so no gram ever
     predicts padding, <s> is never a predicted type, and counting equals
     the scoring-event grain. One explode per order, map-side-combinable
     groupBy counts. (Oracle-checkable in DuckDB: q_kn_ngram_counts.)
  2. Continuation counts at order k = distinct types of the order-(k+1)
     table grouped by its k-suffix — a groupBy over the TYPE table (n-gram
     vocabulary grain, Heaps-bounded, never the corpus).
  3. Count-of-counts -> discounts: a per-order histogram of adjusted counts
     (<=4 buckets each); the only driver-visible training state is the
     3x n_order discount matrix.
  4. part/gamma tables: one groupBy per order over the adjusted table
     (denominator + N1/N2/N3+ per context), then a per-row projection.
     Per-row float ops on exact integer inputs -> bit-identical tables
     under any partitioning (tested).
  5. Scoring is DICTIONARY-ENCODED: the distinct padded 5-gram queries of
     the corpus join the part/gamma tables once per order (equi-joins on
     gram-string keys), combine with one telescoped column expression, and
     broadcast back onto (doc, position) events; one groupBy(doc) yields
     perplexity. A 100 TB corpus costs one explode, k+1 hash joins on the
     distinct-gram grain, and one shuffle on doc_id.

At 100 TB: counting shuffles are map-side combined on gram keys (Zipf-head
keys partial-aggregate away); the model tables are n-gram-type-grained and
join by hash equi-join — no windows, no driver collect except the 15-number
discount matrix and two scalars (unigram gamma/denominator).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SEP = "\x1f"  # token separator inside gram-string keys (never in real text)
BOS = "<s>"
EOS = "</s>"


def _padded_tokens(docs: DataFrame, order: int, text_col: str, id_col: str) -> DataFrame:
    """(doc, arr): [<s>]*(order-1) + whitespace tokens + [</s>]."""
    words = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: F.length(x) > 0)
    arr = F.concat(
        F.array_repeat(F.lit(BOS), order - 1), words, F.array(F.lit(EOS))
    )
    return docs.select(F.col(id_col).alias("_doc"), arr.alias("arr"))


def _spans(tok: DataFrame, k: int, order: int) -> DataFrame:
    """All order-k spans ending at a PREDICTED position (order..len(arr)):
    one row per prediction event — (_doc, gram array<string>)."""
    pos = F.explode(F.sequence(F.lit(order), F.size("arr"))).alias("p")
    return tok.select("_doc", "arr", pos).select(
        "_doc", F.slice("arr", F.col("p") - k + 1, k).alias("gram")
    )


def ngram_counts(
    docs: DataFrame,
    k: int,
    order: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Order-k gram counts (gram string-joined by SEP, cnt) over the padded
    corpus — the oracle-checkable counting stage. One explode + one
    map-side-combinable groupBy."""
    tok = _padded_tokens(docs, order, text_col, id_col)
    return (
        _spans(tok, k, order)
        .select(F.array_join("gram", SEP).alias("gram"))
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _discounts(cc: list[tuple[int, int]]) -> tuple[float, float, float]:
    """Modified-KN discounts from one order's count-of-counts
    [(count, n_types), ...] (Chen & Goodman 1999 eq. 26). Falls back to the
    absolute-discounting constant 0.75 when the histogram is too sparse to
    estimate (tiny corpora), clamping each D_i into [0, i]."""
    n = {c: t for c, t in cc}
    n1, n2, n3, n4 = (n.get(i, 0) for i in (1, 2, 3, 4))
    if n1 == 0 or n2 == 0:
        return 0.75, 0.75, 0.75
    y = n1 / (n1 + 2.0 * n2)
    d1 = 1.0 - 2.0 * y * n2 / n1
    d2 = 2.0 - 3.0 * y * n3 / n2 if n3 else 0.75
    d3 = 3.0 - 4.0 * y * n4 / n3 if n3 and n4 else 0.75
    clamp = lambda v, hi: min(max(v, 0.0), hi)  # noqa: E731
    return clamp(d1, 1.0), clamp(d2, 2.0), clamp(d3, 3.0)


@dataclass
class KNModel:
    """A trained modified-KN model: per-order part/gamma DataFrames (kept on
    the cluster, cached), plus the driver-sized scalars."""

    order: int
    # parts[k]: (ctx, w, part) — ctx is the SEP-joined (k-1)-token context
    # ("" at k=1); gammas[k]: (ctx, gamma). Both cached cluster-side.
    parts: dict[int, DataFrame] = field(default_factory=dict)
    gammas: dict[int, DataFrame] = field(default_factory=dict)
    discounts: dict[int, tuple[float, float, float]] = field(default_factory=dict)
    gamma1: float = 1.0  # the single order-1 gamma (empty context)
    vocab_size: int = 1  # |V|: prediction types (words + </s>, never <s>)

    def unpersist(self) -> None:
        for df in list(self.parts.values()) + list(self.gammas.values()):
            try:
                df.unpersist()
            except Exception:
                pass


def kn_train(
    docs: DataFrame,
    order: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> KNModel:
    """Train interpolated modified Kneser-Ney of the given order. The corpus
    never leaves the cluster; the driver collects only the per-order
    count-of-counts histogram (<=4 rows per order) and two scalars."""
    from .dedup import track_cache

    tok = track_cache(_padded_tokens(docs, order, text_col, id_col))

    # --- adjusted count tables, highest order first ---------------------
    # raw_k needed as TYPE sets for continuation at k-1, values only at k=n
    adjusted: dict[int, DataFrame] = {}
    raw_above: DataFrame | None = None  # raw_{k+1} (ctx,w,cnt) from last loop
    for k in range(order, 0, -1):
        def _ctx(gcol: str) -> "F.Column":
            # the (k-1)-token context key; "" at the unigram level (a
            # length-0 slice is not expressible)
            return (
                F.array_join(F.slice(gcol, 1, k - 1), SEP) if k > 1 else F.lit("")
            )

        if k == order:
            grams = (
                _spans(tok, k, order)
                .groupBy("gram")
                .agg(F.count(F.lit(1)).alias("a"))
            )
            adj = grams.select(
                _ctx("gram").alias("ctx"),
                F.element_at("gram", k).alias("w"),
                "a",
            )
            raw_above = track_cache(
                grams.select("gram", F.col("a").alias("cnt"))
            )
        else:
            # continuation: distinct (k+1)-gram types grouped by k-suffix.
            # raw_above rows ARE the distinct types (one row per type), and
            # their cnt column carries RAW counts, so the same pass yields
            # both the type count (continuation) and the raw count: for
            # k < order every span has a left-extension token (the BOS pad
            # guarantees it), hence raw_k(g) = sum over x of raw_{k+1}(x.g).
            suffix = F.slice("gram", 2, k)
            cont = (
                raw_above.select(suffix.alias("g"), "cnt")
                .groupBy("g")
                .agg(F.count(F.lit(1)).alias("types"), F.sum("cnt").alias("raw"))
            )
            # ADVICE r6 / KenLM rule: a gram whose context starts with <s>
            # has exactly one possible left extension (<s> itself), so its
            # continuation count degenerates to 1 regardless of frequency —
            # Chen & Goodman / KenLM keep RAW counts for BOS-anchored grams
            adj = cont.select(
                _ctx("g").alias("ctx"),
                F.element_at("g", k).alias("w"),
                F.when(F.element_at("g", 1) == BOS, F.col("raw"))
                .otherwise(F.col("types"))
                .alias("a"),
            )
            if k > 1:
                # the next continuation level needs THIS level's raw types
                # AND raw counts; cont's grain is exactly that type set
                raw_above = track_cache(
                    cont.select(F.col("g").alias("gram"), F.col("raw").alias("cnt"))
                )
        adjusted[k] = track_cache(adj)

    # --- discounts from per-order count-of-counts (driver-sized) --------
    model = KNModel(order=order)

    def _hist(k: int) -> DataFrame:
        return (
            adjusted[k]
            .where(F.col("a") <= 4)
            .groupBy("a")
            .agg(F.count(F.lit(1)).alias("t"))
            .select(F.lit(k).alias("k"), "a", "t")
        )

    # The k=1 histogram runs FIRST and alone: its lineage spans the whole
    # continuation chain, so this one job materializes every cached raw/
    # adjusted table top-down exactly once. The remaining order histograms
    # are then independent aggregates over already-cached inputs — fuse
    # them into ONE union collect instead of one driver job each (r12,
    # guide §5: 4 job launches -> 1; values unchanged).
    #
    # r13 (guide §5, driver-action fusion): the two trailing driver scalars —
    # vocab_size (= row count of adjusted[1]) and gamma1 (a closed form of
    # the k=1 context stats: one "" context, so denom/t1/t2/t3 are plain
    # global aggregates) — ride the SECOND collect as extra tagged rows
    # instead of costing one driver job each at the end of training (4 jobs
    # -> 2 total). They must NOT ride the FIRST collect: that job is what
    # materializes the whole uncached chain, and a second concurrent
    # consumer of the not-yet-cached adjusted[1] would race the cache locks
    # and duplicate the chain's compute (measured +9..40% on the training
    # builds when tried). In the second job adjusted[1] is already cached.
    # Encoding: k=0 carries vocab in t; k=-1 carries (a=1..4) -> t1/t2/t3/denom.
    k1_extra = adjusted[1].agg(
        F.count(F.lit(1)).alias("vocab"),
        F.sum("a").alias("denom"),
        F.sum(F.when(F.col("a") == 1, 1).otherwise(0)).alias("t1"),
        F.sum(F.when(F.col("a") == 2, 1).otherwise(0)).alias("t2"),
        F.sum(F.when(F.col("a") >= 3, 1).otherwise(0)).alias("t3"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("k"),
                    F.lit(0).cast("bigint").alias("a"),
                    F.col("vocab").cast("bigint").alias("t"),
                ),
                F.struct(
                    F.lit(-1).alias("k"),
                    F.lit(1).cast("bigint").alias("a"),
                    F.col("t1").cast("bigint").alias("t"),
                ),
                F.struct(
                    F.lit(-1).alias("k"),
                    F.lit(2).cast("bigint").alias("a"),
                    F.col("t2").cast("bigint").alias("t"),
                ),
                F.struct(
                    F.lit(-1).alias("k"),
                    F.lit(3).cast("bigint").alias("a"),
                    F.col("t3").cast("bigint").alias("t"),
                ),
                F.struct(
                    F.lit(-1).alias("k"),
                    F.lit(4).cast("bigint").alias("a"),
                    F.col("denom").cast("bigint").alias("t"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    cc1 = _hist(1).collect()
    model.discounts[1] = _discounts([(r["a"], r["t"]) for r in cc1])
    rest = _hist(2) if order > 1 else None
    for k in range(3, order + 1):
        rest = rest.unionByName(_hist(k))
    rest = k1_extra if rest is None else rest.unionByName(k1_extra)
    rows = rest.collect()
    for k in range(2, order + 1):
        model.discounts[k] = _discounts(
            [(r["a"], r["t"]) for r in rows if r["k"] == k]
        )
    model.vocab_size = int(next(r["t"] for r in rows if r["k"] == 0))
    _k1stats = {int(r["a"]): int(r["t"]) for r in rows if r["k"] == -1}

    # --- part/gamma tables ----------------------------------------------
    for k in range(1, order + 1):
        d1, d2, d3 = model.discounts[k]
        dcol = (
            F.when(F.col("a") == 1, F.lit(d1))
            .when(F.col("a") == 2, F.lit(d2))
            .otherwise(F.lit(d3))
        )
        ctx_stats = adjusted[k].groupBy("ctx").agg(
            F.sum("a").alias("denom"),
            F.sum(F.when(F.col("a") == 1, 1).otherwise(0)).alias("t1"),
            F.sum(F.when(F.col("a") == 2, 1).otherwise(0)).alias("t2"),
            F.sum(F.when(F.col("a") >= 3, 1).otherwise(0)).alias("t3"),
        )
        gamma = ctx_stats.select(
            "ctx",
            (
                (F.lit(d1) * F.col("t1") + F.lit(d2) * F.col("t2") + F.lit(d3) * F.col("t3"))
                / F.col("denom").cast("double")
            ).alias("gamma"),
        )
        part = (
            adjusted[k]
            .join(ctx_stats.select("ctx", "denom"), on="ctx")
            .select(
                "ctx",
                "w",
                (
                    F.greatest(F.col("a").cast("double") - dcol, F.lit(0.0))
                    / F.col("denom").cast("double")
                ).alias("part"),
                # adjusted count kept alongside: kn_save(prune=...) filters
                # on it (KenLM-style count-threshold pruning)
                F.col("a"),
            )
        )
        model.parts[k] = track_cache(part)
        model.gammas[k] = track_cache(gamma)

    # --- driver scalars ---------------------------------------------------
    # vocab_size was collected with the k=1 histogram above. gamma1 is the
    # k=1 gamma expression evaluated on the fused-collect stats — the SAME
    # IEEE-double operations in the SAME (left-associative) order as the
    # gammas[1] Column expression, so the scalar is bit-identical to the
    # former gammas[1].collect() (pinned against a collect in pytest);
    # gammas[1] itself stays lazy (it is only ever materialized by kn_save
    # or a direct consumer, never by training).
    d1, d2, d3 = model.discounts[1]
    denom = _k1stats.get(4) or 0
    if denom:
        model.gamma1 = (
            d1 * float(_k1stats.get(1) or 0)
            + d2 * float(_k1stats.get(2) or 0)
            + d3 * float(_k1stats.get(3) or 0)
        ) / float(denom)
    else:
        model.gamma1 = 1.0  # empty corpus — same fallback as the old collect
    return model


def kn_prob(queries: DataFrame, model: KNModel) -> DataFrame:
    """Attach interpolated-KN probability to a DataFrame of full-order
    queries (gram: array<string> of length ``order``). Returns the input
    plus a ``p`` column.

    The lookup is a chain of 2·order−1 per-order left hash joins (5 part +
    4 gamma at order 5), one per model table. When every model table
    broadcasts, Catalyst fuses the whole chain into ONE codegen stage with
    zero exchanges; past the broadcast cap each link plans as a shuffle
    join on the distinct-gram grain (OPERATORS.md §4 records why no
    second, single-join shape is kept for that regime)."""
    n = model.order
    q = queries
    for k in range(1, n + 1):
        key_ctx = (
            F.array_join(F.slice("gram", n - k + 1, k - 1), SEP)
            if k > 1
            else F.lit("")
        )
        key_w = F.element_at("gram", n)
        q = q.withColumn(f"_c{k}", key_ctx).withColumn("_w", key_w)
        q = q.join(
            model.parts[k].select(
                F.col("ctx").alias(f"_c{k}"),
                F.col("w").alias("_w"),
                F.col("part").alias(f"_p{k}"),
            ),
            on=[f"_c{k}", "_w"],
            how="left",
        )
        if k > 1:
            q = q.join(
                model.gammas[k].select(
                    F.col("ctx").alias(f"_c{k}"), F.col("gamma").alias(f"_g{k}")
                ),
                on=f"_c{k}",
                how="left",
            )
    # Telescoped interpolation:
    # p = part_n + g_n*(part_{n-1} + g_{n-1}*(... part_1 + gamma1 * 1/V));
    # unseen context -> part 0, gamma 1.
    p = F.coalesce(F.col("_p1"), F.lit(0.0)) + F.lit(model.gamma1 / model.vocab_size)
    for k in range(2, n + 1):
        p = F.coalesce(F.col(f"_p{k}"), F.lit(0.0)) + F.coalesce(
            F.col(f"_g{k}"), F.lit(1.0)
        ) * p
    drop = ["_w"] + [f"_c{k}" for k in range(1, n + 1)]
    drop += [f"_p{k}" for k in range(1, n + 1)]
    drop += [f"_g{k}" for k in range(2, n + 1)]
    return q.withColumn("p", p).drop(*drop)


def kn_perplexity(
    docs: DataFrame,
    model: KNModel,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document perplexity under a trained KN model, dictionary-encoded:
    score each DISTINCT padded full-order query gram once, broadcast-join
    back onto (doc, position) events, one groupBy(doc).
    Returns (id_col, n_tokens, ppl)."""
    tok = _padded_tokens(docs, model.order, text_col, id_col)
    events = _spans(tok, model.order, model.order)  # (doc, gram) per event
    distinct = events.select("gram").distinct()
    # log p quantized to DECIMAL(38,18) BEFORE the per-doc sum: double
    # addition is non-associative, and the partial-sum merge order varies
    # with input partitioning (a freshly loaded kn_load model scans
    # different splits than the trained one — surfaced as a last-ULP
    # save/load flake under full-suite load, r7). The decimal sum is exact
    # integer arithmetic — bit-identical under ANY partitioning; the
    # 1e-18 quantization grain is far below double's own ULP at these
    # magnitudes. |sum| stays within precision 38 up to ~1e17 grams/doc.
    scored = kn_prob(distinct, model).select(
        F.array_join("gram", SEP).alias("_g"),
        F.log(F.greatest(F.col("p"), F.lit(1e-300)))
        .cast("decimal(38,18)")
        .alias("_logp"),
    )
    return (
        events.select("_doc", F.array_join("gram", SEP).alias("_g"))
        .join(scored, on="_g")
        .groupBy("_doc")
        .agg(F.count(F.lit(1)).alias("n_tokens"), F.sum("_logp").alias("_s"))
        .select(
            F.col("_doc").alias(id_col),
            "n_tokens",
            F.exp(
                -F.col("_s").cast("double") / F.col("n_tokens").cast("double")
            ).alias("ppl"),
        )
    )


def ccnet_buckets_kn(
    docs: DataFrame,
    model: KNModel,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    n_buckets: int = 3,
    method: str = "exact",
) -> DataFrame:
    """CCNet bucketing under the true KN LM: identical head/middle/tail
    contract to unigram.ccnet_buckets (same exact-ntile and
    approx-percentile scale paths), with per-doc perplexity from
    kn_perplexity. (unigram.ccnet_buckets grew a ``model=`` dispatch that
    routes here — one bucketing implementation, two LM families.)"""
    from .unigram import _bucketize

    ppl = kn_perplexity(docs, model, text_col=text_col, id_col=id_col)
    scored = docs.select(id_col, lang_col).join(ppl, on=id_col)
    return _bucketize(scored, id_col, lang_col, n_buckets, method)


def kn_save(
    model: KNModel, path: str, prune: int = 0, quantize: bool = False
) -> None:
    """Persist a trained model as parquet tables + a 1-row parquet meta
    table — the train-once / score-many-corpora artifact (KenLM's .arpa
    analog). EVERYTHING goes through Spark writers, so the whole artifact
    lands on ONE filesystem under ``path`` (driver-local open() would split
    the sidecar from the tables on HDFS/S3 — ADVICE r6).
    Layout: <path>/part_k.parquet, <path>/gamma_k.parquet, <path>/meta.parquet.

    ``prune``: KenLM-style count-threshold pruning — n-gram part rows with
    adjusted count <= prune are dropped at orders >= 2 (unigrams always
    kept). Gamma tables are NOT re-estimated (deviation from KenLM, which
    renormalizes): a pruned gram's mass falls through to backoff, so every
    probability weakly DECREASES and perplexity degrades monotonically in
    the threshold (property-pinned in tests) — the model stays a valid
    sub-normalized distribution.

    ``quantize``: store part/gamma as float32 (KenLM's quantized binary
    analog) — roughly halves the value bytes; scores reproduce to float32
    relative precision (pinned in tests)."""
    spark = model.parts[1].sparkSession
    import json

    def _shrink(df: DataFrame, col: str) -> DataFrame:
        return df.withColumn(col, F.col(col).cast("float")) if quantize else df

    for k in range(1, model.order + 1):
        part = model.parts[k]
        if prune > 0 and k >= 2:
            part = part.where(F.col("a") > prune)
        _shrink(part, "part").write.mode("overwrite").parquet(
            f"{path}/part_{k}.parquet"
        )
        _shrink(model.gammas[k], "gamma").write.mode("overwrite").parquet(
            f"{path}/gamma_{k}.parquet"
        )
    spark.createDataFrame(
        [
            (
                model.order,
                float(model.gamma1),
                int(model.vocab_size),
                json.dumps({str(k): list(v) for k, v in model.discounts.items()}),
                int(prune),
                bool(quantize),
            )
        ],
        "order int, gamma1 double, vocab_size long, discounts string, "
        "prune int, quantized boolean",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta.parquet")


def kn_load(spark, path: str) -> KNModel:
    """Load a kn_save artifact; the returned model scores identically to
    the one that was saved (tested bit-for-bit; float32-identical when the
    artifact was quantized). Reads only through Spark — same single
    filesystem as the write side."""
    import json

    meta = spark.read.parquet(f"{path}/meta.parquet").collect()[0]
    model = KNModel(
        order=int(meta["order"]),
        gamma1=float(meta["gamma1"]),
        vocab_size=int(meta["vocab_size"]),
        discounts={
            int(k): tuple(v) for k, v in json.loads(meta["discounts"]).items()
        },
    )
    from .dedup import track_cache

    for k in range(1, model.order + 1):
        part = spark.read.parquet(f"{path}/part_{k}.parquet")
        gamma = spark.read.parquet(f"{path}/gamma_{k}.parquet")
        if bool(meta["quantized"]):
            part = part.withColumn("part", F.col("part").cast("double"))
            gamma = gamma.withColumn("gamma", F.col("gamma").cast("double"))
        model.parts[k] = track_cache(part)
        model.gammas[k] = track_cache(gamma)
    return model


def kn_train_per_lang(
    docs: DataFrame,
    order: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> dict[str, KNModel]:
    """One KN model PER LANGUAGE — the full CCNet recipe (Wenzek 2020
    trains a separate KenLM per language; a shared LM mis-ranks the smaller
    languages toward the tail). Languages are enumerated with one tiny
    distinct scan; each model trains on its language's slice only."""
    langs = [r[0] for r in docs.select(lang_col).distinct().collect()]
    return {
        lang: kn_train(
            docs.where(F.col(lang_col) == lang), order, text_col, id_col
        )
        for lang in sorted(langs)
    }


def kn_perplexity_per_lang(
    docs: DataFrame,
    models: dict[str, KNModel],
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-doc perplexity, each document scored under ITS language's model
    (union of the per-lang scored slices). Pairs with
    unigram.ccnet_buckets via its model-scored input — or feed the output
    straight to unigram._bucketize through ccnet_buckets(model=...) per
    slice."""
    out = None
    for lang, model in sorted(models.items()):
        scored = kn_perplexity(
            docs.where(F.col(lang_col) == lang), model, text_col, id_col
        )
        out = scored if out is None else out.unionByName(scored)
    if out is None:
        raise ValueError("kn_perplexity_per_lang: no models given")
    return out
