"""Deduplication query inventory (SURVEY §7 P4) over documents/events.

Exact (fingerprint hash-groupBy), exact near-dup (n-gram Jaccard via shingle
inverted index), MinHash+LSH (verified candidates — output equals the exact
Jaccard result wherever LSH recall is 1, which tests confirm at sf0.01), and
SimHash (hash-sketch based, rows-only check: xxhash64 has no DuckDB analog).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.dedup import (
    exact_dedup_groups,
    jaccard_pairs,
    minhash_lsh_pairs,
    resolve_components,
    simhash_pairs,
    track_cache,
)
from ..functions.text import fingerprint
from ..sources.tables import load
from .registry import register

# Shared oracle SQL for exact word-trigram Jaccard pairs at threshold 0.8.
_JACCARD_ORACLE = """
    WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
    sh AS (
        SELECT doc_id,
               UNNEST(list_distinct(list_transform(
                   range(greatest(len(w) - 2, 0)),
                   i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
        FROM words
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b,
           CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(c AS DOUBLE) / CAST(sa.sz + sb.sz - c AS DOUBLE) >= 0.8
"""


@register(
    "q_exact_dedup_docs",
    oracle="""
        SELECT MD5(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g'))) AS fp,
               MIN(doc_id) AS rep_id,
               COUNT(*)    AS n_copies
        FROM documents
        GROUP BY MD5(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g')))
    """,
    doc=(
        "Exact dedup via content-fingerprint hash-groupBy: one shuffle on the "
        "md5 key, no pairwise compare — the only exact-dedup design that "
        "survives 100 TB."
    ),
    tags=("dedup",),
)
def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load(spark, sf_dir, "documents"))


@register(
    "q_dedup_events_earliest",
    oracle="""
        SELECT event_id, user_id, event_type, ts
        FROM (
            SELECT event_id, user_id, event_type, ts,
                   ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) AS rn
            FROM events)
        WHERE rn = 1
    """,
    doc=(
        "Keyed dedup keeping the earliest record — the deterministic, "
        "scalable form of dropDuplicates (explicit total order, single "
        "shuffle on the dedup key)."
    ),
    tags=("dedup", "window"),
)
def q_dedup_events_earliest(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        e.select("event_id", "user_id", "event_type", "ts", F.row_number().over(w).alias("rn"))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q_jaccard_neardup_pairs",
    oracle=_JACCARD_ORACLE,
    doc=(
        "Exact near-dup pairs: word-trigram Jaccard ≥ 0.8 via shingle "
        "inverted-index self-join (only docs sharing a shingle ever meet)."
    ),
    headline=True,
    tags=("dedup", "neardup"),
)
def q_jaccard_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8, n=3)


@register(
    "q_minhash_lsh_neardup",
    oracle=_JACCARD_ORACLE,
    doc=(
        "MinHash(64 perms)+LSH(16 bands x 4 rows) candidates, verified with "
        "exact Jaccard. Oracle = the exact-Jaccard result: valid because "
        "verification makes precision exact and the S-curve puts recall ≈ 1 "
        "at J ≥ 0.8 (empirically exact at sf0.01/sf0.001 — asserted in "
        "tests/test_dedup.py; any recall miss would surface as a row-count "
        "diff here). At 100 TB this is the design that works: signatures are "
        "fixed-size, candidate generation is an equi-join on band buckets."
    ),
    tags=("dedup", "neardup", "lsh"),
)
def q_minhash_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(load(spark, sf_dir, "documents"), threshold=0.8)


@register(
    "q_simhash_neardup",
    oracle=None,  # xxhash64-based sketch — no DuckDB analog; see tests/test_dedup.py
    doc=(
        "SimHash near-dup pairs (64-bit sketch, hamming ≤ 10, 16x4-bit block "
        "candidate generation). Rows-only driver check; pytest asserts the "
        "trigram-Jaccard ≥0.9 pairs are recovered and sketches are stable."
    ),
    tags=("dedup", "neardup", "simhash"),
)
def q_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_pairs(load(spark, sf_dir, "documents"), max_hamming=10)


@register(
    "q_neardup_components",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(doc, rep) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.rep FROM reach r JOIN edges e ON e.src = r.doc
        )
        SELECT doc, MIN(rep) AS rep FROM reach GROUP BY doc
    """,
    doc=(
        "Near-dup cluster resolution: connected components over the exact "
        "Jaccard pairs, rep = min doc id per component (the keep-one-copy "
        "step of a dedup pipeline). Spark side is min-label propagation to "
        "fixpoint (bounded co-partitioned shuffles per round); oracle is a "
        "recursive-CTE reachability closure."
    ),
    tags=("dedup", "components", "iterative"),
)
def q_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8, n=3)
    return resolve_components(pairs)


@register(
    "q_neardup_triangles",
    oracle=f"""
        SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
        FROM ({_JACCARD_ORACLE}) e1
        JOIN ({_JACCARD_ORACLE}) e2 ON e2.doc_a = e1.doc_b
        JOIN ({_JACCARD_ORACLE}) e3 ON e3.doc_a = e1.doc_a
                                   AND e3.doc_b = e2.doc_b
    """,
    doc=(
        "Triangle enumeration in the near-dup graph — the structure signal "
        "that separates tight duplicate clusters (cliques) from chains of "
        "borderline pairs. Edges are already canonically oriented "
        "(doc_a < doc_b), which is the standard trick that makes each "
        "triangle appear exactly once and bounds the join fan-out by "
        "out-degree; two self-joins on the (small) near-dup edge list, "
        "never on the corpus. The edge list is computed once and reused "
        "across all three join legs (cached shingle/pair intermediates)."
    ),
    tags=("dedup", "graph", "triangles"),
)
def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the edge list BEFORE the three join legs: without this,
    # every leg re-executes the full inverted-index pair generation
    # concurrently (3x the heaviest stage's memory at once — OOM-kills a
    # default-heap session at sf0.1). The persisted edge list is tiny
    # (near-dup pairs only) and is released via release_cached().
    pairs = track_cache(
        jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8, n=3).select(
            "doc_a", "doc_b"
        ),
        materialize=True,
    )
    e1 = pairs.alias("e1")
    e2 = pairs.alias("e2")
    e3 = pairs.alias("e3")
    return (
        e1.join(e2, F.col("e2.doc_a") == F.col("e1.doc_b"))
        .join(
            e3,
            (F.col("e3.doc_a") == F.col("e1.doc_a"))
            & (F.col("e3.doc_b") == F.col("e2.doc_b")),
        )
        .select(
            F.col("e1.doc_a").alias("a"),
            F.col("e1.doc_b").alias("b"),
            F.col("e2.doc_b").alias("c"),
        )
    )


_NEW_SOURCES = ("src0", "src1", "src2", "src3", "src4")


@register(
    "q_incremental_dedup",
    oracle=f"""
        WITH fps AS (
            SELECT doc_id, source,
                   MD5(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g'))) AS fp
            FROM documents
        )
        SELECT n.doc_id, n.source, n.fp
        FROM fps n
        WHERE n.source IN {_NEW_SOURCES!r}
          AND NOT EXISTS (
              SELECT 1 FROM fps o
              WHERE o.source NOT IN {_NEW_SOURCES!r} AND o.fp = n.fp
          )
    """.replace("(", "(", 1),
    doc=(
        "Incremental (cross-snapshot) exact dedup: keep only the docs of "
        "the NEW crawl batch whose content fingerprint does not already "
        "exist in the standing corpus — the dedup shape every recurring "
        "ingestion pipeline runs. One hash anti-join on the md5 "
        "fingerprint: fingerprints shrink the join key to 16 bytes, the "
        "anti-join shuffles fingerprints only (not text), and at 100 TB "
        "the standing-corpus side is a pre-computed fingerprint table "
        "(bucketed on fp) so each increment joins against hashes, never "
        "re-reading old text."
    ),
    tags=("dedup", "anti-join", "incremental"),
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fps = d.select("doc_id", "source", fingerprint(F.col("text")).alias("fp"))
    new = fps.where(F.col("source").isin(*_NEW_SOURCES))
    old = fps.where(~F.col("source").isin(*_NEW_SOURCES))
    return new.join(old.select("fp"), "fp", "left_anti").select("doc_id", "source", "fp")


@register(
    "q_neardup_keep_best",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(doc, rep) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.rep FROM reach r JOIN edges e ON e.src = r.doc
        ),
        comp AS (SELECT doc, MIN(rep) AS rep FROM reach GROUP BY doc),
        sel AS (
            SELECT c.rep, d.doc_id, d.n_chars,
                   ROW_NUMBER() OVER (PARTITION BY c.rep
                                      ORDER BY d.n_chars DESC, d.doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY c.rep) AS n_members
            FROM comp c JOIN documents d ON d.doc_id = c.doc
        )
        SELECT rep, doc_id AS keep_id, n_chars AS keep_quality,
               CAST(n_members AS BIGINT) AS n_members
        FROM sel WHERE rk = 1
    """,
    doc=(
        "Keep-best dedup policy: resolve near-dup clusters (connected "
        "components over exact-Jaccard pairs), then keep the HIGHEST-"
        "quality member per cluster (quality proxy = n_chars, ties to the "
        "lower id) rather than the arbitrary min-id — the policy real "
        "corpus dedup ships with (keep the longest / highest-scoring copy, "
        "drop the rest). Components by min-label propagation (bounded "
        "co-partitioned shuffles), then one window top-1 per cluster over "
        "the tiny membership table joined to doc metadata."
    ),
    tags=("dedup", "components", "policy"),
)
def q_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, threshold=0.8, n=3)
    labels = resolve_components(pairs)
    joined = labels.join(docs, labels.doc == docs.doc_id)
    w = Window.partitionBy("rep").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wc = Window.partitionBy("rep")
    return (
        joined.select(
            "rep", "doc_id", "n_chars",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .where(F.col("rk") == 1)
        .select(
            "rep",
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").alias("keep_quality"),
            "n_members",
        )
    )


_COS_DOUBLE = (
    "list_dot_product(a.v, b.v) / "
    "(SQRT(list_dot_product(a.v, a.v)) * SQRT(list_dot_product(b.v, b.v)))"
)


@register(
    "q_semantic_dedup_keep_best",
    oracle=f"""
        WITH RECURSIVE e AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ),
        pairs AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE {_COS_DOUBLE} >= 0.45
        ),
        edges AS (
            SELECT id_a AS src, id_b AS dst FROM pairs
            UNION
            SELECT id_b AS src, id_a AS dst FROM pairs
        ),
        reach(doc, rep) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e2.dst, r.rep FROM reach r JOIN edges e2 ON e2.src = r.doc
        ),
        comp AS (SELECT doc, MIN(rep) AS rep FROM reach GROUP BY doc),
        sel AS (
            SELECT c.rep, d.doc_id, d.n_chars,
                   ROW_NUMBER() OVER (PARTITION BY c.rep
                                      ORDER BY d.n_chars DESC, d.doc_id) AS rk,
                   COUNT(*) OVER (PARTITION BY c.rep) AS n_members
            FROM comp c JOIN documents d ON d.doc_id = c.doc
        )
        SELECT rep, doc_id AS keep_id, n_chars AS keep_quality,
               CAST(n_members AS BIGINT) AS n_members
        FROM sel WHERE rk = 1
    """,
    doc=(
        "SEMANTIC dedup, end-to-end: embedding-cosine near-dup pairs "
        "(vec_id aligns with doc_id in the fixtures) -> connected components "
        "(min-label propagation) -> keep the highest-quality member per "
        "cluster (n_chars proxy, ties to lower id). The embedding analog of "
        "q_neardup_keep_best: the dedup decision comes from vector "
        "similarity, the keep policy from document metadata — the composed "
        "shape of a production semantic-dedup stage. All three building "
        "blocks are independently oracle-verified; this query verifies their "
        "composition."
    ),
    tags=("dedup", "similarity", "components", "policy"),
)
def q_semantic_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_neardup_pairs

    docs = load(spark, sf_dir, "documents")
    emb = load(spark, sf_dir, "embeddings")
    pairs = embedding_neardup_pairs(
        emb, threshold=0.45, corpus_path=f"{sf_dir}/embeddings.parquet"
    ).select(F.col("id_a").alias("doc_a"), F.col("id_b").alias("doc_b"))
    labels = resolve_components(pairs)
    joined = labels.join(docs, labels.doc == docs.doc_id)
    w = Window.partitionBy("rep").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    wc = Window.partitionBy("rep")
    return (
        joined.select(
            "rep", "doc_id", "n_chars",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .where(F.col("rk") == 1)
        .select(
            "rep",
            F.col("doc_id").alias("keep_id"),
            F.col("n_chars").alias("keep_quality"),
            "n_members",
        )
    )


@register(
    "q_containment_neardup",
    oracle="""
        WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        sh AS (
            SELECT doc_id,
                   UNNEST(list_distinct(list_transform(
                       range(greatest(len(w) - 2, 0)),
                       i -> w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]))) AS s
            FROM words
        ),
        sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
        common AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS c
            FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(c AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE) AS containment
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(c AS DOUBLE) / CAST(LEAST(sa.sz, sb.sz) AS DOUBLE) >= 0.9
    """,
    doc=(
        "Subset-duplicate pairs via shingle CONTAINMENT (|A∩B|/min(|A|,|B|) "
        "≥ 0.9, Broder 1997): catches a small doc quoted whole inside a "
        "large one, which Jaccard misses (union dominated by the large doc). "
        "Same inverted-index self-join shape as q_jaccard_neardup_pairs and "
        "shares its cached shingle arrays."
    ),
    tags=("dedup", "neardup", "containment"),
)
def q_containment_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import containment_pairs

    return containment_pairs(load(spark, sf_dir, "documents"), threshold=0.9, n=3)


from ..operators.graph import pagerank_oracle_sql  # noqa: E402


@register(
    "q_neardup_pagerank",
    oracle=pagerank_oracle_sql(_JACCARD_ORACLE, iterations=5),
    doc=(
        "Damped PageRank (5 fixed rounds) over the exact-Jaccard near-dup "
        "graph — centrality ranks the 'canonical' member of each duplicate "
        "cluster better than min-id when clusters are chains. Fixed-point "
        "integer arithmetic ((units*85) DIV (100*deg)) makes every round "
        "bit-deterministic on any cluster; the oracle is the same recurrence "
        "unrolled into chained CTEs. The pairs are symmetrized once into "
        "cached per-src adjacency lists; per round one one-row-per-key "
        "adjacency-ranks join + one dst aggregate."
    ),
    tags=("dedup", "graph", "pagerank", "iterative"),
)
def q_neardup_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import jaccard_pairs
    from ..operators.graph import pagerank_fixed

    pairs = jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8, n=3)
    return pagerank_fixed(pairs, iterations=5)


@register(
    "q_cross_source_dup",
    oracle="""
        WITH fp AS (
            SELECT DISTINCT
                   MD5(LOWER(regexp_replace(TRIM(text), '\\s+', ' ', 'g'))) AS fp,
                   source
            FROM documents
        )
        SELECT a.source AS source_a, b.source AS source_b,
               COUNT(*) AS n_shared_docs
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
        GROUP BY a.source, b.source
    """,
    doc=(
        "Cross-source duplication matrix: for every source pair, how many "
        "distinct document contents both carry — the provenance-leak / "
        "mirror-site detector a corpus curator runs before setting mixture "
        "weights (a pair sharing most of its docs is one source, not two). "
        "Shape: the (fingerprint, source) DISTINCT projection is one "
        "shuffle; the pair join is an inverted-index self-join keyed on the "
        "16-byte fingerprint whose per-key width is bounded by #sources "
        "(not corpus size), so the blow-up of a generic self-join cannot "
        "occur. Cites the exact-dedup design (operators/dedup.py: "
        "fingerprint hash-groupBy, no pairwise content compare)."
    ),
    tags=("dedup", "provenance", "llm-pipeline"),
)
def q_cross_source_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fp = d.select(fingerprint(F.col("text")).alias("fp"), "source").distinct()
    a = fp.select(F.col("fp"), F.col("source").alias("source_a"))
    b = fp.select(F.col("fp").alias("fp_b"), F.col("source").alias("source_b"))
    return (
        a.join(b, (F.col("fp") == F.col("fp_b")) & (F.col("source_a") < F.col("source_b")))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_shared_docs"))
    )


@register(
    "q_neardup_cluster_sizes",
    oracle=f"""
        WITH RECURSIVE pairs AS ({_JACCARD_ORACLE}),
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION
            SELECT doc_b AS src, doc_a AS dst FROM pairs
        ),
        reach(doc, rep) AS (
            SELECT src, src FROM edges
            UNION
            SELECT e.dst, r.rep FROM reach r JOIN edges e ON e.src = r.doc
        ),
        comp AS (SELECT doc, MIN(rep) AS rep FROM reach GROUP BY doc),
        sizes AS (SELECT rep, COUNT(*) AS cluster_size FROM comp GROUP BY rep)
        SELECT cluster_size,
               COUNT(*) AS n_clusters,
               CAST(COUNT(*) * (cluster_size - 1) AS BIGINT) AS docs_removable
        FROM sizes GROUP BY cluster_size
    """,
    doc=(
        "Near-dup cluster-size histogram + dedup yield: for each cluster "
        "size, how many clusters exist and how many documents keep-one-copy "
        "dedup would remove (size−1 each) — the capacity-planning number a "
        "curator reads before running the removal (Σ docs_removable = the "
        "corpus shrink). Two grain-sized rollups on top of the "
        "connected-components resolution (q_neardup_components' min-label "
        "propagation); everything after the pair generation runs on the "
        "component grain."
    ),
    tags=("dedup", "components", "profiling"),
)
def q_neardup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = jaccard_pairs(load(spark, sf_dir, "documents"), threshold=0.8, n=3)
    comp = resolve_components(pairs)
    sizes = comp.groupBy("rep").agg(F.count(F.lit(1)).alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        (F.count(F.lit(1)) * (F.col("cluster_size") - 1)).alias("docs_removable"),
    )


@register(
    "q_leakage_safe_split",
    oracle=None,  # components are iterative — rows-only; contract pinned in pytest
    doc=(
        "Leakage-safe train/val/test split (operators/splits.py): the "
        "atomic unit of assignment is the near-dup CONNECTED COMPONENT "
        "(jaccard 0.8 pairs -> min-label components), so a document and "
        "all its near-copies land in the same split by construction — the "
        "eval-contamination guard of the dedup literature (Lee et al. "
        "2022's overlap protocol). Assignment is one deterministic hash of "
        "the cluster rep cut by cumulative fractions (90/5/5): no extra "
        "shuffle beyond broadcasting the (small) component table onto the "
        "corpus. Output: per-split doc/unit counts plus the PROOF column "
        "cross_split_pairs — near-dup pairs straddling splits — which is 0 "
        "by construction."
    ),
    tags=("dedup", "split", "llm-pipeline"),
)
def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.splits import cluster_safe_split, split_report

    docs = load(spark, sf_dir, "documents")
    pairs = track_cache(jaccard_pairs(docs, threshold=0.8, n=3), materialize=True)
    split_docs = track_cache(cluster_safe_split(docs, pairs), materialize=True)
    return split_report(split_docs, pairs).orderBy("split")
