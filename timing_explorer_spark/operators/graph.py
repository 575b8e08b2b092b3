"""Graph analytics over similarity/duplicate edge lists.

The PageRank family (``pagerank_fixed``, ``pagerank_directed``,
``pagerank_directed_convergence``) is one damped recurrence with
FIXED-POINT integer arithmetic and a fixed iteration count — the design
that makes an iterative algorithm oracle-checkable and cluster-deterministic
at once:

  - ranks live in integer units (10^6 = 1.0); the per-edge contribution is
    (units * 85) DIV (100 * deg) — pure integer multiply/divide, so every
    engine, partitioning, and replay produces identical bits (no FP
    accumulation order to disagree on);
  - a fixed iteration count (power iteration converges geometrically;
    5 rounds is plenty for ranking within small near-dup components) keeps
    the computation a finite, unrollable dataflow: the DuckDB oracle is the
    same recurrence unrolled into chained CTEs (``_oracle_chain``).

All three run the one round loop ``_rank_rounds``. Scale shape (r9, the
power-law-skew-proof form): edges are pre-grouped ONCE into cached per-src
adjacency lists, and the node/degree table is derived from those lists, so
the upstream edge derivation runs once. The per-round join is adjacency ⋈
ranks with EXACTLY ONE row per key on each side — an out-degree hub cannot
skew a join in which it is a single row (GraphX's messaging layout without
the library); in-degree hubs are absorbed by the map-side partial sum of
the dst aggregation. Each round's rank table is a lazy ``localCheckpoint``
(lineage cut + persist): plan depth stays O(1) in the iteration count and
repeated actions read the final round instead of re-running the fixpoint.

Dangling mass: a directed graph has nodes with no out-links, whose damped
mass is redistributed uniformly (a 1-row aggregate broadcast back per
round). ``pagerank_fixed`` symmetrizes its pairs, so every node is a src
with deg ≥ 1: the adjacency lists are the node table, the dangling term is
always 0 and the loop leaves it out — the undirected round is one join
plus one aggregate, with no broadcasts.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SCALE = 1_000_000
DAMP_NUM, DAMP_DEN = 85, 100
BASE = SCALE - SCALE * DAMP_NUM // DAMP_DEN  # (1-d) * scale = 150000


def _rank_rounds(
    edges: DataFrame, iterations: int, symmetric: bool
) -> Iterator[DataFrame]:
    """Yield the (doc, deg, units) rank table of rounds 0..iterations over
    (src, dst) ``edges`` (``symmetric``: every dst is also a src); each
    table is a lazy localCheckpoint, so the next round's references
    (contribution join, dangling aggregate, a caller's delta join) read it
    instead of re-growing the lineage tree (uncut it grows 2^iterations
    and a default-memory driver OOMs just RENDERING it, r9). Cluster note:
    swap for checkpoint() with a reliable dir when executor loss must be
    survivable."""
    from .dedup import track_cache

    adj = track_cache(
        edges.groupBy("src").agg(
            F.collect_list("dst").alias("dsts"),
            F.count(F.lit(1)).cast("bigint").alias("deg"),
        )
    )
    if symmetric:
        nodes = adj.select(F.col("src").alias("doc"), "deg")
    else:
        nodes = track_cache(
            adj.select(F.col("src").alias("doc"))
            .unionAll(adj.select(F.explode("dsts").alias("doc")))
            .distinct()
            .join(adj.select("src", "deg"), F.col("doc") == F.col("src"), "left")
            .select("doc", F.coalesce("deg", F.lit(0)).cast("bigint").alias("deg"))
        )
        n_nodes = nodes.agg(F.count(F.lit(1)).alias("n"))
    ranks = nodes.select(
        "doc", "deg", F.lit(SCALE).cast("bigint").alias("units")
    ).localCheckpoint(eager=False)
    yield ranks
    for _ in range(iterations):
        contrib = (
            adj.join(ranks.select("doc", "units"), adj.src == F.col("doc"))
            .select(
                F.explode("dsts").alias("dst"),
                F.expr(f"(units * {DAMP_NUM}) DIV ({DAMP_DEN} * deg)").alias("c"),
            )
            .groupBy("dst")
            .agg(F.sum("c").alias("in_units"))
        )
        nxt = nodes.join(contrib, nodes.doc == contrib.dst, "left")
        units = F.lit(BASE) + F.coalesce(F.col("in_units"), F.lit(0))
        if not symmetric:
            dang = ranks.where(F.col("deg") == 0).agg(
                F.coalesce(F.sum("units"), F.lit(0)).alias("dang_units")
            )
            nxt = nxt.crossJoin(F.broadcast(dang)).crossJoin(F.broadcast(n_nodes))
            units = units + F.expr(f"(dang_units * {DAMP_NUM}) DIV ({DAMP_DEN} * n)")
        ranks = nxt.select(
            "doc", "deg", units.cast("bigint").alias("units")
        ).localCheckpoint(eager=False)
        yield ranks


def _final_rank(edges: DataFrame, iterations: int, symmetric: bool) -> DataFrame:
    *_, ranks = _rank_rounds(edges, iterations, symmetric)
    return ranks.select(
        "doc", (F.col("units").cast("double") / F.lit(float(SCALE))).alias("rank")
    )


def pagerank_fixed(
    pairs: DataFrame,
    iterations: int = 5,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """(doc, rank) over the undirected pair graph; rank = units / 10^6.
    Each pair is an edge both ways (a duplicated pair counts twice)."""
    a, b = F.col(a_col), F.col(b_col)
    edges = pairs.select(a.alias("src"), b.alias("dst")).unionAll(
        pairs.select(b.alias("src"), a.alias("dst"))
    )
    return _final_rank(edges, iterations, symmetric=True)


def pagerank_directed(
    edges_df: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(doc, rank) over a DIRECTED edge list — true link-graph PageRank
    (r8): mass flows src -> dst only, out-degree divides the contribution,
    and DANGLING nodes (linked-to pages with no outlinks — ubiquitous in a
    crawl frontier) redistribute their damped mass uniformly. The dangling
    share is (dangling_units * 85) DIV (100 * n_nodes) per node — the
    integer division leaks < n_nodes units per round (sub-normalized,
    deterministic, mirrored exactly by the oracle). Adjacency arrays are
    bounded by a page's OUT-link count — naturally small in real link
    graphs (in-degree is where power-law mass lives, and that never
    materializes as an array here). Verified against a
    250,000x-median-degree synthetic hub in scripts/bench_linkgraph_skew.py
    (BENCH_sf1.json "link_graph_skew").
    """
    edges = edges_df.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    return _final_rank(edges, iterations, symmetric=False)


def pagerank_directed_convergence(
    edges_df: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(iteration, l1_delta_units, linf_delta_units) for each round of
    ``pagerank_directed`` — the convergence diagnostic (r9 verdict task #6):
    a user reads the last row's L1 delta to judge whether the fixed
    iteration count suffices on THEIR graph (power iteration converges
    geometrically, so consecutive deltas shrinking by ~the damping factor
    is the healthy signature; a flat tail means more rounds are needed).

    Deltas are over the fixed-point integer units between consecutive
    rounds of the same loop, so the output is bit-deterministic and
    oracle-checkable like the ranks themselves; the extra cost over the
    rank loop is one co-partitioned join + a 1-row aggregate per round.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    edges = edges_df.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    rounds = list(_rank_rounds(edges, iterations, symmetric=False))
    diff = F.abs(F.col("cur.units") - F.col("prev.units"))
    return functools.reduce(
        DataFrame.unionAll,
        [
            cur.alias("cur")
            .join(prev.alias("prev"), F.col("cur.doc") == F.col("prev.doc"))
            .agg(
                F.sum(diff).cast("bigint").alias("l1_delta_units"),
                F.max(diff).cast("bigint").alias("linf_delta_units"),
            )
            .select(
                F.lit(i).cast("int").alias("iteration"),
                "l1_delta_units",
                "linf_delta_units",
            )
            for i, (prev, cur) in enumerate(zip(rounds, rounds[1:]), 1)
        ],
    )


def _oracle_chain(edges_sql: str, iterations: int, tail: str) -> str:
    """The rank recurrence unrolled as chained DuckDB CTEs ``edges``,
    ``nodes``, ``it0``..``itN`` over (src, dst) rows, followed by ``tail``.
    MATERIALIZED: round i references round i-1 twice (contributions and
    the dangling total), so inlined CTEs would expand 2^iterations times."""
    ctes = [
        f"edges AS MATERIALIZED ({edges_sql})",
        "outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)",
        "nodes AS MATERIALIZED"
        " (SELECT n.doc, CAST(COALESCE(o.deg, 0) AS BIGINT) AS deg"
        " FROM (SELECT src AS doc FROM edges UNION SELECT dst FROM edges) n"
        " LEFT JOIN outdeg o ON o.src = n.doc)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        f"it0 AS MATERIALIZED"
        f" (SELECT doc, deg, CAST({SCALE} AS BIGINT) AS units FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        ctes.append(
            f"""dang{i} AS (
                SELECT COALESCE(SUM(units), 0) AS dang_units
                FROM it{i - 1} WHERE deg = 0)"""
        )
        ctes.append(
            f"""it{i} AS MATERIALIZED (
                SELECT d.doc, d.deg,
                       CAST({BASE}
                            + COALESCE(SUM((p.units * {DAMP_NUM}) // ({DAMP_DEN} * p.deg)), 0)
                            + (SELECT (dang_units * {DAMP_NUM}) // ({DAMP_DEN} * n)
                               FROM dang{i}, nn) AS BIGINT) AS units
                FROM nodes d
                LEFT JOIN (SELECT e.dst, i.units, i.deg
                           FROM edges e JOIN it{i - 1} i ON e.src = i.doc
                           WHERE i.deg > 0) p
                  ON p.dst = d.doc
                GROUP BY d.doc, d.deg)"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + tail


def pagerank_directed_oracle_sql(edges_sql: str, iterations: int = 5) -> str:
    """pagerank_directed's recurrence unrolled as chained DuckDB CTEs —
    ``edges_sql`` must yield (src, dst) directed rows."""
    return _oracle_chain(
        edges_sql,
        iterations,
        f"SELECT doc, CAST(units AS DOUBLE) / {SCALE} AS rank FROM it{iterations}",
    )


def pagerank_directed_convergence_oracle_sql(
    edges_sql: str, iterations: int = 5
) -> str:
    """pagerank_directed_convergence as the same CTE chain plus one delta
    aggregate per consecutive pair."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    return _oracle_chain(
        edges_sql,
        iterations,
        "\nUNION ALL\n".join(
            f"""SELECT CAST({i} AS INTEGER) AS iteration,
                   CAST(SUM(ABS(a.units - b.units)) AS BIGINT) AS l1_delta_units,
                   CAST(MAX(ABS(a.units - b.units)) AS BIGINT) AS linf_delta_units
            FROM it{i} a JOIN it{i - 1} b ON a.doc = b.doc"""
            for i in range(1, iterations + 1)
        ),
    )


def pagerank_oracle_sql(pairs_sql: str, iterations: int = 5) -> str:
    """pagerank_fixed's oracle: the directed chain over the UNION ALL-
    symmetrized ``pairs_sql`` (doc_a, doc_b) rows; no node is dangling
    there, so the dangling share evaluates to 0."""
    return pagerank_directed_oracle_sql(
        f"WITH pairs AS ({pairs_sql}) SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs",
        iterations,
    )


def hits_fixed(
    edges_df: DataFrame,
    iterations: int = 5,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(doc, authority, hub) — Kleinberg's HITS over a directed edge list
    (r9), in the same oracle-checkable fixed-point style as the PageRank
    family: scores live in integer units, and the per-round normalization
    is integer division by the round's MAXIMUM (a' = a * SCALE DIV max(a))
    instead of the usual L2 norm — same fixpoint direction (the classic
    power-iteration convergence to the principal eigenvectors of AᵀA / AAᵀ
    up to scaling), but every engine and partitioning produces identical
    bits, so the DuckDB oracle is the recurrence unrolled into CTEs.

    Scale shape per round (skew-proof, the pagerank_directed layout): both
    message passes run over loop-invariant per-node adjacency lists — one
    grouped by src (hub -> authority messages) and one by dst (authority ->
    hub) — so each join has EXACTLY ONE row per key per side; hub-side
    power-law mass collapses in the map-side partial sums; the two
    round-max scalars come back as 1-row broadcasts.

    Cost shape (r10 verdict task #4 — was 2.2x the PageRank loop at sf1):
    the loop carries RAW-AGGREGATE state only (h_raw keyed by src, plus the
    two 1-row maxima); BOTH normalizations are FOLDED into their consumers
    (score = raw * SCALE DIV max computed where the next pass sums it —
    absent keys score 0 and contribute nothing, so inner joins are exact),
    so no node-grain score table is materialized or joined inside the loop
    at all; the final left joins against ``nodes`` happen once, after it.
    Both edge-grain aggregates are lazily localCheckpoint-ed: previously
    each was referenced twice (value leg + max normalizer) with no cut, so
    every round paid FOUR edge-grain passes plus a node-grain a_norm join;
    now it pays exactly the two message passes HITS inherently has.
    Integer results are bit-identical to the r9 form (same recurrence,
    same division points), so the oracle CTE chain is unchanged.
    """
    from .dedup import track_cache

    edges = edges_df.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    out_adj = track_cache(
        edges.groupBy("src").agg(F.collect_list("dst").alias("dsts"))
    )
    in_adj = track_cache(
        edges.groupBy("dst").agg(F.collect_list("src").alias("srcs"))
    )
    nodes = track_cache(
        edges.select(F.col("src").alias("doc"))
        .unionAll(edges.select(F.col("dst").alias("doc")))
        .distinct()
    )
    a_raw = h_raw = None
    a_max = h_max = 1
    for _ in range(iterations):
        # authority pass: each SENDER's hub score flows to its dsts — join
        # on the sender key (one row per side), explode its list. Round 1:
        # every hub is the initial SCALE, so no join at all; later rounds
        # fold the hub normalization into the join (hub = h_raw * SCALE DIV
        # h_max; srcs absent from h_raw have hub 0 and contribute nothing).
        if h_raw is None:
            src_hub = out_adj.select(
                "dsts", F.lit(SCALE).cast("bigint").alias("hub")
            )
        else:
            src_hub = (
                out_adj.join(h_raw, out_adj.src == h_raw.src_key)
                .select(
                    "dsts",
                    F.expr(f"h_raw * {SCALE} DIV {h_max}")
                    .cast("bigint")
                    .alias("hub"),
                )
            )
        # Lazy localCheckpoint: multiple consumers (the max fetch, the hub
        # pass, and on the last round the output join) — uncut, the
        # edge-grain pass would run once per consumer.
        a_raw = (
            src_hub.select(F.explode("dsts").alias("dst"), "hub")
            .groupBy("dst")
            .agg(F.sum("hub").alias("a_raw"))
            .localCheckpoint(eager=False)
        )
        # round maxima come back as DRIVER literals (one 1-row collect per
        # pass — the same job a broadcast would run, minus the
        # BroadcastExchange barrier each downstream consumer then waits on;
        # the per-round sync is inherent: the recurrence divides by the
        # round's own max before the next sum)
        a_max = a_raw.agg(F.max("a_raw")).collect()[0][0] or 1
        # hub pass: each TARGET's NEW authority flows back to its srcs,
        # with the authority normalization folded in the same way
        h_raw = (
            in_adj.join(a_raw, in_adj.dst == a_raw.dst)
            .select(
                F.explode("srcs").alias("src_key"),
                F.expr(f"a_raw * {SCALE} DIV {a_max}")
                .cast("bigint")
                .alias("na"),
            )
            .groupBy("src_key")
            .agg(F.sum("na").alias("h_raw"))
            .localCheckpoint(eager=False)  # consumers: max fetch, next round, output
        )
        h_max = h_raw.agg(F.max("h_raw")).collect()[0][0] or 1
    if a_raw is None:  # iterations == 0: all scores at the initial SCALE
        return nodes.select(
            "doc", F.lit(1.0).alias("authority"), F.lit(1.0).alias("hub")
        )
    return (
        nodes.join(a_raw, nodes.doc == a_raw.dst, "left")
        .join(h_raw, nodes.doc == h_raw.src_key, "left")
        .select(
            "doc",
            (
                F.expr(f"COALESCE(a_raw, 0) * {SCALE} DIV {a_max}")
                .cast("double")
                / F.lit(float(SCALE))
            ).alias("authority"),
            (
                F.expr(f"COALESCE(h_raw, 0) * {SCALE} DIV {h_max}")
                .cast("double")
                / F.lit(float(SCALE))
            ).alias("hub"),
        )
    )


def hits_oracle_sql(edges_sql: str, iterations: int = 5) -> str:
    """hits_fixed unrolled as chained DuckDB CTEs — max-normalized integer
    recurrence, bit-identical to the Spark loop."""
    # MATERIALIZED: DuckDB inlines CTEs by default, and each HITS round
    # references its CTEs twice (the value leg and the MAX-normalizer
    # subquery) — inlined, the expansion is ~8^iterations leaf scans and
    # the oracle dies on file-handle exhaustion before it is slow.
    ctes = [
        f"edges AS MATERIALIZED ({edges_sql})",
        "nodes AS MATERIALIZED"
        " (SELECT src AS doc FROM edges UNION SELECT dst FROM edges)",
        f"it0 AS MATERIALIZED (SELECT doc, CAST({SCALE} AS BIGINT) AS auth,"
        f" CAST({SCALE} AS BIGINT) AS hub FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        ctes.append(
            f"""araw{i} AS MATERIALIZED (
                SELECT e.dst, SUM(s.hub) AS a_raw
                FROM edges e JOIN it{p} s ON s.doc = e.src
                GROUP BY e.dst)"""
        )
        ctes.append(
            f"""anorm{i} AS MATERIALIZED (
                SELECT n.doc,
                       CAST(COALESCE(a.a_raw, 0) * {SCALE}
                            // (SELECT MAX(a_raw) FROM araw{i}) AS BIGINT) AS auth
                FROM nodes n LEFT JOIN araw{i} a ON a.dst = n.doc)"""
        )
        ctes.append(
            f"""hraw{i} AS MATERIALIZED (
                SELECT e.src, SUM(a.auth) AS h_raw
                FROM edges e JOIN anorm{i} a ON a.doc = e.dst
                GROUP BY e.src)"""
        )
        ctes.append(
            f"""it{i} AS MATERIALIZED (
                SELECT n.doc, COALESCE(a.auth, 0) AS auth,
                       CAST(COALESCE(h.h_raw, 0) * {SCALE}
                            // (SELECT MAX(h_raw) FROM hraw{i}) AS BIGINT) AS hub
                FROM nodes n
                LEFT JOIN anorm{i} a ON a.doc = n.doc
                LEFT JOIN hraw{i} h ON h.src = n.doc)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
        SELECT doc, CAST(auth AS DOUBLE) / {SCALE} AS authority,
               CAST(hub AS DOUBLE) / {SCALE} AS hub
        FROM it{iterations}"""
    )


def bfs_depth(
    edges_df: DataFrame,
    seeds_df: DataFrame,
    max_hops: int = 30,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "doc",
) -> DataFrame:
    """(doc, depth) — minimum hop distance from any seed along DIRECTED
    edges (r9): the crawl-depth signal (distance from the seed/homepage
    set), the third member of the link-quality family after PageRank
    (popularity) and HITS (hub/authority role). Pages deep in the graph
    are the classic low-quality tail a mixture owner down-weights.

    Min-plus label propagation to fixpoint, the resolve_components shape:
    depth table seeded at 0, each round candidates = depth ⋈ adjacency
    (one row per key per side — the r9 skew-proof layout) exploded to
    (dst, d+1), new depth = min(old, candidates). EAGER loop with early
    exit when no depth changed, ``max_hops`` as the runaway cap (also the
    oracle's recursion bound — mirror both or neither); per round one
    co-partitioned join + a min-aggregation, lineage localCheckpoint-cut
    so the plan stays O(1) in rounds. Unreached docs are absent (the
    crawl-frontier convention: you cannot reach them, they have no depth).
    """
    from .dedup import track_cache

    edges = edges_df.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    adj = track_cache(
        edges.groupBy("src").agg(F.collect_list("dst").alias("dsts"))
    )
    dist = (
        seeds_df.select(F.col(seed_col).alias("doc"))
        .distinct()
        .select("doc", F.lit(0).cast("bigint").alias("depth"))
        .localCheckpoint()
    )
    for _ in range(max_hops):
        cand = (
            adj.join(dist, adj.src == dist.doc)
            .select(F.explode("dsts").alias("doc"), (F.col("depth") + 1).alias("d"))
            .groupBy("doc")
            .agg(F.min("d").alias("d"))
        )
        new_dist = (
            dist.join(cand, "doc", "full")
            .select(
                "doc",
                F.least(
                    F.coalesce("depth", F.lit(max_hops + 1)),
                    F.coalesce("d", F.lit(max_hops + 1)),
                ).alias("depth"),
                (
                    F.col("depth").isNull()
                    | (F.coalesce("d", F.lit(max_hops + 1)) < F.col("depth"))
                ).alias("__changed"),
            )
            .localCheckpoint()
        )
        changed = new_dist.where(F.col("__changed")).count()
        dist = new_dist.drop("__changed")
        if changed == 0:
            break
    return dist


def bfs_depth_oracle_sql(
    edges_sql: str, seeds_sql: str, max_hops: int = 30
) -> str:
    """bfs_depth as a DuckDB recursive CTE — (doc, d) reachability pairs
    bounded by the same ``max_hops`` the Spark loop uses (the bound is what
    makes the recursion terminate on cyclic graphs), then MIN per doc."""
    return f"""
        WITH RECURSIVE edges AS MATERIALIZED ({edges_sql}),
        seeds AS MATERIALIZED ({seeds_sql}),
        reach(doc, d) AS (
            SELECT doc, CAST(0 AS BIGINT) FROM seeds
            UNION
            SELECT e.dst, r.d + 1
            FROM reach r JOIN edges e ON e.src = r.doc
            WHERE r.d < {max_hops}
        )
        SELECT doc, MIN(d) AS depth FROM reach GROUP BY doc
    """
