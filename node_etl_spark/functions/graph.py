"""Distributed graph operators: connected components for dedup
clustering.

Near-dup pair streams (``dedup.jaccard_pairs`` / ``minhash_dedup`` /
``simhash_pairs``) give edges; picking ONE canonical document per
duplicate *cluster* requires the transitive closure of those edges —
i.e. connected components. The reference engine has no graph surface
at all (every reference operator is a single-pass stream transform,
`jobs/convertors/*`), so this module is net-new scale machinery.

Scale design (the 100 TB story):

* **Alternating large-star / small-star** (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14). Each round is two
  groupBy shuffles over the edge set; the edge set only shrinks
  (edges attach low ids to high ids ever more directly), and
  convergence is provably O(log^2 n) rounds — single digits in
  practice. No driver-side adjacency; the min-label of each
  neighborhood is a plain ``min`` aggregate joined back to the edges,
  so even a vertex with millions of neighbors costs a scalar
  accumulator, never a collected set.
* Per-round ``localCheckpoint`` truncates lineage: without it each
  round's logical plan embeds the entire history (pairs pipeline +
  every prior round), and Catalyst re-analysis alone grows to dwarf
  the actual data movement (measured 2.7s -> 10s+ per round on a
  244-edge graph). Checkpointed edges make every round's plan
  constant-size. localCheckpoint stores to executor memory/disk, not
  reliable storage — the standard tradeoff for iterative algorithms
  (GraphFrames does the same); a lost executor costs a job retry.
* Labels are ``min(reachable id)`` — deterministic, so results are
  oracle-checkable against a DuckDB recursive CTE at test scale.

The iterative operators share three rules and take no tuning options:

* **Truncation.** The fixed-round loops (pagerank, personalized
  pagerank, label propagation) checkpoint their per-round state every
  ``_TRUNCATE_EVERY`` rounds, never after the last (``_truncate``):
  short runs stay checkpoint-free and the plan stays bounded at tens
  of rounds.
* **Round state.** The other loops (HITS, BFS, SSSP, connected
  components, k-core, and ``operators.tree.resolve_hierarchy``) cut
  each round's state with ``localCheckpoint(eager=False)`` and add no
  action of their own: the read the loop already takes (HITS's max,
  the BFS/SSSP frontier count, the components' convergence stats,
  the hierarchy's emptiness check) or the next round's own stages
  materialise the cut. Under AQE making the cut already runs the
  plan's shuffle stages; only the final stage waits for that read.
  Bradley–Terry keeps its eager per-round checkpoint: a lazy cut
  there measured more jobs, not fewer.
* **Broadcast.** Node-sized per-round state (ranks, winners, ratings)
  is always broadcast onto the edges persisted once, so each round is
  a map-side join plus one aggregation. HITS always shuffles (see
  :func:`hits` for the measurement). BFS and SSSP frontiers broadcast
  while the row count each round already takes is at most
  ``_BROADCAST_MAX_ROWS`` and shuffle beyond it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_TRUNCATE_EVERY = 8
_BROADCAST_MAX_ROWS = 5_000_000
_DRIVER_MAX_EDGES = 100_000


def _truncate(df: DataFrame, i: int, rounds: int) -> DataFrame:
    """Checkpoint ``df``, the state after round ``i`` (0-based) of
    ``rounds``, on every ``_TRUNCATE_EVERY``-th round but the last,
    whose result the caller consumes once."""
    if (i + 1) % _TRUNCATE_EVERY == 0 and i + 1 < rounds:
        return df.localCheckpoint(eager=True)
    return df


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an undirected edge list.

    Returns ``(id, component)`` with ``component`` = min vertex id in
    the component, one row per vertex that appears in ``edges``
    (isolated vertices never enter the edge stream; callers union
    them back with ``component = id`` if needed).

    **Small-graph fast path**: the canonical edge set is materialized
    (checkpointed) before iterating anyway, so its size is known for
    free; at or below ``_DRIVER_MAX_EDGES`` edges (bounded driver
    memory — 100k edges is a few MB) the closure finishes as a
    driver-side union-find instead of paying 2-3 cluster jobs per
    star round on kilobyte data. Near-dup pair streams are sparse by
    construction, so this is the common case even at corpus scale;
    the iterative path takes over exactly when the edge set is big
    enough to amortize its shuffles.

    Implementation: alternating large-star / small-star.  With
    neighborhood-plus-self N+(v) and m = min(N+(v)):

    * large-star: for every neighbor u > v, emit (u, m) — strictly
      larger vertices re-attach to the local minimum;
    * small-star: for every neighbor u <= v (and v itself), emit
      (u, m) — v and its small neighbors collapse onto the minimum.

    Both steps are one ``groupBy(v).agg(min)`` plus an explode — two
    shuffles per round, edge count monotone non-increasing. The loop
    stops when a round is a fixpoint (edge multiset unchanged), at
    which point every edge is (v, root) and the answer is the edge
    list itself.
    """
    # canonical undirected form: (a, b) with a > b, self-loops dropped
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .select(
            F.greatest("s", "d").alias("a"), F.least("s", "d").alias("b")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    if e.count() <= _DRIVER_MAX_EDGES:
        id_type = e.schema["a"].dataType.simpleString()
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent.get(root, root)
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent.get(x, x)
            return root

        rows = e.collect()
        for r in rows:
            ra, rb = find(r["a"]), find(r["b"])
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo  # roots stay component minima
        nodes = {v for r in rows for v in (r["a"], r["b"])}
        out = [(v, find(v)) for v in sorted(nodes) if find(v) != v]
        return edges.sparkSession.createDataFrame(
            out, schema=f"id {id_type}, component {id_type}"
        )
    for _ in range(max_iter):
        # ---- large-star: attach strictly-larger neighbors to min ----
        # m(v) = min(N(v) ∪ {v}) via a plain min aggregate + join-back:
        # no collect_set — a hot vertex costs a min, never a set buffer
        nbrs = e.select(F.col("a").alias("v"), F.col("b").alias("u")).unionAll(
            e.select(F.col("b").alias("v"), F.col("a").alias("u"))
        )
        mins = nbrs.groupBy("v").agg(F.least(F.min("u"), F.col("v")).alias("m"))
        # persisted: the small-star step references this twice (group +
        # probe); without a persist the whole star subplan runs twice
        ls = (
            nbrs.join(mins, "v")
            .filter(F.col("u") > F.col("v"))
            .select(F.col("u").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .persist()
        )

        # ---- small-star: collapse v + smaller neighbors onto min ----
        # edges now point larger->smaller; per v: m = min of smaller
        # neighborhood, re-attach each smaller u (and v itself) to m
        nbrs2 = ls.select(F.col("a").alias("v"), F.col("b").alias("u"))
        mins2 = nbrs2.groupBy("v").agg(F.min("u").alias("m"))
        small = (
            nbrs2.join(mins2, "v")
            .select(F.col("u").alias("a"), F.col("m").alias("b"))
            .unionAll(
                mins2.select(F.col("v").alias("a"), F.col("m").alias("b"))
            )
            .select(
                F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
            )
            .filter(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        ls.unpersist()
        # converged iff the edges are a star forest: every vertex has
        # exactly one label (a values distinct) and no label is itself
        # relabeled (no b appears as an a). A star forest is the
        # algorithm's fixpoint, and b < a forces each root to be its
        # component minimum — so this detects convergence in the round
        # it happens instead of paying a confirmation round.
        stats = small.agg(
            F.count(F.lit(1)).alias("n"), F.countDistinct("a").alias("nd")
        ).first()
        if stats["n"] == stats["nd"]:
            relabeled = small.alias("x").join(
                small.alias("y"),
                F.col("x.b") == F.col("y.a"),
                "left_semi",
            )
            if relabeled.isEmpty():
                e = small
                break
        e = small
    return e.select(F.col("a").alias("id"), F.col("b").alias("component"))


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    d1: str = "d1",
    d2: str = "d2",
    block_col: str | None = None,
) -> DataFrame:
    """Duplicate-cluster assignment from a near-dup pair stream.

    Returns ``(doc_id, cluster_id, is_canonical)`` for every document
    that belongs to a duplicate cluster (|cluster| >= 2):
    ``cluster_id`` = min doc id in the cluster (the canonical
    survivor), ``is_canonical`` marks it. Documents with no duplicate
    partner are absent — at 100 TB the pair stream is sparse and this
    output is the *removal list* joined back as an anti-join, so
    materializing a row per clean document would be pure waste.

    With ``block_col`` (a column of ``pairs`` whose key partitions
    the NODES — each entity belongs to exactly one block, as with a
    functional attribute like q125's brand; NOT an LSH band id, see
    :func:`blocked_components`), the transitive closure runs as
    one-shuffle per-block union-find instead of the iterative global
    algorithm.
    """
    if block_col is not None:
        # per_block union-find emits a row for EVERY node of the block
        # including roots (component = self), and blocks partition the
        # nodes — the assignment is already complete and duplicate-free;
        # a roots union here would re-evaluate the whole pair lineage
        # (simhash + banding + union-find) a second time
        assign = blocked_components(pairs, block_col, d1=d1, d2=d2).select(
            F.col("id").alias("id"), F.col("component").alias("component")
        )
    else:
        comp = connected_components(pairs, src=d1, dst=d2)
        # component roots themselves appear only on the right side of
        # the final edge list; add their self-assignment
        roots = comp.select(
            F.col("component").alias("id"), "component"
        ).distinct()
        assign = comp.unionByName(roots).distinct()
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(assign, F.col("doc_id") == F.col("id"), "inner")
        .select(
            "doc_id",
            F.col("component").alias("cluster_id"),
            (F.col("doc_id") == F.col("component")).alias("is_canonical"),
        )
    )


def components_oracle_sql(pairs_sql: str) -> str:
    """DuckDB recursive-CTE oracle for ``dedup_clusters`` over the
    edge set produced by ``pairs_sql`` (columns d1, d2).

    Transitive closure by recursive expansion (UNION dedups visited
    states), then label = min reachable id. Test-scale only — the
    distributed path never enumerates walks.
    """
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    edges AS (
        SELECT d1 AS s, d2 AS d FROM pairs
        UNION
        SELECT d2, d1 FROM pairs
    ),
    reach(id, r) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.s, q.r FROM edges e JOIN reach q ON e.d = q.id
    )
    SELECT id AS doc_id,
           MIN(r) AS cluster_id,
           id = MIN(r) AS is_canonical
    FROM reach
    GROUP BY id
    """


def blocked_components(
    pairs: DataFrame,
    block_col: str,
    d1: str = "d1",
    d2: str = "d2",
    validate: bool = False,
) -> DataFrame:
    """Connected components when the blocking key partitions the
    *nodes*: every node belongs to exactly one block (q125's brand
    blocks — a part has exactly one brand), so components cannot span
    blocks and the global answer is the per-block answer.

    Edge containment alone is NOT sufficient: LSH/minhash *band*
    pairs also each lie within one band, but a document appears in
    several bands and components legitimately span bands through
    shared nodes — use the iterative :func:`connected_components`
    there. ``validate=True`` checks the node-partition property with
    one extra aggregate over the pair stream and raises on violation
    (off by default: when blocking derives from a functional
    attribute of the entity, the property holds by construction).

    Valid input turns the O(log^2 n)-round global algorithm into ONE
    shuffle: group each block's edges, run path-compressed union-find
    over the group in an Arrow batch, emit (id, component = min
    member id) — at 100 TB the win is the difference between one
    shuffle and ~8.
    """
    import pandas as pd

    if validate:
        both = pairs.select(block_col, F.col(d1).alias("id")).unionByName(
            pairs.select(block_col, F.col(d2).alias("id"))
        )
        offenders = (
            both.groupBy("id")
            .agg(F.countDistinct(block_col).alias("nb"))
            .filter("nb > 1")
        )
        bad = offenders.limit(1).collect()
        if bad:
            raise ValueError(
                f"blocked_components: node {bad[0]['id']!r} appears in "
                f"multiple {block_col!r} blocks — the blocking key must "
                "partition the nodes; use connected_components for "
                "cross-block edge sets (e.g. LSH band pairs)"
            )

    id_type = pairs.schema[d1].dataType.simpleString()

    def per_block(pdf: pd.DataFrame):
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent.get(root, root)
            while parent.get(x, x) != x:  # path compression
                parent[x], x = root, parent.get(x, x)
            return root

        for a, b in zip(pdf[d1], pdf[d2]):
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by id: larger root attaches under smaller, so
                # every root is its component minimum
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        nodes = set(pdf[d1]) | set(pdf[d2])
        return pd.DataFrame(
            {"id": list(nodes), "component": [find(n) for n in nodes]}
        )

    return (
        pairs.select(block_col, d1, d2)
        .groupBy(block_col)
        .applyInPandas(per_block, f"id {id_type}, component {id_type}")
    )


def _pagerank_edge_frame(edges, src: str, dst: str, assume_no_dangling: bool):
    """Shared one-time edge build for the power-iteration family
    (:func:`pagerank` / :func:`personalized_pagerank`): out-degrees,
    the checkpointed node universe (every source), and the
    checkpointed (e_src, e_dst, outdeg) edge frame with dst-only
    dangling edges pre-filtered unless the caller vouches there are
    none (symmetric / co-occurrence edge sets). One definition so the
    two loops can never drift.

    The RAW edge frame is checkpointed FIRST: callers hand in lazy,
    often expensive plans (q122's co-occurrence build is a lineitem
    shuffle + set explode + pair distinct), and deriving degrees,
    universe, and the annotated edge frame each as separate eager
    jobs from that lazy plan would re-execute the whole upstream
    once per job — measured ~2s of the q122 budget at sf0.1.
    Everything downstream of ``e0`` is one cheap agg or a map-side
    broadcast join over already-materialized rows."""
    e0 = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst")
    ).localCheckpoint(eager=True)
    deg = e0.groupBy("e_src").agg(F.count(F.lit(1)).alias("outdeg"))
    nodes = deg.select(F.col("e_src").alias("node")).localCheckpoint(
        eager=True
    )
    # deg and nodes are node-sized like the rank state: broadcast
    e = e0.join(F.broadcast(deg), "e_src").select("e_src", "e_dst", "outdeg")
    if not assume_no_dangling:
        # ``assume_no_dangling=True`` is a caller contract that every
        # dst also appears as a src, making this semi-join a no-op —
        # skipping it drops one join from the one-time edge build.
        e = e.join(F.broadcast(nodes), F.col("e_dst") == F.col("node"), "left_semi")
    return deg, nodes, e.localCheckpoint(eager=True)


def _power_round(e: DataFrame, ranks: DataFrame, universe: DataFrame) -> DataFrame:
    """One power-iteration round of :func:`pagerank` and
    :func:`personalized_pagerank`: (node, csum) with csum the sum of
    the in-edge contributions rank/outdeg, each quantised to a
    15-decimal fixed point long. The rank state is broadcast, so the
    round is a map-side join over the checkpointed edges plus one
    groupBy(node) — Catalyst can't estimate the post-agg size itself,
    so mid-chain rounds would otherwise fall back to sort-merge.

    A zero contribution for every ``universe`` node is unioned in
    instead of a left join from the universe: the zero rows ride the
    SAME groupBy shuffle (adding 0 to a long sum is exact), every node
    stays in the result — including zero-in-degree sources — and each
    round sheds a join (with its per-round broadcast job; measured
    ~10% on the 5-round query). The oracles keep the equivalent LEFT
    JOIN + COALESCE formulation: same csum, bit-identical ranks."""
    contrib = e.join(F.broadcast(ranks), F.col("e_src") == F.col("node")).select(
        F.col("e_dst").alias("node"),
        F.round(F.col("rank") / F.col("outdeg") * F.lit(1e15))
        .cast("bigint")
        .alias("c"),
    )
    contrib = contrib.unionByName(
        universe.select("node", F.lit(0).cast("bigint").alias("c"))
    )
    return contrib.groupBy("node").agg(F.sum("c").alias("csum"))


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    assume_no_dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge set.

    Returns (node, rank) for every node that appears as a source —
    including zero-in-degree sources, which keep the (1-d)/n base
    rank: every round unions a zero contribution for each universe
    node into the aggregation, so no node ever drops out (symmetric
    edge sets — e.g. co-occurrence graphs — make the universe every
    node). Destination-only nodes are out of scope (they are
    dangling: no outdeg; edges into them are pre-filtered once and
    their would-be rank mass is dropped, see below).
    Classic power iteration: each round is one join (ranks onto
    edges by src) plus one groupBy(dst) — the GraphX/Pregel cost
    shape expressed as plain DataFrame ops, so Catalyst handles
    partitioning and AQE handles skewed hub nodes.

    Scale notes: rank state is one row per node (tiny vs edges) and
    broadcast every round; edges are persisted once and reused every
    round. Unlike connected components (data-dependent round count),
    the iteration count here is small and fixed, so lineage is
    checkpointed only every ``_TRUNCATE_EVERY`` rounds — eager
    per-round materialization measured 2x slower at 5 iterations with
    identical results, and even a single mid-run checkpoint costs
    ~12% at 5 rounds (interleaved best-of-3 A/B at sf0.1: 9.5s
    checkpointing every 4 rounds vs 8.4s without), so short
    fixed-count runs stay checkpoint-free; plan depth only bites at
    tens of rounds.
    Dangling nodes are out of scope (callers
    pass symmetrized edge sets; a dangling-mass correction would add
    one broadcast scalar per round).

    Cross-engine determinism: per-edge contributions are doubles of
    identical shape (rank/outdeg), quantized to a 15-decimal fixed
    point (``round(c * 1e15) -> BIGINT``) and summed as plain longs —
    integer addition is order-independent, so a DuckDB oracle with
    unrolled iterations (``pagerank_oracle_sql``) matches bit-for-bit.
    The long sum cannot overflow: rank mass is conserved (total <= 1),
    so every per-node csum is <= ~1e15 << 2^63 at any graph scale —
    and unlike a DECIMAL(24,15) accumulator (BigDecimal-backed on the
    JVM) the fixed-point path is pure long arithmetic in codegen.
    (At sf0.1 the rounds are scheduling/shuffle-latency bound and the
    two are measured equal; the per-row gap matters once per-round
    contribution counts reach billions.)
    """
    # node universe = every source node, kept in the result every
    # round (below) so zero-in-degree sources don't silently vanish
    # after iteration 1 on non-symmetric edge sets; dangling (dst-
    # only) edges pre-filtered once — see _pagerank_edge_frame
    deg, nodes, e = _pagerank_edge_frame(edges, src, dst, assume_no_dangling)
    nstats = deg.agg(F.count(F.lit(1)).alias("n"))
    ranks = nodes.crossJoin(F.broadcast(nstats)).select(
        "node",
        F.expr("1.0 / CAST(n AS DOUBLE)").alias("rank"),
    )
    for i in range(iterations):
        csums = _power_round(e, ranks, nodes)
        ranks = csums.crossJoin(F.broadcast(nstats)).select(
            "node",
            F.expr(
                f"{1.0 - damping} / CAST(n AS DOUBLE)"
                f" + {damping} * (CAST(csum AS DOUBLE) / 1e15)"
            ).alias("rank"),
        )
        ranks = _truncate(ranks, i, iterations)
    return ranks


def pagerank_oracle_sql(
    edges_sql: str,
    iterations: int = 5,
    damping: float = 0.85,
) -> str:
    """DuckDB mirror of :func:`pagerank`: the power iteration unrolled
    into one CTE per round, same expression shapes (same rounding,
    same 15-decimal fixed-point long sums) so every double agrees
    bit-for-bit. ``edges_sql`` must yield columns (src, dst)."""
    parts = [
        f"WITH pairs AS ({edges_sql})",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg"
        " FROM pairs GROUP BY src)",
        "nst AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg)",
        "e AS (SELECT p.src, p.dst, d.outdeg FROM pairs p"
        " JOIN deg d ON p.src = d.src)",
        "nodes AS (SELECT src AS node FROM deg)",
        "r0 AS (SELECT node, 1.0 / CAST(n AS DOUBLE) AS rank"
        " FROM nodes, nst)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            " SUM(CAST(round(r.rank / e.outdeg * 1e15)"
            " AS BIGINT)) AS csum"
            f" FROM e JOIN r{i - 1} r ON e.src = r.node"
            " GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT nodes.node,"
            f" {1.0 - damping} / CAST(n AS DOUBLE)"
            f" + {damping}"
            " * (CAST(COALESCE(c.csum, 0) AS DOUBLE) / 1e15) AS rank"
            f" FROM nodes LEFT JOIN c{i} c ON nodes.node = c.node, nst)"
        )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT node, rank FROM r{iterations}"
    )


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 3,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
) -> DataFrame:
    """Multi-source BFS: min-hop distance from any seed, bounded by
    ``max_hops`` (nodes further than that are absent).

    Per round: one join (*frontier* onto edges — only the rows
    reached for the first time last round, never the whole
    accumulated distance set, so round k costs O(frontier_k x degree)
    rather than re-expanding every prior round) + one dedup + one
    anti-join against the reached set. Same Pregel cost shape as
    :func:`pagerank`, all-integer so no float portability machinery.
    At 100 TB the edge set dominates and is persisted once; a small
    frontier broadcasts, making the round a map-side join over those
    persisted edges — no per-round edge shuffle at all.

    The broadcast is decided **per round** from the frontier's actual
    row count (free — the count is the read that materialises the
    frontier's cut and doubles as the emptiness check):
    broadcast while ``<= _BROADCAST_MAX_ROWS``, shuffle join beyond,
    so a corpus-scale hop can never hit Spark's 8 GB broadcast
    ceiling or the driver's memory. Oracle: ``bfs_oracle_sql`` unrolls
    the rounds into CTEs (the k-hop-neighborhood / blast-radius
    shape).
    """
    e = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst")
    ).localCheckpoint(eager=True)
    dist = seeds.select(
        F.col(node).alias("node"), F.lit(0).cast("int").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist
    for _ in range(max_hops):
        n_frontier = frontier.count()
        if n_frontier == 0:
            break
        fr = F.broadcast(frontier) if n_frontier <= _BROADCAST_MAX_ROWS else frontier
        expanded = (
            e.join(fr, e.e_src == frontier.node)
            .select(F.col("e_dst").alias("node"), (F.col("dist") + 1).alias("dist"))
            .dropDuplicates(["node"])
        )
        # in unit-weight BFS any node already in `dist` was reached in
        # <= k hops, so an anti-join (not a min-agg over the union) is
        # enough to keep only first-time reachings
        frontier = expanded.join(dist, "node", "left_anti").localCheckpoint(
            eager=False
        )
        dist = dist.unionByName(frontier).localCheckpoint(eager=False)
    return dist.select("node", F.col("dist").cast("int").alias("dist"))


def bfs_oracle_sql(
    edges_sql: str, seeds_sql: str, max_hops: int = 3
) -> str:
    """DuckDB mirror of :func:`bfs_hops`: rounds unrolled into CTEs.
    ``edges_sql`` yields (src, dst); ``seeds_sql`` yields (node)."""
    parts = [
        f"WITH e AS ({edges_sql})",
        f"d0 AS (SELECT node, 0 AS dist FROM ({seeds_sql}))",
    ]
    for i in range(1, max_hops + 1):
        parts.append(
            f"d{i} AS (SELECT node, CAST(MIN(dist) AS INTEGER) AS dist"
            f" FROM (SELECT node, dist FROM d{i - 1}"
            f" UNION ALL SELECT e.dst AS node, d.dist + 1 AS dist"
            f" FROM e JOIN d{i - 1} d ON e.src = d.node)"
            " GROUP BY node)"
        )
    return ",\n    ".join(parts) + f"\n    SELECT node, dist FROM d{max_hops}"


def label_propagation(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Synchronous label propagation (community detection), fixed
    iteration count, deterministic tie-break.

    Classic LPA (Raghavan et al. 2007) assigns each node the label
    most frequent among its in-neighbors; random tie-breaking makes
    it non-reproducible, so this variant breaks ties by SMALLEST
    label — fully deterministic, hence oracle-checkable
    (``label_propagation_oracle_sql`` unrolls the rounds). Labels
    start as the node's own id; a node with no in-edges keeps its
    current label. All-integer state: no float portability concerns.

    Scale shape: each round is one aggregation, and only its winners
    travel to the next. A node with an in-edge gets a winner every
    round and a node without one keeps its own id, so ``label_i(n) =
    coalesce(winner_i(n), n)`` and round i+1 is one join (the previous
    winners onto the edge set persisted once, by ``src``) + one
    ``mode(label, deterministic=True)`` aggregation keyed by dst —
    most frequent label, lowest on ties, which is exactly this rule —
    so a round is a single ``Exchange hashpartitioning(v)`` between
    ``partial_mode`` and ``mode``. The last round also covers every
    node: its votes are unioned with one null-label row per edge
    endpoint; ``mode`` skips nulls, so a node without votes gets null
    and keeps its own id through the ``coalesce``, with no separate
    node list, shuffle or join. Winners are at most one row per node
    (tiny next to edges) and broadcast, making the per-round join
    map-side — the same Pregel cost shape as :func:`pagerank`, with
    the same lineage truncation (``_truncate``) of the winners.

    Memory bound: ``mode``'s buffer is a hash map per node of its
    distinct in-neighbour labels, held in memory on the reduce side
    (an ``ObjectHashAggregate``, which falls back to sort-based
    aggregation when too many nodes share a task), so a single node's
    distinct in-neighbour labels must fit one task's memory.

    The reference engine has no graph surface (single-pass stream
    transforms only, jobs/convertors/*); net-new capability.
    """
    e = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst")
    ).localCheckpoint(eager=True)
    # every edge endpoint, null ones included, as a label-less row
    endpoints = e.select(F.col("e_src").alias("v")).unionByName(
        e.select(F.col("e_dst").alias("v"))
    )
    if iterations <= 0:
        return endpoints.distinct().select(
            F.col("v").alias("node"), F.col("v").alias("label")
        )

    # a null src matches no node, so (as an inner join on it would)
    # it casts no vote; a null dst is no node to vote for
    voters = e.where(F.col("e_src").isNotNull() & F.col("e_dst").isNotNull())
    winner = None
    for i in range(iterations):
        if winner is None:
            label = F.col("e_src")
            labelled = voters
        else:
            label = F.coalesce(F.col("new_label"), F.col("e_src"))
            labelled = voters.join(
                F.broadcast(winner), F.col("e_src") == F.col("v"), "left"
            )
        if i + 1 < iterations:
            # grouped straight off the join: a projection in between
            # would cost one more analysed DataFrame per round
            winner = labelled.groupBy(F.col("e_dst").alias("v")).agg(
                F.mode(label, deterministic=True).alias("new_label")
            )
        else:
            votes = labelled.select(
                F.col("e_dst").alias("v"), label.alias("label")
            ).unionByName(endpoints, allowMissingColumns=True)
            winner = votes.groupBy("v").agg(
                F.mode("label", deterministic=True).alias("new_label")
            )
        winner = _truncate(winner, i, iterations)
    return winner.select(
        F.col("v").alias("node"),
        F.coalesce(F.col("new_label"), F.col("v")).alias("label"),
    )


def label_propagation_oracle_sql(
    edges_sql: str, iterations: int = 3, id_span: int = 10_000_000_000
) -> str:
    """DuckDB mirror of :func:`label_propagation`: rounds unrolled
    into CTEs. DuckDB's ``arg_max`` takes a single ordering value, so
    the (cnt DESC, label ASC) winner is encoded arithmetically as
    ``arg_max(label, cnt * id_span - label)``, which mirrors the
    engine's ``mode(label, true)`` (most frequent label, lowest on
    ties) whenever node ids are non-negative, below ``id_span``, and
    ``cnt * id_span`` fits an int64 (always true at oracle test
    scale). DuckDB's own ``mode`` leaves ties unspecified, hence the
    explicit encoding."""
    parts = [
        f"WITH e AS ({edges_sql})",
        "nodes AS (SELECT DISTINCT src AS node FROM e"
        " UNION SELECT DISTINCT dst FROM e)",
        "l0 AS (SELECT node, node AS label FROM nodes)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"v{i} AS (SELECT e.dst AS v, l.label,"
            " CAST(COUNT(*) AS BIGINT) AS cnt"
            f" FROM e JOIN l{i - 1} l ON e.src = l.node"
            " GROUP BY e.dst, l.label)"
        )
        parts.append(
            f"w{i} AS (SELECT v, arg_max(label, cnt * {id_span} - label)"
            f" AS new_label FROM v{i} GROUP BY v)"
        )
        parts.append(
            f"l{i} AS (SELECT l.node,"
            " COALESCE(w.new_label, l.label) AS label"
            f" FROM l{i - 1} l LEFT JOIN w{i} w ON l.node = w.v)"
        )
    return ",\n    ".join(parts) + f"\n    SELECT node, label FROM l{iterations}"


def shortest_paths(
    edges: DataFrame,
    seeds: DataFrame,
    max_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "weight",
    node: str = "node",
) -> DataFrame:
    """Weighted single/multi-source shortest paths: frontier
    Bellman-Ford with non-negative BIGINT weights, bounded at
    ``max_rounds`` relaxation rounds (a distance using more than
    that many hops is not found — callers pick the bound like
    :func:`bfs_hops` picks ``max_hops``).

    Per round only the *improved* frontier (nodes whose distance
    dropped last round) re-expands — round k costs
    O(frontier_k x degree), not a full re-relaxation of every
    settled node; with non-negative weights a node re-enters the
    frontier only while genuinely shorter paths keep arriving.
    Integer weights keep min/plus arithmetic exact across engines;
    ``shortest_paths_oracle_sql`` unrolls the rounds (the simple
    full-relaxation form — same fixpoint per round). Edges persist
    once (localCheckpoint); a frontier of at most
    ``_BROADCAST_MAX_ROWS`` broadcasts, so the common round is a
    map-side join. Each round cuts the frontier and ``dist`` lazily;
    the next round's frontier count materialises the frontier, its
    join reads materialise ``dist``, and the caller's action
    materialises the last round's.
    """
    e = edges.select(
        F.col(src).alias("e_src"),
        F.col(dst).alias("e_dst"),
        F.col(weight).cast("bigint").alias("w"),
    ).localCheckpoint(eager=True)
    dist = seeds.select(
        F.col(node).alias("node"), F.lit(0).cast("bigint").alias("dist")
    ).localCheckpoint(eager=True)
    frontier = dist
    for _ in range(max_rounds):
        n_frontier = frontier.count()
        if n_frontier == 0:
            break
        fr = F.broadcast(frontier) if n_frontier <= _BROADCAST_MAX_ROWS else frontier
        # best candidate distance per reached neighbor this round
        relax = (
            e.join(fr, F.col("e_src") == F.col("node"))
            .groupBy(F.col("e_dst").alias("node"))
            .agg(F.min(F.col("dist") + F.col("w")).alias("cand"))
        )
        # a candidate survives if the node is new or strictly closer
        improved = (
            relax.join(dist.withColumnRenamed("dist", "old"), "node", "left")
            .filter(F.col("old").isNull() | (F.col("cand") < F.col("old")))
            .select("node", F.col("cand").alias("dist"))
            .localCheckpoint(eager=False)
        )
        frontier = improved
        dist = (
            dist.join(improved.select("node"), "node", "left_anti")
            .unionByName(improved)
            .localCheckpoint(eager=False)
        )
    return dist.select("node", F.col("dist").cast("bigint").alias("dist"))


def shortest_paths_oracle_sql(
    edges_sql: str, seeds_sql: str, max_rounds: int = 4
) -> str:
    """DuckDB mirror of :func:`shortest_paths`: Bellman-Ford rounds
    unrolled into CTEs. ``edges_sql`` yields (src, dst, weight);
    ``seeds_sql`` yields (node). The unrolled form relaxes every
    settled node each round; per-round fixpoints match the engine's
    frontier form exactly."""
    parts = [
        f"WITH e AS ({edges_sql})",
        f"s0 AS (SELECT node, CAST(0 AS BIGINT) AS dist FROM ({seeds_sql}))",
    ]
    for i in range(1, max_rounds + 1):
        parts.append(
            f"s{i} AS (SELECT node, MIN(dist) AS dist FROM ("
            f"SELECT node, dist FROM s{i - 1}"
            " UNION ALL "
            "SELECT e.dst AS node, d.dist + CAST(e.weight AS BIGINT) AS dist"
            f" FROM e JOIN s{i - 1} d ON e.src = d.node"
            ") GROUP BY node)"
        )
    return ",\n    ".join(parts) + f"\n    SELECT node, dist FROM s{max_rounds}"


def triangle_stats(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Global triangle count and clustering coefficient of an
    undirected graph (edges may arrive in either/both directions;
    they are canonicalized first).

    Degree-oriented wedge join (Cohen'09 / Suri-Vassilvitskii'11
    "MR triangle counting"): orient every edge from its (degree,
    node)-smaller endpoint to the larger, so each triangle is
    counted exactly once at its lowest-degree corner and — the scale
    property — every node's oriented out-degree is bounded by
    O(sqrt(|E|)), which caps the wedge-join blowup that a skewed hub
    would otherwise cause (a million-follower node generates wedges
    only from edges pointing OUT of it, and almost all of its edges
    point in). Two self-joins over the oriented edge set, all
    integer. Returns one row: (n_nodes, n_edges, n_wedges,
    n_triangles, clustering_coeff) where clustering_coeff =
    3 * triangles / wedges (open + closed) on the undirected graph.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    # orient a->b when (deg_a, a) < (deg_b, b)
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | ((F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .localCheckpoint(eager=True)
    )
    w1 = oriented.alias("x")
    w2 = oriented.alias("y")
    wedges_or = w1.join(
        w2, (F.col("x.u") == F.col("y.u")) & (F.col("x.v") < F.col("y.v"))
    ).select(F.col("x.v").alias("p"), F.col("y.v").alias("q"))
    closing = und.select(
        F.least("a", "b").alias("p"), F.greatest("a", "b").alias("q")
    )
    tri = wedges_or.join(closing, ["p", "q"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    # wedge-count accumulator as DECIMAL(38,0): sum(deg^2) overflows
    # int64 on billion-edge hub-heavy graphs, and a silent Spark wrap
    # would diverge from DuckDB's exact HUGEINT sum
    stats = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.expr("CAST(deg AS DECIMAL(38,0)) * (deg - 1)")).alias("__w2"),
    )
    nedges = und.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        stats.crossJoin(F.broadcast(nedges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            # deg*(deg-1) is always even, so /2 is exact in decimal
            F.expr("CAST(__w2 / 2 AS BIGINT)").alias("n_wedges"),
            "n_triangles",
            F.expr(
                "CASE WHEN __w2 = 0 THEN 0.0 ELSE"
                " CAST(3 * n_triangles AS DOUBLE)"
                " / CAST(CAST(__w2 / 2 AS DECIMAL(38,0)) AS DOUBLE) END"
            ).alias("clustering_coeff"),
        )
    )


def triangle_oracle_sql(edges_sql: str) -> str:
    """DuckDB mirror of :func:`triangle_stats`. ``edges_sql`` yields
    (src, dst) in any orientation."""
    return f"""
    WITH raw AS ({edges_sql}),
    und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM raw WHERE src <> dst),
    deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und)
        GROUP BY node),
    oriented AS (
        SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END AS u,
               CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END AS v
        FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b),
    wedges AS (
        SELECT x.v AS p, y.v AS q
        FROM oriented x JOIN oriented y ON x.u = y.u AND x.v < y.v),
    tri AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM wedges w WHERE EXISTS (
            SELECT 1 FROM und WHERE und.a = least(w.p, w.q)
                               AND und.b = greatest(w.p, w.q))),
    st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
               CAST(SUM(deg * (deg - 1)) AS BIGINT) AS w2
        FROM deg),
    ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM und)
    SELECT st.n_nodes, ne.n_edges,
           CAST(st.w2 // 2 AS BIGINT) AS n_wedges,
           tri.n_triangles,
           CASE WHEN st.w2 = 0 THEN 0.0 ELSE
               CAST(3 * tri.n_triangles AS DOUBLE)
               / CAST(st.w2 // 2 AS DOUBLE) END AS clustering_coeff
    FROM st, ne, tri
    """


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    assume_no_dangling: bool = False,
) -> DataFrame:
    """Personalized PageRank: the restart mass returns to a SEED set
    instead of the uniform distribution — the "related items for X"
    / topic-sensitive ranking primitive (Haveliwala WWW'02).

    Same round as :func:`pagerank` (``_power_round``: edges
    checkpointed once, per-round broadcast join + contribution
    aggregate, 15-decimal long sums for bit-exact cross-engine parity)
    and the same lineage truncation; only the base term differs:
    ``(1 - d) / |S|`` on seed nodes, zero elsewhere. Seeds outside
    the source universe are ignored. Initial rank = uniform over the
    (kept) seeds.
    """
    deg, nodes, e = _pagerank_edge_frame(edges, src, dst, assume_no_dangling)
    s = (
        seeds.select(F.col(node).alias("node"))
        .distinct()
        .join(nodes, "node", "left_semi")
        .localCheckpoint(eager=True)
    )
    nstats = s.agg(F.count(F.lit(1)).alias("ns"))
    # base restart vector: (1-d)/|S| on seeds, 0 elsewhere — kept as
    # a column on the node universe so every round's union/join shape
    # matches pagerank's
    base = (
        nodes.join(s.withColumn("__is_seed", F.lit(1)), "node", "left")
        .crossJoin(F.broadcast(nstats))
        .select(
            "node",
            F.when(
                F.col("__is_seed").isNotNull(),
                F.lit(1.0 - damping) / F.col("ns").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("base"),
            F.when(
                F.col("__is_seed").isNotNull(),
                F.lit(1.0) / F.col("ns").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("r0"),
        )
        .localCheckpoint(eager=True)
    )
    ranks = base.select("node", F.col("r0").alias("rank"))
    for i in range(iterations):
        csums = _power_round(e, ranks, base)
        ranks = csums.join(base.select("node", "base"), "node").select(
            "node",
            F.expr(
                f"base + {damping} * (CAST(csum AS DOUBLE) / 1e15)"
            ).alias("rank"),
        )
        ranks = _truncate(ranks, i, iterations)
    return ranks


def ppr_oracle_sql(
    edges_sql: str,
    seeds_sql: str,
    iterations: int = 5,
    damping: float = 0.85,
) -> str:
    """DuckDB mirror of :func:`personalized_pagerank` (rounds
    unrolled; identical fixed-point shapes). ``edges_sql`` yields
    (src, dst); ``seeds_sql`` yields (node)."""
    parts = [
        f"WITH pairs AS ({edges_sql})",
        "deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg"
        " FROM pairs GROUP BY src)",
        "nodes AS (SELECT src AS node FROM deg)",
        f"s AS (SELECT DISTINCT node FROM ({seeds_sql})"
        " WHERE node IN (SELECT node FROM nodes))",
        "nst AS (SELECT CAST(COUNT(*) AS BIGINT) AS ns FROM s)",
        "e AS (SELECT p.src, p.dst, d.outdeg FROM pairs p"
        " JOIN deg d ON p.src = d.src)",
        f"base AS (SELECT n.node,"
        f" CASE WHEN s.node IS NOT NULL THEN {1.0 - damping}"
        " / CAST(nst.ns AS DOUBLE) ELSE 0.0 END AS base,"
        " CASE WHEN s.node IS NOT NULL THEN 1.0"
        " / CAST(nst.ns AS DOUBLE) ELSE 0.0 END AS r0"
        " FROM nodes n LEFT JOIN s ON n.node = s.node, nst)",
        "r0 AS (SELECT node, r0 AS rank FROM base)",
    ]
    for i in range(1, iterations + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst AS node,"
            " SUM(CAST(round(r.rank / e.outdeg * 1e15)"
            " AS BIGINT)) AS csum"
            f" FROM e JOIN r{i - 1} r ON e.src = r.node"
            " GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT b.node,"
            f" b.base + {damping}"
            " * (CAST(COALESCE(c.csum, 0) AS DOUBLE) / 1e15) AS rank"
            f" FROM base b LEFT JOIN c{i} c ON b.node = c.node)"
        )
    return (
        ",\n    ".join(parts)
        + f"\n    SELECT node, rank FROM r{iterations}"
    )


def kcore(
    edges: DataFrame,
    k: int,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-round k-core peeling over a symmetric edge set: each
    round drops nodes with out-degree < k and restricts edges to
    surviving endpoints; after enough rounds the fixpoint is the
    k-core (Seidman 1983) — the dense-backbone extraction used to
    find obligate co-occurrence structure (and, in dedup graphs,
    template families too entangled for pairwise rules).

    ``rounds`` is FIXED, not run-to-convergence, for the same reason
    pagerank's iterations are: the DuckDB oracle unrolls the exact
    same rounds, making the (node, deg) output bit-comparable at any
    scale; peeling converges geometrically in practice, and a
    converged round is a no-op (degree filter keeps everything), so
    overshooting rounds is safe, not wrong.

    Scale shape: per round one degree aggregation (shuffle on src
    over the shrinking edge set) and two semi joins against the
    (node-sized, broadcast) keep set; the edge frame is checkpointed
    once up front so the authoring plan never re-executes. Returns
    (node, deg) of survivors with degrees in the peeled subgraph.
    """
    e = edges.select(
        F.col(src).alias("e_src"), F.col(dst).alias("e_dst")
    ).localCheckpoint(eager=True)
    for _ in range(rounds):
        deg = e.groupBy("e_src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= k).select(
            F.col("e_src").alias("node")
        )
        # per-round cut (the module-header rule): keep is referenced
        # twice and derives from e, so an uncut round would embed the
        # prior plan three times — ~3^rounds growth
        e = (
            e.join(
                F.broadcast(keep),
                F.col("e_src") == F.col("node"),
                "left_semi",
            )
            .join(
                F.broadcast(keep),
                F.col("e_dst") == F.col("node"),
                "left_semi",
            )
            .localCheckpoint(eager=False)
        )
    return (
        e.groupBy(F.col("e_src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .filter(F.col("deg") >= k)
    )


def kcore_oracle_sql(
    edges_sql: str, k: int, rounds: int = 4
) -> str:
    """DuckDB mirror of :func:`kcore` with the rounds unrolled into
    CTEs. ``edges_sql`` yields (src, dst), symmetric."""
    parts = [f"WITH e0 AS ({edges_sql})"]
    prev = "e0"
    for r in range(1, rounds + 1):
        parts.append(
            f"k{r} AS (SELECT src AS node FROM {prev}"
            f" GROUP BY src HAVING COUNT(*) >= {k})"
        )
        parts.append(
            f"e{r} AS (SELECT e.src, e.dst FROM {prev} e"
            f" WHERE e.src IN (SELECT node FROM k{r})"
            f" AND e.dst IN (SELECT node FROM k{r}))"
        )
        prev = f"e{r}"
    parts.append(
        f"final AS (SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS deg"
        f" FROM {prev} GROUP BY src HAVING COUNT(*) >= {k})"
    )
    return ",\n".join(parts) + "\nSELECT node, deg FROM final"


def degree_assortativity(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over a SYMMETRIC edge set (both
    directions present, the contract of this module's co-occurrence
    callers) — positive means hubs link to hubs (social-graph shape),
    negative means hubs link to leaves (star/hub-and-spoke shape).
    Degrees are source out-degrees, which on a symmetric set equal
    total degrees; for a genuinely directed analysis (in-degree of
    target, edges to sink nodes kept) symmetrize first or extend
    with an in-degree frame — the inner join here drops edges whose
    dst never appears as a src.
    The one-number structural audit run before graph algorithms whose
    cost depends on that shape (triangle counting, LPA, components).

    Exactness: the five sufficient statistics (sum dx, dy, dx^2,
    dy^2, dx*dy) accumulate as DECIMAL(38,0) from exact BIGINT
    degrees — the q144 OLS discipline; at billions of edges an int64
    sum of degree products would wrap. One degree agg, two broadcast
    joins onto edges, one scalar agg. Returns one row
    (n_edges, assortativity) with the coefficient rounded(6).
    """
    deg = edges.groupBy(src).agg(F.count(F.lit(1)).alias("deg"))
    dx = deg.select(F.col(src).alias("__s"), F.col("deg").alias("dx"))
    dy = deg.select(F.col(src).alias("__d"), F.col("deg").alias("dy"))
    joined = (
        edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
        .join(F.broadcast(dx), "__s")
        .join(F.broadcast(dy), "__d")
    )
    s = joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges"),
        F.sum(F.col("dx").cast("decimal(38,0)")).alias("sx"),
        F.sum(F.col("dy").cast("decimal(38,0)")).alias("sy"),
        F.sum((F.col("dx") * F.col("dx")).cast("decimal(38,0)")).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast("decimal(38,0)")).alias("syy"),
        F.sum((F.col("dx") * F.col("dy")).cast("decimal(38,0)")).alias("sxy"),
    )
    num = (
        "CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
    )
    den = (
        "sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
    )
    return s.select(
        "n_edges",
        # a regular graph zeroes both variance terms: 0/0 is NaN in
        # Spark but NULL in DuckDB — explicit NULL on both sides
        F.expr(
            f"CASE WHEN ({den}) > 0"
            f" THEN round(({num}) / ({den}), 6) END"
        ).alias("assortativity"),
    )


def assortativity_oracle_sql(edges_sql: str) -> str:
    """DuckDB mirror of :func:`degree_assortativity`."""
    return f"""
    WITH e AS ({edges_sql}),
    deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
    j AS (
        SELECT dx.deg AS dx, dy.deg AS dy
        FROM e JOIN deg dx ON e.src = dx.src JOIN deg dy ON e.dst = dy.src),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_edges,
               SUM(CAST(dx AS DECIMAL(38,0))) AS sx,
               SUM(CAST(dy AS DECIMAL(38,0))) AS sy,
               SUM(CAST(dx * dx AS DECIMAL(38,0))) AS sxx,
               SUM(CAST(dy * dy AS DECIMAL(38,0))) AS syy,
               SUM(CAST(dx * dy AS DECIMAL(38,0))) AS sxy
        FROM j)
    SELECT n_edges,
           CASE WHEN (sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                      * sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) > 0
                THEN round((CAST(n_edges AS DOUBLE) * CAST(sxy AS DOUBLE)
                            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                           / (sqrt(CAST(n_edges AS DOUBLE) * CAST(sxx AS DOUBLE)
                                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                              * sqrt(CAST(n_edges AS DOUBLE) * CAST(syy AS DOUBLE)
                                     - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                           6)
                END AS assortativity
    FROM s
    """


def bradley_terry(
    prefs: DataFrame,
    iterations: int = 3,
    winner: str = "winner",
    loser: str = "loser",
) -> DataFrame:
    """Bradley-Terry preference ratings via Hunter's MM updates
    (Hunter, Annals of Statistics 2004) — the model behind reward
    ranking from pairwise comparisons (RLHF preference data, arena
    ELO): given (winner, loser) rows, each iteration sets
    ``p_i = W_i / sum_j g_ij / (p_i + p_j)`` with W_i total wins and
    g_ij games between i and j.

    Same discipline as :func:`pagerank`: FIXED iteration count (the
    DuckDB oracle unrolls the same rounds), ratings rounded to 9
    digits per round so both engines iterate identical doubles, and
    per round one broadcast of the (item-sized) rating state joined
    twice onto the symmetric games frame + one aggregation — the
    comparison graph is the edge set, ratings are the rank state.
    Items with zero wins rate 0 (their update is 0/x); pairs drive
    the denominator, so disconnected comparison components rate on
    their own scale (the usual BT identifiability caveat — compare
    within components, here per round count). Returns
    (item, games, wins, rating).
    """
    pairs = prefs.select(
        F.col(winner).alias("w"), F.col(loser).alias("l")
    )
    games = (
        pairs.select(
            F.least("w", "l").alias("a"),
            F.greatest("w", "l").alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("g"))
    )
    sym = games.select(
        F.col("a").alias("i"), F.col("b").alias("j"), "g"
    ).unionByName(
        games.select(
            F.col("b").alias("i"), F.col("a").alias("j"), "g"
        )
    ).localCheckpoint(eager=True)
    wins = (
        pairs.groupBy(F.col("w").alias("i"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("wins"))
    )
    stats = (
        sym.groupBy("i")
        .agg(F.sum("g").cast("bigint").alias("games"))
        .join(wins, "i", "left")
        .select(
            "i",
            "games",
            F.coalesce("wins", F.lit(0).cast("bigint")).alias("wins"),
        )
        .localCheckpoint(eager=True)
    )
    r = stats.select("i", F.lit(1.0).alias("p"))
    for _ in range(iterations):
        ri = F.broadcast(r.select(F.col("i").alias("__i"), F.col("p").alias("pi")))
        rj = F.broadcast(r.select(F.col("i").alias("__j"), F.col("p").alias("pj")))
        den = (
            sym.join(ri, F.col("i") == F.col("__i"))
            .join(rj, F.col("j") == F.col("__j"))
            .groupBy("i")
            .agg(
                F.sum(
                    F.round(
                        F.col("g").cast("double")
                        / (F.col("pi") + F.col("pj")),
                        12,
                    ).cast("decimal(28,12)")
                ).alias("den")
            )
        )
        r = (
            stats.join(den, "i")
            .select(
                "i",
                F.round(
                    F.col("wins").cast("double")
                    / F.col("den").cast("double"),
                    9,
                ).alias("p"),
            )
        )
    return stats.join(r, "i").select(
        F.col("i").alias("item"),
        "games",
        "wins",
        F.col("p").alias("rating"),
    )


def bradley_terry_oracle_sql(
    prefs_sql: str, iterations: int = 3
) -> str:
    """DuckDB mirror of :func:`bradley_terry` (rounds unrolled,
    identical per-term rounding and decimal denominator sums).
    ``prefs_sql`` yields (w, l) rows."""
    parts = [
        f"WITH pairs AS ({prefs_sql})",
        "games AS (SELECT least(w, l) AS a, greatest(w, l) AS b,"
        " CAST(COUNT(*) AS BIGINT) AS g FROM pairs GROUP BY 1, 2)",
        "sym AS (SELECT a AS i, b AS j, g FROM games"
        " UNION ALL SELECT b AS i, a AS j, g FROM games)",
        "wins AS (SELECT w AS i, CAST(COUNT(*) AS BIGINT) AS wins"
        " FROM pairs GROUP BY w)",
        "stats AS (SELECT s.i, CAST(SUM(s.g) AS BIGINT) AS games,"
        " COALESCE(MAX(wins.wins), 0) AS wins"
        " FROM sym s LEFT JOIN wins ON s.i = wins.i GROUP BY s.i)",
        "r0 AS (SELECT i, 1.0 AS p FROM stats)",
    ]
    for t in range(1, iterations + 1):
        parts.append(
            f"d{t} AS (SELECT sym.i,"
            f" SUM(CAST(round(CAST(g AS DOUBLE) / (ri.p + rj.p), 12)"
            f" AS DECIMAL(28,12))) AS den"
            f" FROM sym JOIN r{t-1} ri ON sym.i = ri.i"
            f" JOIN r{t-1} rj ON sym.j = rj.i GROUP BY sym.i)"
        )
        parts.append(
            f"r{t} AS (SELECT stats.i,"
            f" round(CAST(wins AS DOUBLE) / CAST(den AS DOUBLE), 9) AS p"
            f" FROM stats JOIN d{t} ON stats.i = d{t}.i)"
        )
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"SELECT stats.i AS item, games, wins, p AS rating\n"
        f"FROM stats JOIN r{iterations} ON stats.i = r{iterations}.i"
    )


# -- HITS hubs & authorities ------------------------------------------

def hits(
    edges: DataFrame,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a directed —
    typically bipartite — edge set: authority(p) = Σ hub(c) over
    in-edges, hub(c) = Σ authority(p) over out-edges, renormalized
    each half-round. On a customer→item graph, hubs are broad
    bursty buyers and authorities are widely-bought items — the dual
    centrality PageRank's single score conflates.

    Execution per round: two joins (scores onto edges) + two hash
    aggregates — exactly the Pregel cost shape of :func:`pagerank`.
    Each half-round's raw sums are cut lazily and the renorm max,
    fetched as a 1-row ``first()`` and folded in as a literal,
    materialises the cut, so a half-round is one driver action, the
    next half-round reads the cut, and the plan stays a few lines at
    any round count. Score state is one row per node; edges persist
    once.
    Unlike the other node-state loops, the score joins are never
    hinted to broadcast: interleaved best-of-2 A/B at sf0.1 (4 rounds)
    measured the shuffle form FASTER on local mode — 5.7-7.4s vs
    7.6-9.0s broadcasting the score frame — because each of the
    2*rounds broadcasts pays a driver collect round-trip that
    outweighs a co-located exchange.

    Cross-engine exactness: scores live on the 1e-6 integer grid
    (BIGINT in [0, 1e6]); each half-round's sums are pure BIGINT
    (score ≤ 1e6 × degree — no overflow until ~9e12 neighbors), and
    the L∞ renormalization is one double divide + floor back onto
    the grid (IEEE-identical on both engines). The max rides a 1-row
    broadcast. Returns (node, role 'hub'|'authority', score BIGINT):
    final-grid scores, both sides.
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    e = e.distinct().persist()
    hubs = e.select("s").distinct().select(
        "s", F.lit(1_000_000).cast("bigint").alias("h")
    ).localCheckpoint(eager=True)

    def renorm(df: DataFrame, col: str) -> DataFrame:
        raw = df.localCheckpoint(eager=False)
        m = raw.agg(F.max(F.col(col).cast("double")).alias("m")).first()["m"]
        return raw.select(
            df.columns[0],
            F.floor(
                F.col(col).cast("double") / F.lit(m) * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias(col),
        )

    auth = None
    for _ in range(rounds):
        raw_a = (
            e.join(hubs, "s")
            .groupBy("d")
            .agg(F.sum("h").alias("a"))
        )
        auth = renorm(raw_a, "a")
        raw_h = (
            e.join(auth, "d")
            .groupBy("s")
            .agg(F.sum("a").alias("h"))
        )
        hubs = renorm(raw_h, "h")
    # node cast to string: hub and authority sides may have
    # different key types (bipartite graphs usually do), and a union
    # must not coerce one into the other
    out = hubs.select(
        F.col("s").cast("string").alias("node"),
        F.lit("hub").alias("role"),
        F.col("h").alias("score"),
    ).unionAll(
        auth.select(
            F.col("d").cast("string").alias("node"),
            F.lit("authority").alias("role"),
            F.col("a").alias("score"),
        )
    )
    e.unpersist()
    return out


def hits_oracle_sql(edges_sql: str, rounds: int = 4) -> str:
    """DuckDB mirror of :func:`hits`: half-rounds unrolled as CTEs,
    same grid, same L∞ renormalization. ``edges_sql`` must yield
    (src, dst); dedup applied like the operator."""
    # Every round's raw frame is read twice (by its max CTE and its
    # renormalized CTE), and each renormalized frame feeds the next
    # round — DuckDB inlines plain CTEs, so without MATERIALIZED the
    # base join re-executes 2^rounds times (measured: >600s at sf0.1
    # vs ~2s materialized).
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src AS s, dst AS d"
        f" FROM ({edges_sql}))",
        "h0 AS MATERIALIZED (SELECT DISTINCT s,"
        " CAST(1000000 AS BIGINT) AS h FROM e)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"ra{r} AS MATERIALIZED (SELECT e.d,"
            f" CAST(SUM(h.h) AS BIGINT) AS a"
            f" FROM e JOIN h{r - 1} h USING (s) GROUP BY e.d)"
        )
        parts.append(
            f"ma{r} AS (SELECT MAX(CAST(a AS DOUBLE)) AS m FROM ra{r})"
        )
        parts.append(
            f"a{r} AS MATERIALIZED (SELECT d,"
            f" CAST(floor(CAST(a AS DOUBLE) / m * 1e6"
            f" + 0.5) AS BIGINT) AS a FROM ra{r}, ma{r})"
        )
        parts.append(
            f"rh{r} AS MATERIALIZED (SELECT e.s,"
            f" CAST(SUM(a.a) AS BIGINT) AS h"
            f" FROM e JOIN a{r} a USING (d) GROUP BY e.s)"
        )
        parts.append(
            f"mh{r} AS (SELECT MAX(CAST(h AS DOUBLE)) AS m FROM rh{r})"
        )
        parts.append(
            f"h{r} AS MATERIALIZED (SELECT s,"
            f" CAST(floor(CAST(h AS DOUBLE) / m * 1e6"
            f" + 0.5) AS BIGINT) AS h FROM rh{r}, mh{r})"
        )
    body = ",\n    ".join(parts)
    return (
        f"{body}\n"
        f"    SELECT CAST(s AS VARCHAR) AS node, 'hub' AS role,"
        f" h AS score FROM h{rounds}\n"
        f"    UNION ALL\n"
        f"    SELECT CAST(d AS VARCHAR) AS node, 'authority' AS role,"
        f" a AS score FROM a{rounds}"
    )


# --------------------------------------------------------------------
# Link prediction: Adamic-Adar scores over non-adjacent pairs
# --------------------------------------------------------------------

def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = 1000,
    top_n: int = 100,
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003 "Friends and
    neighbors on the web"): score every NON-adjacent node pair by
    ``sum(1 / ln(deg(z)))`` over their common neighbors ``z``, the
    classic degree-discounted common-neighbor count, and return the
    ``top_n`` candidate links.

    Scale shape: one wedge self-join on the common neighbor — the
    same join that would explode on a hub is bounded by
    ``max_degree``, which EXCLUDES nodes of degree > max_degree as
    common neighbors (semantics, not a silent cap: a z adjacent to
    everything carries ~zero AA signal anyway, 1/ln(deg) -> 0, and
    dropping it bounds the wedge fan-out at max_degree^2 per node
    instead of hub^2). Existing edges leave via one anti-join.
    Common neighbors have degree >= 2 by construction (they touch
    both endpoints), so ln(deg) > 0 always.

    Determinism: each wedge contributes ``round(1/ln(deg z), 12)``
    summed as exact DECIMAL(24,12) (accumulation order cannot split
    engines); the final global top-n orders by (score desc, a, b).
    Returns (a, b, common, aa_score) with a < b.
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    adj = und.select(F.col("a").alias("z"), F.col("b").alias("x")).unionByName(
        und.select(F.col("b").alias("z"), F.col("a").alias("x"))
    )
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    # deg >= 2: a degree-1 node can never close a wedge, and the
    # filter keeps 1/ln(deg) away from ln(1) = 0 under ANSI mode
    hub_ok = adj.join(
        deg.filter((F.col("deg") <= max_degree) & (F.col("deg") >= 2)), "z"
    ).select(
        "z",
        "x",
        F.round(F.lit(1.0) / F.log(F.col("deg").cast("double")), 12)
        .cast("decimal(24,12)")
        .alias("w"),
    )
    p, q = hub_ok.alias("p"), hub_ok.alias("q")
    scored = (
        p.join(
            q,
            (F.col("p.z") == F.col("q.z")) & (F.col("p.x") < F.col("q.x")),
        )
        .select(
            F.col("p.x").alias("a"),
            F.col("q.x").alias("b"),
            F.col("p.w").alias("w"),
        )
        .join(und, ["a", "b"], "left_anti")
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common"),
            F.sum("w").cast("double").alias("aa_score"),
        )
    )
    return (
        scored.orderBy(
            F.col("aa_score").desc(), F.col("a").asc(), F.col("b").asc()
        )
        .limit(int(top_n))
        .select("a", "b", "common", "aa_score")
    )


def adamic_adar_oracle_sql(
    edges_sql: str,
    max_degree: int = 1000,
    top_n: int = 100,
) -> str:
    """DuckDB mirror of :func:`adamic_adar`."""
    return f"""
    WITH aa_raw AS ({edges_sql}),
    aa_und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM aa_raw WHERE src <> dst),
    aa_adj AS (
        SELECT a AS z, b AS x FROM aa_und
        UNION ALL
        SELECT b AS z, a AS x FROM aa_und),
    aa_deg AS (
        SELECT z, CAST(COUNT(*) AS BIGINT) AS deg FROM aa_adj GROUP BY 1),
    aa_w AS (
        SELECT j.z, j.x,
               CAST(round(1.0 / ln(CAST(d.deg AS DOUBLE)), 12)
                    AS DECIMAL(24,12)) AS w
        FROM aa_adj j JOIN aa_deg d ON d.z = j.z
        WHERE d.deg <= {int(max_degree)} AND d.deg >= 2),
    aa_s AS (
        SELECT p.x AS a, q.x AS b,
               CAST(COUNT(*) AS BIGINT) AS common,
               CAST(SUM(p.w) AS DOUBLE) AS aa_score
        FROM aa_w p JOIN aa_w q ON p.z = q.z AND p.x < q.x
        WHERE NOT EXISTS (
            SELECT 1 FROM aa_und u WHERE u.a = p.x AND u.b = q.x)
        GROUP BY 1, 2)
    SELECT a, b, common, aa_score FROM aa_s
    ORDER BY aa_score DESC, a, b
    LIMIT {int(top_n)}"""


# --------------------------------------------------------------------
# Per-node local clustering coefficients (top-k)
# --------------------------------------------------------------------

def local_clustering(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    min_degree: int = 2,
    top_n: int = 50,
) -> DataFrame:
    """Per-node local clustering coefficient (Watts & Strogatz
    1998): ``lcc(v) = triangles_at_v / C(deg v, 2)`` — how much of
    each node's neighborhood is itself connected, the node-level
    refinement of q160's single global number (a graph can have a
    bland global coefficient while individual hubs are cliques or
    stars).

    Reuses the degree-oriented wedge join (Cohen'09): each triangle
    is found once at its lowest-degree corner and credited to ALL
    THREE corners with one integer unpivot — no per-node wedge
    enumeration, so the skew bound of the global count carries
    over. Returns the ``top_n`` nodes by (lcc desc, node asc)
    among those with degree >= ``min_degree``; lcc is an integer
    ratio rounded 6. Columns (node, deg, tri, lcc).
    """
    und = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("a").alias("node"))
        .unionByName(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    )
    da = deg.select(F.col("node").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("node").alias("b"), F.col("deg").alias("deg_b"))
    oriented = (
        und.join(da, "a")
        .join(db, "b")
        .select(
            F.when(
                (F.col("deg_a") < F.col("deg_b"))
                | (
                    (F.col("deg_a") == F.col("deg_b"))
                    & (F.col("a") < F.col("b"))
                ),
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
            )
            .otherwise(F.struct(F.col("b").alias("u"), F.col("a").alias("v")))
            .alias("e")
        )
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .localCheckpoint(eager=True)
    )
    w1, w2 = oriented.alias("x"), oriented.alias("y")
    tri_corners = (
        w1.join(
            w2, (F.col("x.u") == F.col("y.u")) & (F.col("x.v") < F.col("y.v"))
        )
        .select(
            F.col("x.u").alias("c0"),
            F.col("x.v").alias("p"),
            F.col("y.v").alias("q"),
        )
        .join(
            und.select(
                F.col("a").alias("p"), F.col("b").alias("q")
            ),
            ["p", "q"],
            "left_semi",
        )
        .select(
            F.explode(F.array("c0", "p", "q")).alias("node")
        )
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tri"))
    )
    scored = (
        deg.filter(F.col("deg") >= min_degree)
        .join(tri_corners, "node", "left")
        .select(
            "node",
            "deg",
            F.coalesce("tri", F.lit(0)).cast("bigint").alias("tri"),
            F.round(
                F.lit(2.0)
                * F.coalesce("tri", F.lit(0)).cast("double")
                / (F.col("deg") * (F.col("deg") - 1)).cast("double"),
                6,
            ).alias("lcc"),
        )
    )
    return (
        scored.orderBy(F.col("lcc").desc(), F.col("node").asc())
        .limit(int(top_n))
    )


def local_clustering_oracle_sql(
    edges_sql: str,
    min_degree: int = 2,
    top_n: int = 50,
) -> str:
    """DuckDB mirror of :func:`local_clustering`."""
    return f"""
    WITH lc_raw AS ({edges_sql}),
    lc_und AS (
        SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        FROM lc_raw WHERE src <> dst),
    lc_deg AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
            SELECT a AS node FROM lc_und UNION ALL SELECT b FROM lc_und)
        GROUP BY 1),
    lc_or AS (
        SELECT CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.a ELSE u.b END
                   AS u,
               CASE WHEN (da.deg, u.a) < (db.deg, u.b) THEN u.b ELSE u.a END
                   AS v
        FROM lc_und u
        JOIN lc_deg da ON da.node = u.a
        JOIN lc_deg db ON db.node = u.b),
    lc_tri AS (
        SELECT x.u AS c0, x.v AS p, y.v AS q
        FROM lc_or x JOIN lc_or y ON x.u = y.u AND x.v < y.v
        WHERE EXISTS (SELECT 1 FROM lc_und
                      WHERE a = least(x.v, y.v) AND b = greatest(x.v, y.v))),
    lc_cn AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
            SELECT c0 AS node FROM lc_tri
            UNION ALL SELECT p FROM lc_tri
            UNION ALL SELECT q FROM lc_tri)
        GROUP BY 1),
    lc_s AS (
        SELECT d.node, d.deg, COALESCE(c.tri, 0) AS tri,
               round(2.0 * CAST(COALESCE(c.tri, 0) AS DOUBLE)
                     / CAST(d.deg * (d.deg - 1) AS DOUBLE), 6) AS lcc
        FROM lc_deg d LEFT JOIN lc_cn c USING (node)
        WHERE d.deg >= {int(min_degree)})
    SELECT node, deg, tri, lcc FROM lc_s
    ORDER BY lcc DESC, node ASC
    LIMIT {int(top_n)}"""
