"""Connected components / dedup clustering (functions/graph.py)."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst
from pyspark.sql import functions as F

from node_etl_spark.functions.graph import connected_components, dedup_clusters


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _labels(df):
    return {r["id"]: r["component"] for r in df.collect()}


def test_chain_collapses_to_min(spark):
    # 1-2-3-4 chain plus isolated pair 10-11
    comp = connected_components(_edges(spark, [(1, 2), (2, 3), (3, 4), (10, 11)]))
    got = _labels(comp)
    assert got == {2: 1, 3: 1, 4: 1, 11: 10}


def test_cycle_and_reversed_edges(spark):
    # cycle 5-6-7-5 given in mixed direction, duplicate edges
    comp = connected_components(
        _edges(spark, [(6, 5), (6, 7), (5, 7), (7, 5), (5, 6)])
    )
    assert _labels(comp) == {6: 5, 7: 5}


def test_star_already_converged(spark):
    comp = connected_components(_edges(spark, [(1, 2), (1, 3), (1, 4)]))
    assert _labels(comp) == {2: 1, 3: 1, 4: 1}


def test_two_stars_bridge(spark, monkeypatch):
    # two stars joined by one bridge edge -> single component; the
    # driver fast path and the forced-distributed path must agree
    from node_etl_spark.functions import graph as G

    edges = [(1, i) for i in range(2, 6)] + [(100, i) for i in range(101, 105)]
    edges.append((5, 104))
    for cap in (G._DRIVER_MAX_EDGES, 0):
        monkeypatch.setattr(G, "_DRIVER_MAX_EDGES", cap)
        comp = connected_components(_edges(spark, edges))
        got = _labels(comp)
        assert set(got.values()) == {1}, cap
        assert set(got) == {2, 3, 4, 5, 100, 101, 102, 103, 104}, cap
    with pytest.raises(TypeError):
        connected_components(_edges(spark, edges), driver_threshold=0)


def test_empty_edges(spark):
    comp = connected_components(_edges(spark, []))
    assert comp.count() == 0
    assert comp.columns == ["id", "component"]


def test_dedup_clusters_canonical(spark):
    docs = spark.range(1, 9).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "d1 long, d2 long")
    out = dedup_clusters(docs, pairs).collect()
    by_doc = {r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in out}
    assert by_doc == {
        1: (1, True),
        2: (1, False),
        3: (1, False),
        5: (5, True),
        6: (5, False),
    }
    # docs without a duplicate partner are absent (removal-list contract)
    assert 4 not in by_doc and 7 not in by_doc


# --------------------------------------------------------------------
# pagerank
# --------------------------------------------------------------------

def _sym(pairs):
    out = set()
    for a, b in pairs:
        out.add((a, b))
        out.add((b, a))
    return sorted(out)


def _ref_pagerank(edges, iterations=5, d=0.85):
    nodes = sorted({s for s, _ in edges})
    outdeg = {n: sum(1 for s, _ in edges if s == n) for n in nodes}
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        nxt = {}
        for v in nodes:
            # mirror the engine's 15-decimal fixed-point quantization
            # half-up (not Python's banker's rounding) to match Spark
            # F.round / DuckDB round; contributions are non-negative.
            s = sum(
                math.floor(r[src] / outdeg[src] * 1e15 + 0.5)
                for src, dst in edges
                if dst == v
            )
            nxt[v] = (1 - d) / n + d * (s / 1e15)
        r = nxt
    return r


def test_pagerank_uniform_on_cycle(spark):
    from node_etl_spark.functions.graph import pagerank

    edges = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    got = {r.node: r.rank for r in pagerank(edges, iterations=5).collect()}
    for v in (1, 2, 3):
        assert abs(got[v] - 1.0 / 3) < 1e-12


def test_pagerank_hub_outranks_leaves(spark):
    from node_etl_spark.functions.graph import pagerank

    pairs = _sym([(1, 2), (1, 3), (1, 4), (1, 5)])  # star centered on 1
    got = {
        r.node: r.rank
        for r in pagerank(_edges(spark, pairs), iterations=5).collect()
    }
    want = _ref_pagerank(pairs)
    assert got[1] > got[2]
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    # rank mass is conserved (no dangling nodes in a symmetric graph)
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_matches_unrolled_oracle_shapes(spark):
    # the DuckDB oracle generator must unroll exactly `iterations` CTEs
    from node_etl_spark.functions.graph import pagerank_oracle_sql

    sql = pagerank_oracle_sql("SELECT 1 AS src, 2 AS dst", iterations=3)
    assert "r3 AS" in sql and "r4 AS" not in sql
    # fixed-point long sums, not decimal accumulators
    assert "1e15" in sql and "AS BIGINT" in sql


def test_bfs_hops_min_distance(spark):
    from node_etl_spark.functions.graph import bfs_hops

    # path 1-2-3-4 plus shortcut 1-4: dist(4) must take the shortcut
    pairs = _sym([(1, 2), (2, 3), (3, 4), (1, 4)])
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r.node: r.dist
        for r in bfs_hops(_edges(spark, pairs), seeds, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 1}


def test_bfs_hops_bounds_horizon(spark):
    from node_etl_spark.functions.graph import bfs_hops

    pairs = _sym([(1, 2), (2, 3), (3, 4), (4, 5)])
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r.node: r.dist
        for r in bfs_hops(_edges(spark, pairs), seeds, max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2}  # 4 and 5 beyond the horizon


def test_pagerank_keeps_zero_indegree_sources(spark):
    # non-symmetric: 1 -> 2 -> 3; sources 1 and 2. Node 1 has no
    # in-edges and must stay in the result at the (1-d)/n base rank
    # every round (ADVICE r01: it used to vanish after iteration 1).
    import duckdb

    from node_etl_spark.functions.graph import pagerank, pagerank_oracle_sql

    edges = _edges(spark, [(1, 2), (2, 3)])
    got = {r.node: r.rank for r in pagerank(edges, iterations=4).collect()}
    # universe = source nodes {1, 2}; dst-only node 3 is dangling
    assert set(got) == {1, 2}
    n = 2
    assert abs(got[1] - (1 - 0.85) / n) < 1e-12
    # oracle mirrors exactly
    sql = pagerank_oracle_sql("SELECT 1 AS src, 2 AS dst UNION ALL SELECT 2, 3", iterations=4)
    want = {r[0]: r[1] for r in duckdb.sql(sql).fetchall()}
    assert got == want


def test_blocked_components_matches_global(spark):
    # pre-blocked edges: per-block union-find must agree with the
    # iterative global algorithm (plus root self-rows)
    from node_etl_spark.functions.graph import (
        blocked_components,
        connected_components,
    )

    rows = [
        ("x", 1, 2), ("x", 2, 3), ("x", 5, 6),
        ("y", 10, 11), ("y", 11, 12), ("y", 12, 10),
    ]
    pairs = spark.createDataFrame(rows, "blk string, d1 long, d2 long")
    got = {
        (r.id, r.component)
        for r in blocked_components(pairs, "blk").collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (5, 5), (6, 5),
        (10, 10), (11, 10), (12, 10),
    }
    glob = {
        (r.id, r.component)
        for r in connected_components(pairs, src="d1", dst="d2").collect()
    }
    # global edge-list output omits root self-rows; on the rest the
    # assignments agree
    assert glob <= got


def test_blocked_components_validate_rejects_band_style_blocks(spark):
    # node 2 appears in blocks x and y (the LSH-band shape) — validate
    # must refuse; without validate the caller owns the contract
    import pytest

    from node_etl_spark.functions.graph import blocked_components

    pairs = spark.createDataFrame(
        [("x", 1, 2), ("y", 2, 3)], "blk string, d1 long, d2 long"
    )
    with pytest.raises(ValueError, match="multiple"):
        blocked_components(pairs, "blk", validate=True).collect()
    # q125-style node-partitioning blocks pass validation
    ok = spark.createDataFrame(
        [("x", 1, 2), ("y", 10, 11)], "blk string, d1 long, d2 long"
    )
    got = {(r.id, r.component)
           for r in blocked_components(ok, "blk", validate=True).collect()}
    assert got == {(1, 1), (2, 1), (10, 10), (11, 10)}


# ------------------------------------------------ label propagation


def _sym(pairs):
    return pairs + [(b, a) for a, b in pairs]


def test_lpa_two_triangles_bridge(spark):
    from node_etl_spark.functions.graph import label_propagation

    # two triangles {1,2,3} and {10,11,12} joined by one bridge 3-10:
    # each triangle's majority vote pulls labels to its own minimum
    e = _edges(
        spark,
        _sym([(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12), (3, 10)]),
    )
    got = {r["node"]: r["label"] for r in label_propagation(e, iterations=3).collect()}
    assert got[1] == got[2] == 1
    assert got[11] == got[12]
    assert set(got) == {1, 2, 3, 10, 11, 12}


def test_lpa_tie_breaks_to_smallest_label(spark):
    from node_etl_spark.functions.graph import label_propagation

    # node 5 sees neighbors 1 and 2 once each -> tie on count,
    # smallest label (1) must win deterministically
    e = _edges(spark, [(1, 5), (2, 5)])
    got = {r["node"]: r["label"] for r in label_propagation(e, iterations=1).collect()}
    assert got[5] == 1
    # source-only nodes keep their own label (no in-edges)
    assert got[1] == 1 and got[2] == 2


def test_lpa_isolated_sink_updates_from_single_neighbor(spark):
    from node_etl_spark.functions.graph import label_propagation

    e = _edges(spark, [(7, 8)])
    got = {r["node"]: r["label"] for r in label_propagation(e, iterations=2).collect()}
    assert got == {7: 7, 8: 7}


def test_lpa_null_source_casts_no_vote(spark):
    from node_etl_spark.functions.graph import label_propagation

    # the null node is listed but votes for nobody: 5 takes 1's label
    # although two of its three in-edges come from null
    e = _edges(spark, [(None, 5), (None, 5), (1, 5)])
    got = {r["node"]: r["label"] for r in label_propagation(e, iterations=2).collect()}
    assert got == {None: None, 1: 1, 5: 1}


def _lpa_reference(pairs, iterations):
    """Synchronous LPA in plain Python: every node takes the most
    frequent label among its in-neighbors' previous labels, smallest
    label on ties; a node without in-edges keeps its label."""
    from collections import Counter

    labels = {n: n for pair in pairs for n in pair}
    for _ in range(iterations):
        votes: dict[int, Counter] = {}
        for s, d in pairs:
            votes.setdefault(d, Counter())[labels[s]] += 1
        labels = {
            n: min(votes[n], key=lambda lab: (-votes[n][lab], lab))
            if n in votes else lab
            for n, lab in labels.items()
        }
    return labels


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    pairs=hst.lists(
        hst.tuples(hst.integers(0, 9), hst.integers(0, 9)), min_size=1, max_size=25
    ),
    iterations=hst.integers(1, 4),
)
def test_lpa_matches_python_reference(spark, pairs, iterations):
    from node_etl_spark.functions.graph import label_propagation

    # 100 and 101 are source-only and tie on 102's vote; duplicate
    # pairs from the strategy give multi-edges and further ties
    pairs = pairs + [(100, 102), (101, 102)]
    got = label_propagation(_edges(spark, pairs), iterations=iterations)
    assert {r["node"]: r["label"] for r in got.collect()} == _lpa_reference(
        pairs, iterations
    )


@pytest.mark.parametrize(
    "kwargs",
    [
        # crosses _TRUNCATE_EVERY: the winners are checkpointed mid-run
        pytest.param(dict(iterations=10), id="checkpointed"),
        # no round: every node keeps its own id
        pytest.param(dict(iterations=0), id="zero_rounds"),
    ],
)
def test_lpa_checkpointed_winners_match_reference(spark, kwargs):
    from node_etl_spark.functions.graph import label_propagation

    pairs = _sym([(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)])
    pairs += [(9, 1), (9, 4), (8, 4)]
    got = label_propagation(_edges(spark, pairs), **kwargs)
    assert {r["node"]: r["label"] for r in got.collect()} == _lpa_reference(
        pairs, kwargs["iterations"]
    )


def test_lpa_null_destination_takes_no_votes(spark):
    from node_etl_spark.functions.graph import label_propagation

    # the null node is listed with a null label, as a null source is;
    # the votes sent to it reach no real node
    e = _edges(spark, [(1, None), (1, None), (2, 5), (5, 2)])
    got = {r["node"]: r["label"] for r in label_propagation(e, iterations=2).collect()}
    assert got == {None: None, 1: 1, 2: 2, 5: 5}


# ------------------------------------------------ weighted shortest paths


def _wedges(spark, triples):
    return spark.createDataFrame(triples, "src long, dst long, weight long")


def _seeds(spark, nodes):
    return spark.createDataFrame([(n,) for n in nodes], "node long")


def test_sssp_prefers_cheaper_two_hop_path(spark):
    from node_etl_spark.functions.graph import shortest_paths

    # direct 1->3 costs 10; via 2 costs 2+3=5
    e = _wedges(spark, [(1, 3, 10), (1, 2, 2), (2, 3, 3)])
    got = {r["node"]: r["dist"] for r in shortest_paths(e, _seeds(spark, [1]), 4).collect()}
    assert got == {1: 0, 2: 2, 3: 5}


def test_sssp_round_bound_limits_path_length(spark):
    from node_etl_spark.functions.graph import shortest_paths

    # chain 1->2->3->4->5, one round per hop
    e = _wedges(spark, [(1, 2, 1), (2, 3, 1), (3, 4, 1), (4, 5, 1)])
    got = {r["node"]: r["dist"] for r in shortest_paths(e, _seeds(spark, [1]), 2).collect()}
    assert got == {1: 0, 2: 1, 3: 2}  # 4 and 5 unreached within 2 rounds


def test_sssp_multi_source_takes_nearest_seed(spark):
    from node_etl_spark.functions.graph import shortest_paths

    e = _wedges(spark, [(1, 2, 5), (9, 2, 1), (2, 3, 1)])
    got = {r["node"]: r["dist"] for r in shortest_paths(e, _seeds(spark, [1, 9]), 3).collect()}
    assert got == {1: 0, 9: 0, 2: 1, 3: 2}


def test_sssp_improvement_repropagates(spark):
    from node_etl_spark.functions.graph import shortest_paths

    # 3 is first reached expensively via 1->3 (round 1, cost 20), then
    # cheaper via 1->2->3 (round 2, cost 4); the improvement must
    # re-propagate to 4 in round 3
    e = _wedges(spark, [(1, 3, 20), (1, 2, 2), (2, 3, 2), (3, 4, 1)])
    got = {r["node"]: r["dist"] for r in shortest_paths(e, _seeds(spark, [1]), 3).collect()}
    assert got[3] == 4 and got[4] == 5


def test_sssp_zero_weight_edges_exact(spark):
    from node_etl_spark.functions.graph import shortest_paths

    e = _wedges(spark, [(1, 2, 0), (2, 3, 0)])
    got = {r["node"]: r["dist"] for r in shortest_paths(e, _seeds(spark, [1]), 3).collect()}
    assert got == {1: 0, 2: 0, 3: 0}


# ------------------------------------------------ triangle census


def test_triangle_stats_known_graphs(spark):
    from node_etl_spark.functions.graph import triangle_stats

    # K4: 4 triangles, 12 wedges, coeff = 1.0
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    r = triangle_stats(_edges(spark, k4)).first()
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (4, 6, 4)
    assert r.n_wedges == 12 and r.clustering_coeff == 1.0

    # path 1-2-3: no triangle, one wedge
    r2 = triangle_stats(_edges(spark, [(1, 2), (2, 3)])).first()
    assert (r2.n_triangles, r2.n_wedges) == (0, 1)
    assert r2.clustering_coeff == 0.0


def test_triangle_stats_mixed_direction_and_dupes(spark):
    from node_etl_spark.functions.graph import triangle_stats

    # triangle given with duplicates, reversed edges and a self-loop
    e = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 3), (2, 2)]
    r = triangle_stats(_edges(spark, e)).first()
    assert (r.n_nodes, r.n_edges, r.n_triangles) == (3, 3, 1)
    assert r.clustering_coeff == 1.0


# ------------------------------------------------ personalized pagerank


def test_ppr_mass_concentrates_near_seed(spark):
    from node_etl_spark.functions.graph import personalized_pagerank

    # barbell: seed-side triangle {1,2,3} bridged to {10,11,12}
    pairs = _sym([(1, 2), (2, 3), (1, 3), (3, 10), (10, 11), (11, 12), (10, 12)])
    seeds = spark.createDataFrame([(1,)], "node long")
    got = {
        r.node: r.rank
        for r in personalized_pagerank(
            _edges(spark, pairs), seeds, iterations=6
        ).collect()
    }
    # seed and its triangle outrank the far triangle
    assert got[1] > got[11] and got[2] > got[12]
    # ranks are a probability-like vector: non-negative, sum <= 1
    assert all(v >= 0 for v in got.values())
    assert sum(got.values()) <= 1.0 + 1e-9


def test_ppr_seed_outside_universe_ignored(spark):
    from node_etl_spark.functions.graph import personalized_pagerank

    pairs = _sym([(1, 2)])
    seeds = spark.createDataFrame([(1,), (999,)], "node long")
    # even iteration count: a 2-node cycle oscillates round-to-round
    # (standard power-iteration behavior on bipartite graphs)
    got = {
        r.node: r.rank
        for r in personalized_pagerank(_edges(spark, pairs), seeds, 4).collect()
    }
    assert set(got) == {1, 2}
    # 999 ignored -> |S| = 1, so node 1 keeps the full restart mass
    assert got[1] > got[2]


# ------------------------------------------------ lineage truncation


def _plan_lines(df):
    return len(df._jdf.queryExecution().executedPlan().toString().splitlines())


@pytest.mark.parametrize(
    "op", ["label_propagation", "pagerank", "personalized_pagerank"]
)
def test_fixed_round_lineage_stays_bounded(spark, op):
    # the state is checkpointed every _TRUNCATE_EVERY rounds, so the
    # plan after 24 rounds is no deeper than after 16
    from node_etl_spark.functions import graph as G

    edges = _edges(spark, _sym([(i, (i + 1) % 20) for i in range(20)]))
    seeds = spark.createDataFrame([(0,)], "node long")
    run = {
        "label_propagation": lambda k: G.label_propagation(edges, iterations=k),
        "pagerank": lambda k: G.pagerank(edges, iterations=k),
        "personalized_pagerank": lambda k: G.personalized_pagerank(
            edges, seeds, iterations=k
        ),
    }[op]

    assert 8 % G._TRUNCATE_EVERY == 0  # 16 and 24 end on a whole interval
    assert _plan_lines(run(16)) == _plan_lines(run(24))


def test_hits_lineage_stays_bounded(spark):
    # every half-round's sums are cut, so the plan does not depend on
    # the round count at all (no _TRUNCATE_EVERY interval involved)
    from node_etl_spark.functions.graph import hits

    edges = _edges(spark, [(i, 100 + (i * 7) % 13) for i in range(40)])
    assert _plan_lines(hits(edges, rounds=8)) == _plan_lines(hits(edges, rounds=16))


def test_kcore_peels_tail(spark):
    from node_etl_spark.functions.graph import kcore

    # triangle 1-2-3 (2-core) with a pendant chain 3-4-5
    und = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src bigint, dst bigint",
    )
    out = {r.node: r.deg for r in kcore(edges, k=2, rounds=4).collect()}
    assert out == {1: 2, 2: 2, 3: 2}


def test_kcore_overshoot_rounds_is_noop(spark):
    from node_etl_spark.functions.graph import kcore

    und = [(1, 2), (2, 3), (1, 3)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src bigint, dst bigint",
    )
    few = {(r.node, r.deg) for r in kcore(edges, k=2, rounds=1).collect()}
    many = {(r.node, r.deg) for r in kcore(edges, k=2, rounds=6).collect()}
    assert few == many


def test_assortativity_star_is_negative(spark):
    from node_etl_spark.functions.graph import degree_assortativity

    # star: hub 0 to leaves 1..5, symmetric -> strongly disassortative
    und = [(0, i) for i in range(1, 6)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src bigint, dst bigint",
    )
    r = degree_assortativity(edges).collect()[0]
    assert r.n_edges == 10
    assert r.assortativity == -1.0


def test_assortativity_regular_graph_is_null(spark):
    from node_etl_spark.functions.graph import degree_assortativity

    # 4-cycle: every node degree 2 -> zero variance -> NULL, not NaN
    und = [(1, 2), (2, 3), (3, 4), (4, 1)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src bigint, dst bigint",
    )
    r = degree_assortativity(edges).collect()[0]
    assert r.n_edges == 8 and r.assortativity is None


def test_bradley_terry_orders_by_strength(spark):
    from node_etl_spark.functions.graph import bradley_terry

    # 1 beats 2 twice and 3 once; 2 beats 3 once; 3 never wins
    prefs = spark.createDataFrame(
        [(1, 2), (1, 2), (1, 3), (2, 3)], "winner bigint, loser bigint"
    )
    out = {r.item: r for r in bradley_terry(prefs, iterations=5).collect()}
    assert out[1].wins == 3 and out[3].wins == 0
    assert out[1].rating > out[2].rating > out[3].rating
    assert out[3].rating == 0.0  # never wins -> zero rating


def test_bradley_terry_symmetric_record_is_even(spark):
    from node_etl_spark.functions.graph import bradley_terry

    prefs = spark.createDataFrame(
        [(1, 2), (2, 1)], "winner bigint, loser bigint"
    )
    out = {r.item: r.rating for r in bradley_terry(prefs, iterations=4).collect()}
    assert out[1] == out[2]


def test_hits_hub_and_authority_ordering(spark):
    from node_etl_spark.functions.graph import hits

    # H buys items 1,2,3; S buys item 1 only. Item 1 (bought by
    # both) must out-rank items 2,3; hub H must out-rank S.
    edges = spark.createDataFrame(
        [("H", 1), ("H", 2), ("H", 3), ("S", 1)],
        "src string, dst int",
    )
    rows = hits(edges, rounds=4).collect()
    hub = {r.node: r.score for r in rows if r.role == "hub"}
    auth = {r.node: r.score for r in rows if r.role == "authority"}
    assert hub["H"] == 1_000_000 and hub["H"] > hub["S"]
    assert auth["1"] == 1_000_000  # node is cast to string
    assert auth["1"] > auth["2"] == auth["3"]


def test_hits_dedups_parallel_edges(spark):
    from node_etl_spark.functions.graph import hits

    # duplicate (src,dst) rows must not double-count contributions
    edges = spark.createDataFrame(
        [("a", 1), ("a", 1), ("b", 2)], "src string, dst int"
    )
    rows = hits(edges, rounds=2).collect()
    hub = {r.node: r.score for r in rows if r.role == "hub"}
    # symmetric structure after dedup: both hubs end at the grid max
    assert hub["a"] == hub["b"] == 1_000_000


def test_adamic_adar_hand_graph(spark):
    import math

    from node_etl_spark.functions.graph import adamic_adar

    # path a-z1-b plus a-z2-b and z1-c: common neighbors of (a,b) are
    # z1 (deg 3) and z2 (deg 2); (a,b) not adjacent
    edges = spark.createDataFrame(
        [(1, 10), (10, 2), (1, 11), (11, 2), (10, 3)],
        "src long, dst long",
    )
    out = {(r.a, r.b): r for r in adamic_adar(edges, top_n=10).collect()}
    aa = out[(1, 2)]
    want = round(1 / math.log(3), 12) + round(1 / math.log(2), 12)
    assert aa.common == 2
    assert abs(aa.aa_score - want) < 1e-9
    # adjacent pairs are excluded
    assert (1, 10) not in out
    # (1, 3) share z1 only
    assert out[(1, 3)].common == 1


def test_adamic_adar_hub_exclusion(spark):
    from node_etl_spark.functions.graph import adamic_adar

    # star: hub 99 connects 1..5; every leaf pair's only common
    # neighbor is the hub -> max_degree=3 excludes it, no pairs
    edges = spark.createDataFrame(
        [(99, i) for i in range(1, 6)], "src long, dst long"
    )
    assert adamic_adar(edges, max_degree=3).count() == 0
    assert adamic_adar(edges, max_degree=5).count() == 10


def test_local_clustering_triangle_plus_tail(spark):
    from node_etl_spark.functions.graph import local_clustering

    # triangle 1-2-3 plus pendant 3-4: lcc(1)=lcc(2)=1.0,
    # lcc(3)= 2*1/(3*2) = 1/3; node 4 has deg 1 -> filtered
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], "src long, dst long"
    )
    out = {r.node: r for r in local_clustering(edges).collect()}
    assert out[1].lcc == 1.0 and out[2].lcc == 1.0
    assert abs(out[3].lcc - 1 / 3) < 1e-6
    assert 4 not in out
    assert out[3].tri == 1 and out[3].deg == 3


def test_local_clustering_star_is_zero(spark):
    from node_etl_spark.functions.graph import local_clustering

    edges = spark.createDataFrame(
        [(9, i) for i in range(1, 5)], "src long, dst long"
    )
    out = {r.node: r for r in local_clustering(edges).collect()}
    assert out[9].lcc == 0.0 and out[9].tri == 0
