"""Routing graph + contraction-hierarchy tests.

The correctness bar (SURVEY.md §5.3): CH query distances equal plain
Dijkstra on the original extracted graph, for sampled source/target
pairs — contraction preserves shortest paths exactly.  Exercised both
through the hybrid path (distributed independent-set rounds + driver
local finish) and the pure-local path.
"""

from __future__ import annotations

import heapq
import json

import numpy as np
import pytest

from osm_spark import fixtures as FX
from osm_spark.operators import routing as RT


def dijkstra_ref(edge_rows: list[tuple], s: int) -> dict[int, float]:
    """Plain-Dijkstra oracle over (src, dst, weight) rows (test baseline)."""
    adj: dict[int, list[tuple[int, float]]] = {}
    for src, dst, w in edge_rows:
        adj.setdefault(int(src), []).append((int(dst), float(w)))
    dist = {int(s): 0.0}
    pq = [(0.0, int(s))]
    while pq:
        d0, x = heapq.heappop(pq)
        if d0 > dist.get(x, np.inf):
            continue
        for y, w in adj.get(x, ()):
            nd = d0 + w
            if nd < dist.get(y, np.inf):
                dist[y] = nd
                heapq.heappush(pq, (nd, y))
    return dist


@pytest.fixture(scope="module")
def graph(spark):
    nodes, refs = FX.road_network_dfs(spark, grid=6)
    edges = RT.extract_edges(refs, nodes)
    rows = [(r.src, r.dst, r.weight) for r in edges.collect()]
    return edges, rows


def _ch_rows(res):
    return [(r.src, r.dst, r.weight, r.via, r.rank_src, r.rank_dst)
            for r in res.edges.collect()]


def _check_distances(ch_rows, rows, n_sources=5, n_targets=5, seed=7):
    nodes = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    rng = np.random.RandomState(seed)
    for s in rng.choice(nodes, size=n_sources, replace=False):
        ref = dijkstra_ref(rows, int(s))
        for t in rng.choice(nodes, size=n_targets, replace=False):
            got = RT.ch_query_path(ch_rows, int(s), int(t))[0]
            want = ref.get(int(t), np.inf)
            assert got == pytest.approx(want, rel=1e-9), (s, t)


def test_extract_edges_shape(graph):
    edges, rows = graph
    assert edges.columns == ["src", "dst", "weight", "length_mm"]
    assert len(rows) > 100
    # one-way ways produce single-direction edges: asymmetric pairs exist
    pairs = {(s, d) for s, d, _ in rows}
    assert [(s, d) for (s, d) in pairs if (d, s) not in pairs]
    assert min(w for _, _, w in rows) > 0


def test_full_graph_witnesses_only_drop_shortcuts(graph):
    """The shared shortcut simulation, run per node with two witness
    graphs: the full graph minus v finds every witness the 1-hop
    neighbourhood does, so its shortcuts are a subset — restricting
    witnesses to the neighbourhood can only ADD shortcuts."""
    _, rows = graph
    ew: dict[tuple, float] = {}
    for s, d, w in rows:
        if s != d:
            ew[(s, d)] = min(ew.get((s, d), np.inf), w)
    adj: dict[int, list] = {}
    for (s, d), w in ew.items():
        adj.setdefault(s, []).append((d, w))
    n_hood = n_full = 0
    for v in sorted({s for s, _ in ew} | {d for _, d in ew}):
        ins = [(s, w, 1) for (s, d), w in ew.items() if d == v]
        outs = [(d, w, 1) for (s, d), w in ew.items() if s == v]
        hood = {s for s, _, _ in ins} | {d for d, _, _ in outs}
        sc_hood = RT._shortcuts(ins, outs, lambda x: [
            (y, w) for y, w in adj.get(x, ()) if x in hood and y in hood])
        sc_full = RT._shortcuts(ins, outs, lambda x: [
            (y, w) for y, w in adj.get(x, ()) if y != v])
        assert set(sc_full) <= set(sc_hood), v
        n_hood += len(sc_hood)
        n_full += len(sc_full)
    # non-vacuous: some witness lies outside a 1-hop neighbourhood
    assert n_full < n_hood


def test_contraction_local_preserves_distances(graph):
    """Pure driver-local CH (graph below threshold from the start)."""
    edges, rows = graph
    res = RT.contract(edges.select("src", "dst", "weight"))
    assert res.metrics[-1]["local_finish"]
    _check_distances(_ch_rows(res), rows)


def test_contraction_hybrid_preserves_distances(spark, graph, tmp_path,
                                                monkeypatch):
    """Distributed rounds + local finish, checkpointed."""
    edges, rows = graph
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 120)
    res = RT.contract(edges.select("src", "dst", "weight"),
                      checkpoint_dir=str(tmp_path / "ch"))
    dist_rounds = [m for m in res.metrics if not m.get("local_finish")]
    assert len(dist_rounds) >= 1
    assert all(m["checkpoint_bytes"] > 0 for m in dist_rounds)
    assert res.metrics[-1]["local_finish"]
    _check_distances(_ch_rows(res), rows, n_sources=4, n_targets=4, seed=11)


def test_contraction_resume(spark, graph, tmp_path, monkeypatch):
    edges, rows = graph
    ck = tmp_path / "ch_resume"
    # two rounds, then a stall: no local finish below 16 * 0 edges
    with monkeypatch.context() as mp:
        mp.setattr(RT, "MAX_ROUNDS", 2)
        mp.setattr(RT, "LOCAL_THRESHOLD", 0)
        with pytest.raises(RuntimeError, match="MAX_ROUNDS/LOCAL_THRESHOLD"):
            RT.contract(edges.select("src", "dst", "weight"),
                        checkpoint_dir=str(ck))
    lines = [json.loads(x) for x in
             (ck / "metrics.jsonl").read_text().splitlines()]
    assert [m["round"] for m in lines] == [0, 1]
    assert all(m["complete"] for m in lines)

    # resume from round 2, finish locally; distances still exact
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 120)
    full = RT.contract(edges.select("src", "dst", "weight"),
                       checkpoint_dir=str(ck))
    assert full.metrics[0]["round"] == 0  # history retained
    assert full.metrics[-1]["local_finish"]
    ch_rows = _ch_rows(full)
    ref = dijkstra_ref(rows, 0)
    for t in (1, 7, 17, 35):
        assert RT.ch_query_path(ch_rows, 0, t)[0] == pytest.approx(
            ref.get(t, np.inf), rel=1e-9)

    # second resume short-circuits via the final checkpoint
    again = RT.contract(edges.select("src", "dst", "weight"),
                        checkpoint_dir=str(ck))
    assert again.edges.count() == full.edges.count()


def test_contraction_all_ranked_no_equal_rank_edges(graph):
    edges, _ = graph
    res = RT.contract(edges.select("src", "dst", "weight"))
    n_nodes = (
        edges.select("src").union(edges.select("dst")).distinct().count()
    )
    assert res.ranks.count() == n_nodes
    assert res.edges.filter("rank_src = rank_dst").count() == 0


def test_hub_node_deferred_to_local_finish(spark, tmp_path, monkeypatch):
    """A node whose degree exceeds MAX_SIM_DEGREE must never be picked by
    a distributed round (witness sim skipped) — it contracts in the local
    finish, and distances stay exact."""
    import itertools

    n_spokes = RT.MAX_SIM_DEGREE + 8
    rows = []
    for i in range(1, n_spokes + 1):
        rows.extend([(0, i, 1.0 + i * 0.01), (i, 0, 1.0 + i * 0.01)])
    for i in range(1, n_spokes):  # rim ring so spokes have alternatives
        rows.extend([(i, i + 1, 0.5), (i + 1, i, 0.5)])
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    monkeypatch.setattr(RT, "LOCAL_THRESHOLD", 40)
    monkeypatch.setattr(RT, "MAX_ROUNDS", 6)
    res = RT.contract(edges, checkpoint_dir=str(tmp_path / "hub"))
    ranks = {r.node: r.rank for r in res.ranks.collect()}
    dist_rounds = [m for m in res.metrics if not m.get("local_finish")]
    # hub 0 was never contracted by a distributed round (rank >= 1e6 means
    # local finish assigned it)
    assert ranks[0] >= 1_000_000
    assert len(dist_rounds) >= 1
    ch_rows = _ch_rows(res)
    plain = [(s, d, w) for s, d, w in rows]
    ref = dijkstra_ref(plain, 5)
    for t in (0, 1, 20, n_spokes):
        assert RT.ch_query_path(ch_rows, 5, t)[0] == pytest.approx(
            ref.get(t, float("inf")), rel=1e-9)


def test_ch_path_expansion(spark, graph):
    """X7: the expanded node path is a real walk in the ORIGINAL graph
    whose edge weights sum to the exact shortest distance."""
    edges, rows = graph
    res = RT.contract(edges.select("src", "dst", "weight"))
    ch_rows = _ch_rows(res)
    orig = {(s, d): w for s, d, w in rows}
    nodes = sorted({s for s, _, _ in rows})
    rng = np.random.RandomState(11)
    n_checked = 0
    for s in rng.choice(nodes, size=4, replace=False):
        ref = dijkstra_ref(rows, int(s))
        for t in rng.choice(nodes, size=4, replace=False):
            dist, path = RT.ch_query_path(ch_rows, int(s), int(t))
            want = ref.get(int(t), np.inf)
            assert dist == pytest.approx(want, rel=1e-9), (s, t)
            if not np.isfinite(want):
                assert path == []
                continue
            assert path[0] == s and path[-1] == t
            walk = 0.0
            for u, v in zip(path, path[1:]):
                assert (u, v) in orig, (u, v)  # every hop is an original edge
                walk += orig[(u, v)]
            assert walk == pytest.approx(want, rel=1e-9)
            n_checked += 1
    assert n_checked >= 8


def test_ch_batch_routes_matches_point_queries(spark, graph):
    """X7 batch: the distributed mapInPandas kernel returns the same
    distances and valid optimal walks as the driver-side point query,
    for every (s, t) pair of a scattered batch — plus one pair whose
    target is absent from the overlay."""
    edges, rows = graph
    res = RT.contract(edges.select("src", "dst", "weight"))
    orig = {(s, d): w for s, d, w in rows}
    nodes = sorted({s for s, _, _ in rows})
    pair_list = [(int(nodes[i]), int(nodes[(i * 5 + 3) % len(nodes)]))
                 for i in range(0, len(nodes), 2)
                 if nodes[i] != nodes[(i * 5 + 3) % len(nodes)]]
    n_graph_pairs = len(pair_list)
    absent = (int(nodes[0]), int(max(nodes)) + 1000)
    pair_list.append(absent)
    pairs = spark.createDataFrame(pair_list, "src long, dst long") \
        .repartition(4)
    assert RT.ch_query_path(_ch_rows(res), *absent) == (np.inf, [])

    # distance-only mode: one row per pair, exact vs plain Dijkstra
    dist_rows = RT.ch_batch_routes(pairs, res.edges).collect()
    assert len(dist_rows) == len(pair_list)
    got_d = {(r.src, r.dst): r.dist_r for r in dist_rows}
    assert set(got_d) == set(pair_list)
    assert got_d[absent] == np.inf
    for s, t in pair_list:
        want = dijkstra_ref(rows, s).get(t, np.inf)
        if np.isfinite(want):
            assert got_d[(s, t)] == pytest.approx(round(want, 6), rel=1e-9)
        else:
            assert not np.isfinite(got_d[(s, t)])

    # path mode: hops are original edges summing to the exact distance
    out = RT.ch_batch_routes(pairs, res.edges, with_path=True).collect()
    by_pair: dict = {}
    for r in out:
        by_pair.setdefault((r.src, r.dst), []).append(r)
    assert absent not in by_pair
    n_checked = 0
    for (s, t), hops in by_pair.items():
        hops.sort(key=lambda r: r.seq)
        path = [r.node for r in hops]
        assert path[0] == s and path[-1] == t
        walk = sum(orig[(u, v)] for u, v in zip(path, path[1:]))
        assert walk == pytest.approx(
            dijkstra_ref(rows, s)[t], rel=1e-9)
        assert hops[0].dist_r == pytest.approx(round(walk, 6), rel=1e-9)
        n_checked += 1
    assert n_checked >= n_graph_pairs - 2  # all reachable pairs present
