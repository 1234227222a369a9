"""Golden end-to-end test: spatial join of fixture pages vs polygon layer,
compared against a brute-force pure-python PIP oracle (no cells, no Spark)."""

from __future__ import annotations

import numpy as np
import pytest

from osm_spark import fixtures as FX
from osm_spark.geo import kernels as K
from osm_spark.operators.geocode import geocode_pages
from osm_spark.operators.spatial_join import spatial_join

N_PAGES = 400
N_SMALL = 120


def brute_force_matches(page_ids, lats, lons, polys):
    """(page_id, feature_id) set via direct numpy PIP on every polygon."""
    out = set()
    lats = np.asarray(lats)
    lons = np.asarray(lons)
    for p in polys:
        in_outer = np.zeros(len(lats), dtype=bool)
        in_hole = np.zeros(len(lats), dtype=bool)
        for r in p["rings"]:
            flags = K.points_in_ring(lons, lats, np.array(r["lon"]), np.array(r["lat"]))
            if r["role"] == 0:
                in_outer |= flags
            else:
                in_hole |= flags
        for pid in np.asarray(page_ids)[in_outer & ~in_hole].tolist():
            out.add((pid, p["feature_id"]))
    return out


@pytest.fixture(scope="module")
def fixture_data(spark):
    pages = FX.pages_df(spark, N_PAGES)
    polys = FX.polygons_df(spark, N_SMALL)
    geo = geocode_pages(pages)
    rows = geo.select("page_id", "lat", "lon").collect()
    pids = [r.page_id for r in rows]
    lats = [r.lat for r in rows]
    lons = [r.lon for r in rows]
    oracle = brute_force_matches(pids, lats, lons, FX.all_polygons(N_SMALL))
    return geo, polys, oracle


@pytest.mark.parametrize("path", ["broadcast", "shuffle", "salted"])
def test_spatial_join_matches_bruteforce(spark, fixture_data, path,
                                         monkeypatch, tmp_path):
    """broadcast: the auto-picked path for a small layer; shuffle: the
    auto-picked partitioned path (managed layer dir, measured salt) once
    the layer exceeds the broadcast limit; salted: an explicit salt over
    a prebuilt partitioned layer."""
    from osm_spark.operators import spatial_join as SJ

    geo, polys, oracle = fixture_data
    if path == "shuffle":
        monkeypatch.setattr(SJ, "BROADCAST_MAX_VERTS", 0)
    if path == "salted":
        layer = SJ.write_partitioned_layer(polys, str(tmp_path / "layer"))
        out = SJ.spatial_join_partitioned(geo, layer, salt=4)
    else:
        out = spatial_join(geo, polys)
    got = {(r.page_id, r.feature_id) for r in out.collect()}
    assert got == oracle
    assert len(got) > N_PAGES * 0.4  # skewed fixture: most pages hit a city


def test_left_join_keeps_unmatched(spark, fixture_data):
    geo, polys, oracle = fixture_data
    res = spatial_join(geo, polys, how="left").collect()
    matched_pages = {pid for pid, _ in oracle}
    got_null = {r.page_id for r in res if r.feature_id is None}
    all_pages = {r.page_id for r in res}
    assert all_pages == set(range(N_PAGES))
    assert got_null == set(range(N_PAGES)) - matched_pages
    assert got_null  # fixture guarantees some background no-match pages


def test_text_passthrough_byte_identical(spark):
    """North-rule invariant: text survives the pipeline byte-identical."""
    import hashlib

    pdf = FX.generate_pages(50)
    before = {u: hashlib.sha256(t.encode()).hexdigest() for u, t in zip(pdf.url, pdf.text)}
    pages = spark.createDataFrame(pdf)
    geo = geocode_pages(pages)
    polys = FX.polygons_df(spark, 10)
    joined = geo.join(spatial_join(geo, polys, how="left"), "page_id", "left")
    after = {r.url: hashlib.sha256(r.text.encode()).hexdigest() for r in joined.select("url", "text").collect()}
    assert after == before


def test_partitioned_disk_index_path_agrees(spark, tmp_path):
    """The partitioned disk-index path (layer parquet + per-partition
    range reads) matches the broadcast path exactly — with the hash
    exchange, salted, and in zero-shuffle pages_clustered mode."""
    from osm_spark import fixtures as FX
    from osm_spark.operators.cluster import cluster_by_hilbert
    from osm_spark.operators.geocode import geocode_ids
    from osm_spark.operators.spatial_join import (spatial_join,
                                                 spatial_join_partitioned,
                                                 write_partitioned_layer)

    docs = geocode_ids(
        spark.range(1500).withColumnRenamed("id", "doc_id"), "doc_id")
    polys = FX.polygons_df(spark, 200)
    layer = write_partitioned_layer(polys, str(tmp_path / "layer"))
    a = {(r.doc_id, r.feature_id) for r in
         spatial_join(docs, polys, page_key="doc_id", how="left").collect()}
    for kw in ({}, {"salt": 3}):
        b = {(r.doc_id, r.feature_id) for r in
             spatial_join_partitioned(docs, layer, page_key="doc_id",
                                      how="left", **kw).collect()}
        assert a == b, kw
    # zero-shuffle variant over a Hilbert-clustered pages copy
    clp = str(tmp_path / "docs_hilbert")
    cluster_by_hilbert(docs, 8).drop("hkey").write.parquet(clp)
    docs_c = spark.read.parquet(clp)
    c = {(r.doc_id, r.feature_id) for r in
         spatial_join_partitioned(docs_c, layer, page_key="doc_id",
                                  how="left", pages_clustered=True).collect()}
    assert a == c
    assert len(a) > 50


def test_partitioned_mapper_streams_bounded(spark, tmp_path, monkeypatch):
    """The partitioned-join mapper must not materialize its whole input
    partition (100 TB posture: a partition can be GBs inside one Python
    worker).  With a 1-byte span budget every batch flushes alone — the
    first output row group must be emitted before the mapper has pulled
    the rest of the input — and the match set is unchanged."""
    import numpy as np

    from osm_spark import fixtures as FX
    from osm_spark.operators import spatial_join as SJ
    from osm_spark.operators.geocode import geocode_ids

    docs = geocode_ids(
        spark.range(1500).withColumnRenamed("id", "doc_id"), "doc_id")
    polys = FX.polygons_df(spark, 200)
    layer = SJ.write_partitioned_layer(polys, str(tmp_path / "layer"))
    a = {(r.doc_id, r.feature_id) for r in
         SJ.spatial_join_partitioned(docs, layer, page_key="doc_id",
                                     how="left").collect()}

    monkeypatch.setattr(SJ, "PJOIN_BATCH_BYTES", 1)
    b = {(r.doc_id, r.feature_id) for r in
         SJ.spatial_join_partitioned(docs, layer, page_key="doc_id",
                                     how="left").collect()}
    assert a == b and len(a) > 50

    # direct generator probe: the mapper is a plain generator function —
    # drive it with a pull-counting input and check it yields output
    # before consuming the whole partition
    meta = SJ._read_layer_meta(layer)
    shift = SJ.DEFAULT_CELL_ZOOM - meta["zc"]
    pts = SJ.with_cell(docs, SJ.DEFAULT_CELL_ZOOM).select(
        "doc_id", "lat", "lon",
        SJ._gkey_col(shift).alias("gkey")).toPandas()
    chunks = [c for c in np.array_split(pts, 8) if len(c)]
    pulled = 0

    def gen():
        nonlocal pulled
        for c in chunks:
            pulled += 1
            yield c

    fn = SJ._partitioned_join_mapper(layer, SJ.DEFAULT_CELL_ZOOM,
                                     "left", "doc_id")
    it = fn(gen())
    first = next(it)
    assert len(first)
    assert pulled <= 2, f"mapper pulled {pulled}/8 batches before emitting"
    total = len(first) + sum(len(x) for x in it)
    # how="left": one row per (doc, matched feature) pair plus one per
    # unmatched doc — exactly the Spark-path pair set (docs inside
    # overlapping polygons emit one row per match, so total >= len(pts))
    assert total == len(a)


def test_many_ring_multipolygon_both_paths(spark, tmp_path):
    """A feature with >16 rings (1 outer + 20 holes) next to a second
    feature: exercises ring identity across features (round-1 bug:
    ring_key = feature_id*16 + ring_idx collided across features).  Both
    physical paths must produce the hand-computed match set."""
    from osm_spark.operators.spatial_join import (spatial_join_partitioned,
                                                  write_partitioned_layer)

    base_lat, base_lon = FX.LAT0 + 1_000_000, FX.LON0 + 1_000_000
    S = 100_000

    def ring(role, la0, lo0, w):
        return (role,
                [la0, la0, la0 + w, la0 + w, la0],
                [lo0, lo0 + w, lo0 + w, lo0, lo0])

    rings = [ring(0, base_lat, base_lon, 4_000_000)]
    for i in range(20):
        la0 = base_lat + 150_000 + (i % 5) * 700_000
        lo0 = base_lon + 150_000 + (i // 5) * 700_000
        rings.append(ring(1, la0, lo0, S))
    polys = spark.createDataFrame(
        [(7, rings), (8, [ring(0, base_lat, base_lon + 6_000_000, 1_000_000)])],
        "feature_id long, rings array<struct<role:int, lat:array<long>, lon:array<long>>>",
    )
    pts, exp, pid = [], set(), 0
    for i in range(20):  # hole centers → inside a hole → no match
        la = base_lat + 150_000 + (i % 5) * 700_000 + S // 2
        lo = base_lon + 150_000 + (i // 5) * 700_000 + S // 2
        pts.append((pid, la, lo))
        pid += 1
    for i in range(20):  # between holes → match feature 7
        la = base_lat + 500_000 + (i % 5) * 700_000
        lo = base_lon + 500_000 + (i // 5) * 700_000
        pts.append((pid, la, lo))
        exp.add((pid, 7))
        pid += 1
    pts.append((pid, base_lat + 500_000, base_lon + 6_500_000))  # feature 8
    exp.add((pid, 8))
    pts_df = spark.createDataFrame(pts, "doc_id long, lat long, lon long")
    got_b = {(r.doc_id, r.feature_id) for r in spatial_join(
        pts_df, polys, page_key="doc_id").collect()}
    layer = write_partitioned_layer(polys, str(tmp_path / "layer"))
    got_c = {(r.doc_id, r.feature_id) for r in spatial_join_partitioned(
        pts_df, layer, page_key="doc_id", salt=3).collect()}
    assert got_b == exp
    assert got_c == exp


def test_suggest_salt_detects_hot_cells(spark):
    """The fixture pages are 70% clustered in 5 city cells — the measured
    salt factor must exceed 1; a uniform layout must return 1."""
    from osm_spark.operators.geocode import geocode_ids
    from osm_spark.operators.spatial_join import suggest_salt
    from pyspark.sql import functions as F
    from osm_spark import fixtures as FX

    skewed = FX.pages_df(spark, 4000)
    from osm_spark.operators.geocode import geocode_pages

    s = suggest_salt(geocode_pages(skewed).select("page_id", "lat", "lon"))
    assert s > 1

    uniform = geocode_ids(
        spark.range(4000).withColumnRenamed("id", "doc_id"), "doc_id")
    s_u = suggest_salt(uniform.select("doc_id", "lat", "lon"))
    assert s_u <= max(2, s)  # hash-uniform layout needs (almost) no salt


def test_suggest_salt_sampled_matches_full(spark):
    """The max/p95 ratio is scale-free: a deterministic sample gives
    (nearly) the same factor as the full histogram — the 10^12-page
    estimation path."""
    from osm_spark import fixtures as FX
    from osm_spark.operators.geocode import geocode_pages
    from osm_spark.operators.spatial_join import suggest_salt

    pages = geocode_pages(FX.pages_df(spark, 20000)).select(
        "page_id", "lat", "lon")
    full = suggest_salt(pages)
    sampled = suggest_salt(pages, sample_frac=0.25)
    assert sampled > 1
    assert abs(sampled - full) <= max(2, full // 2)


# ------------------------------------------------- review regressions

def test_degenerate_rings_skipped(spark):
    """0- and 1-vertex rings carry no area and must not corrupt (or
    crash) the packed reduceat segments of the cell index — wherever
    the degenerate ring sits in the feature's ring list."""
    import pandas as pd

    from osm_spark.operators.spatial_join import build_cell_index, _match_batch

    sq_la = np.array([0, 0, 10**6, 10**6, 0], np.int64)
    sq_lo = np.array([0, 10**6, 10**6, 0, 0], np.int64)
    pt = np.array([5 * 10**5], np.int64)
    empty = np.empty(0, np.int64)

    def flat(rings):
        return {"flat_lat": np.concatenate([r[1] for r in rings]),
                "flat_lon": np.concatenate([r[2] for r in rings]),
                "lens": np.array([len(r[1]) for r in rings], np.int64),
                "roles": np.array([r[0] for r in rings], np.int64)}

    # feature 7: degenerate ring LAST (the crash case), first, or empty;
    # feature 9: all-degenerate — registers no cell, never matches
    for rings in ([(0, sq_la, sq_lo), (1, pt, pt)],
                  [(1, pt, pt), (0, sq_la, sq_lo)],
                  [(0, sq_la, sq_lo), (1, empty, empty)]):
        pdf = pd.DataFrame([{"feature_id": 7, **flat(rings)},
                            {"feature_id": 9, **flat([(0, pt, pt)])}])
        idx = build_cell_index(pdf, 12)
        hits, fids = _match_batch(idx, pt, pt, 12)
        assert list(fids) == [7], rings  # inside; hole ignored
    all_degenerate = pd.DataFrame([{"feature_id": 9, **flat([(0, pt, pt)])}])
    assert build_cell_index(all_degenerate, 12) == {}


def test_partitioned_layer_z_mismatch_raises(spark, tmp_path):
    from osm_spark.operators.spatial_join import (
        spatial_join_partitioned, write_partitioned_layer)

    path = str(tmp_path / "layer")
    write_partitioned_layer(FX.polygons_df(spark, 5).limit(3), path, z=12)
    pages = geocode_pages(FX.pages_df(spark, 50))
    with pytest.raises(ValueError, match="z=12"):
        spatial_join_partitioned(pages, path, z=14)
