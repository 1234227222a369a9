"""Golden tests for tile assignment and kNN join vs pure-python oracles."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_spark import fixtures as FX
from osm_spark.geo import kernels as K
from osm_spark.operators import knn as KNN
from osm_spark.operators import tiles as T
from osm_spark.operators.geocode import geocode_ids, geocode_pages
from osm_spark.operators.knn import knn_join

N_PAGES = 300


def brute_force_knn(points, features, k=1, key="page_id"):
    """Baseline: broadcast cross-join + window top-k (oracle path)."""
    feats = features.select(
        "feature_id", F.col("lat").alias("flat"), F.col("lon").alias("flon")
    )
    cand = points.select(key, "lat", "lon").crossJoin(F.broadcast(feats))
    return KNN._rank_topk(cand, key, k).select(key, "feature_id", "dist2", "rank")


@pytest.fixture(scope="module")
def geo_pages(spark):
    return geocode_pages(FX.pages_df(spark, N_PAGES))


def test_page_tiles_match_kernel(spark, geo_pages):
    rows = geo_pages.select("page_id", "lat", "lon").collect()
    got = {
        (r.page_id, r.z, r.x, r.y)
        for r in T.page_tiles(geo_pages, zooms=(6, 12)).collect()
    }
    want = set()
    for r in rows:
        for z in (6, 12):
            want.add((r.page_id, z, int(K.tile_x(r.lon, z)), int(K.tile_y_float(r.lat, z))))
    assert got == want


def test_page_tiles_exact_range_join_agrees(spark, geo_pages):
    rows_df = T.tile_y_rows_df(spark, 12, FX.LAT0, FX.LAT0 + FX.SPAN)
    got = {
        (r.page_id, r.x, r.y)
        for r in T.page_tiles_exact(geo_pages, rows_df).collect()
    }
    via_float = {
        (r.page_id, r.x, r.y)
        for r in T.page_tiles(geo_pages, zooms=(12,)).collect()
    }
    assert got == via_float


def feature_tiles_oracle(polys, zooms):
    out = set()
    for p in polys:
        rings = [
            (np.asarray(r["lat"], np.int64), np.asarray(r["lon"], np.int64), r["role"])
            for r in p["rings"]
        ]
        area = sum(K.polygon_area(lo, la) for la, lo, _ in rings)
        is_small = area <= T.SMALL_AREA or (area <= 50_000_000 and p["category"] == T.BUILDING_CAT)
        def tiles_of(rgs, z, band):
            la = np.concatenate([r[0] for r in rgs])
            lo = np.concatenate([r[1] for r in rgs])
            for x in range(int(K.tile_x(lo.min(), z)), int(K.tile_x(lo.max(), z)) + 1):
                for y in range(int(K.tile_y_float(la.max(), z)), int(K.tile_y_float(la.min(), z)) + 1):
                    out.add((p["feature_id"], band, z, x, y))
        tiles_of(rings, 14, "small" if is_small else "large")
        for z in zooms:
            cutoff, ratio = T.band_params(z)
            if area >= cutoff:
                simp = []
                ok = True
                for la, lo, role in rings:
                    sla, slo = K.simplify_ring_int(ratio, la, lo)
                    if role == 0 and len(sla) < 4:
                        ok = False
                    simp.append((sla, slo, role))
                if ok:
                    tiles_of(simp, z, str(z))
    return out


def test_feature_tiles_match_oracle(spark):
    n_small = 40
    polys = FX.polygons_df(spark, n_small)
    got = {
        (r.feature_id, r.band, r.z, r.x, r.y)
        for r in T.feature_tiles(polys).collect()
    }
    want = feature_tiles_oracle(FX.all_polygons(n_small), T.ZOOM_BANDS)
    assert got == want
    bands = {b for _, b, _, _, _ in got}
    assert {"small", "large"} <= bands  # size-class split exercised
    assert "6" in bands  # the huge polygon survives the z6 cutoff


def test_zoom_cutoff_filters_small_features(spark):
    polys = FX.polygons_df(spark, 30)
    ft = T.feature_tiles(polys)
    z6_feats = {r.feature_id for r in ft.filter("band = '6'").collect()}
    # small buildings must not appear at z6; cities + the huge one may
    assert all(f < 5 or f >= 35 for f in z6_feats), z6_feats


@pytest.fixture(params=["broadcast", "cells"])
def knn_path(request, monkeypatch):
    """Run a kNN test on both physical paths: a zero broadcast limit
    sends every feature layer down the cell-ring path."""
    if request.param == "cells":
        monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 0)
    return request.param


@pytest.fixture
def cells_only(monkeypatch):
    monkeypatch.setattr(KNN, "BROADCAST_FEATURE_LIMIT", 0)


def test_knn_exact_matches_bruteforce(spark, geo_pages, knn_path):
    feats = geocode_ids(
        spark.range(40).withColumnRenamed("id", "feature_id"), "feature_id"
    )
    got = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in knn_join(geo_pages, feats, k=2, cell_zoom=8, radius=2).collect()
    }
    want = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in brute_force_knn(geo_pages, feats, k=2).collect()
    }
    assert got == want
    assert len({p for p, *_ in got}) == N_PAGES


def test_knn_sparse_features_fallback(spark, geo_pages, knn_path):
    # only 2 features: on the cell path almost every point is
    # uncertified -> ring retries and the residue brute pass
    feats = geocode_ids(spark.range(2).withColumnRenamed("id", "feature_id"), "feature_id")
    got = {
        (r.page_id, r.feature_id)
        for r in knn_join(geo_pages, feats, k=1, cell_zoom=8, radius=1).collect()
    }
    want = {
        (r.page_id, r.feature_id)
        for r in brute_force_knn(geo_pages, feats, k=1).collect()
    }
    assert got == want


def test_knn_cells_exact_expanding_rings(spark, geo_pages, cells_only):
    """Force the cell path with features so sparse that round-1
    certification fails for most points: expanding-ring retries (and the
    residue brute) must still match the brute-force oracle exactly."""
    feats = geocode_ids(spark.range(3).withColumnRenamed("id", "feature_id"),
                        "feature_id")
    got = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in knn_join(geo_pages, feats, k=1, cell_zoom=8,
                          radius=1).collect()
    }
    want = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in brute_force_knn(geo_pages, feats, k=1).collect()
    }
    assert got == want
    assert len({p for p, *_ in got}) == N_PAGES


def test_knn_cells_exact_residue_only(spark, geo_pages, cells_only,
                                      monkeypatch):
    """MAX_EXPANSIONS=0: every uncertified point goes through the
    reverse-broadcast residue kernel (feature layer never broadcast);
    results still exact."""
    monkeypatch.setattr(KNN, "MAX_EXPANSIONS", 0)
    feats = geocode_ids(spark.range(3).withColumnRenamed("id", "feature_id"),
                        "feature_id")
    got = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in knn_join(geo_pages, feats, k=2, cell_zoom=8,
                          radius=1).collect()
    }
    want = {
        (r.page_id, r.rank, r.feature_id, r.dist2)
        for r in brute_force_knn(geo_pages, feats, k=2).collect()
    }
    assert got == want


def test_knn_residue_guard_raises(spark, geo_pages, cells_only, monkeypatch):
    """A residue bigger than BRUTE_RESIDUE_LIMIT raises instead of
    risking a quadratic pass."""
    monkeypatch.setattr(KNN, "MAX_EXPANSIONS", 0)
    monkeypatch.setattr(KNN, "BRUTE_RESIDUE_LIMIT", 5)
    feats = geocode_ids(spark.range(2).withColumnRenamed("id", "feature_id"),
                        "feature_id")
    with pytest.raises(ValueError, match="uncertified"):
        knn_join(geo_pages, feats, k=1, cell_zoom=8, radius=1)


@pytest.fixture
def round_one_only(cells_only, monkeypatch):
    """No ring retries and no residue: a point that round 1 does not
    certify raises, so a broken antimeridian wrap cannot be rescued by
    the later rounds."""
    monkeypatch.setattr(KNN, "MAX_EXPANSIONS", 0)
    monkeypatch.setattr(KNN, "BRUTE_RESIDUE_LIMIT", 0)


def test_knn_cell_path_antimeridian(spark, round_one_only):
    """Cell-ring candidates wrap at ±180°: a point at lon +179.99°
    finds a feature at -179.99° as its nearest neighbor."""
    pts = spark.createDataFrame(
        [(1, 100_000_000, 1_799_900_000)], "doc_id long, lat long, lon long")
    feats = spark.createDataFrame(
        [(7, 100_000_000, -1_799_900_000),   # 0.02° across the seam
         (8, 100_000_000, 1_500_000_000)],   # 30° away on the same side
        "feature_id long, lat long, lon long")
    out = knn_join(pts, feats, k=1, cell_zoom=6, radius=1,
                   key="doc_id").collect()
    assert out and out[0].feature_id == 7


# ------------------------------------------------- review regressions

def test_knn_broadcast_duplicate_feature_ties(spark, knn_path):
    """Features at IDENTICAL coordinates: every path must pick the
    lower feature_id (the (dist2, feature_id) contract), including
    when argpartition's arbitrary boundary selection would not."""
    pts = spark.createDataFrame(
        [(1, 10**6, 10**6)], "page_id long, lat long, lon long")
    # 4 co-located features; ids deliberately unsorted on input
    feats = spark.createDataFrame(
        [(9, 0, 0), (3, 0, 0), (7, 0, 0), (5, 0, 0)],
        "feature_id long, lat long, lon long")
    got = knn_join(pts, feats, k=2).orderBy("rank").collect()
    assert [r.feature_id for r in got] == [3, 5]
    # and a far feature cannot displace a tied near one
    feats2 = spark.createDataFrame(
        [(9, 0, 0), (3, 0, 0), (1, 10**7, 10**7)],
        "feature_id long, lat long, lon long")
    got2 = knn_join(pts, feats2, k=2).orderBy("rank").collect()
    assert [r.feature_id for r in got2] == [3, 9]


def test_knn_join_empty_points_exact(spark, cells_only):
    """The cell path on zero points returns empty instead of crashing
    on the NULL lat stats."""
    pts = spark.createDataFrame([], "page_id long, lat long, lon long")
    feats = spark.createDataFrame(
        [(1, 0, 0)], "feature_id long, lat long, lon long")
    assert knn_join(pts, feats, k=1).count() == 0


def test_knn_point_at_exact_antimeridian(spark, round_one_only):
    """lon = +180 deg exactly: the point's cell wraps to column 0 and
    still finds the feature registered across the seam, ahead of a
    farther decoy on the point's own side."""
    lon180 = 180 * 10**7
    pts = spark.createDataFrame(
        [(1, 0, lon180)], "page_id long, lat long, lon long")
    feats = spark.createDataFrame(
        [(42, 0, -lon180 + 10**5),          # 0.01° across the seam
         (43, 0, lon180 - 10**6)],          # 0.1° away on the same side
        "feature_id long, lat long, lon long")
    got = knn_join(pts, feats, k=1).collect()
    assert len(got) == 1 and got[0].feature_id == 42


def test_feature_tiles_ringless_feature(spark):
    """A feature with an empty rings list (or only empty rings) emits
    no tiles and must not crash or steal the next feature's bbox."""
    sq = [(0, [10**6, 10**6, 2 * 10**6, 2 * 10**6, 10**6],
              [10**6, 2 * 10**6, 2 * 10**6, 10**6, 10**6])]
    polys = spark.createDataFrame(
        [(1, 1, [(r, la, lo) for r, la, lo in sq]),
         (2, 1, []),
         (3, 1, [(0, [], [])])],
        "feature_id long, category int, "
        "rings array<struct<role:int, lat:array<long>, lon:array<long>>>")
    out = T.feature_tiles(polys, zooms=(12,)).collect()
    fids = {r.feature_id for r in out}
    assert 1 in fids and 2 not in fids and 3 not in fids
