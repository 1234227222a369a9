"""Spatial join: point-in-polygon tagging of pages against a polygon layer.

Spark-first re-expression of the reference's R-tree range query +
point-in-polygon scan (/root/reference/database/rtree.ml:173-195,
osm/geometry.ml:157-174).  Instead of an R-tree we use quadtree tile
cells (z-order prefix == slippy tile) as the spatial partitioning key:

  1. polygons → covering cells of their bbox (explode; the analog of
     R-tree leaf bboxes in Hilbert order),
  2. pages → their containing cell (pure column expressions for x,
     Arrow pandas UDF mercator for y),
  3. candidate join on cell — one of two physical paths, picked from the
     layer's measured vertex count (``BROADCAST_MAX_VERTS``):
     **broadcast** (a cell index shipped to every task, zero shuffles)
     or **partitioned** (a cell-sorted parquet layer range-read per
     task after one exchange of pages on the coarse cell key, salted
     by the measured hot-cell factor),
  4. exact PIP verify with a vectorized crossing-number kernel over the
     packed edges of every polygon registered in the point's cell.

Both paths share one index builder (``build_cell_index``) and one PIP
kernel (``_pip_pack``).

Inside-ness for polygons with holes: in some role-0 (outer) ring and in
no role-1 (hole) ring — matching the reference's hole handling
(cat=0 rings mark holes, osm/lib/osm_display.ml:593-598).

Scale notes (100 TB design):
- the partitioned layer is bounded by disk, not executor memory; pages
  shuffle once on the coarse cell key (``z - COARSE_SHIFT``), which is
  also the layout a tile-partitioned Iceberg table would already have
  (``pages_clustered=True`` then skips the exchange).  Hot (city)
  coarse cells are salted by ``suggest_salt`` at that same coarse zoom.
- the html/binary column is never referenced → column pruning keeps it
  out of every shuffle.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from osm_spark.geo import kernels as K

DEFAULT_CELL_ZOOM = 12
COARSE_SHIFT = 3          # partitioned path: coarse cells at z - COARSE_SHIFT


# ---------------------------------------------------------------------------
# tile/cell keys


def tile_x_col(lon_col, z: int):
    """Integer-exact tile column: (lon+180°)*2^z div 360°."""
    return F.expr(
        f"CAST((({lon_col} + {K.LON_OFFSET}L) * {1 << z}L) DIV {K.LON_WORLD}L AS BIGINT)"
    )


def tile_y_udf(z: int):
    @pandas_udf("long")
    def _f(lat: pd.Series) -> pd.Series:
        return pd.Series(K.tile_y_float(lat.to_numpy(np.int64), z))

    return _f


def with_cell(df: DataFrame, z: int = DEFAULT_CELL_ZOOM,
              lat="lat", lon="lon") -> DataFrame:
    """Add tile cell columns (cx, cy) at zoom z."""
    return df.withColumn("cx", tile_x_col(lon, z)).withColumn(
        "cy", tile_y_udf(z)(F.col(lat))
    )


# ---------------------------------------------------------------------------
# polygon side: bbox + covering cells


def with_bbox(polys: DataFrame) -> DataFrame:
    """Add bbox columns from the rings payload (JVM-side array ops)."""
    lats = F.flatten(F.expr("transform(rings, r -> r.lat)"))
    lons = F.flatten(F.expr("transform(rings, r -> r.lon)"))
    return (
        polys.withColumn("lat_min", F.array_min(lats))
        .withColumn("lat_max", F.array_max(lats))
        .withColumn("lon_min", F.array_min(lons))
        .withColumn("lon_max", F.array_max(lons))
    )


def polygon_cells(polys: DataFrame, z: int = DEFAULT_CELL_ZOOM) -> DataFrame:
    """Explode each polygon to the tile cells covering its bbox.

    The quadtree analog of R-tree leaf registration (rtree.ml:90-121).
    """
    ty = tile_y_udf(z)
    boxed = with_bbox(polys)
    boxed = (
        boxed.withColumn("cx_min", tile_x_col("lon_min", z))
        .withColumn("cx_max", tile_x_col("lon_max", z))
        .withColumn("cy_min", ty(F.col("lat_max")))  # north edge = min row
        .withColumn("cy_max", ty(F.col("lat_min")))
    )
    return (
        boxed.withColumn("cx", F.explode(F.sequence("cx_min", "cx_max")))
        .withColumn("cy", F.explode(F.sequence("cy_min", "cy_max")))
        .drop("cx_min", "cx_max", "cy_min", "cy_max",
              "lat_min", "lat_max", "lon_min", "lon_max")
    )


# ---------------------------------------------------------------------------
# shared cell index + edge-packed PIP kernel (both paths)


def _flat_cols() -> list:
    """Flat primitive projection of a polygon layer, one row per feature:
    ``feature_id``, per-ring ``roles`` and vertex counts ``lens``, and
    all ring vertices concatenated in ``flat_lat`` / ``flat_lon`` — the
    input of ``build_cell_index``."""
    return [
        "feature_id",
        F.expr("transform(rings, r -> r.role)").alias("roles"),
        F.expr("transform(rings, r -> size(r.lat))").alias("lens"),
        F.flatten(F.expr("transform(rings, r -> r.lat)")).alias("flat_lat"),
        F.flatten(F.expr("transform(rings, r -> r.lon)")).alias("flat_lon"),
    ]


def _pip_pack(pack: tuple, lo: np.ndarray, la: np.ndarray):
    """Exact PIP of points (lo, la) against a packed polygon set.

    Crossing-number with the reference's tie rules
    (osm/geometry.ml:157-174), vectorized edges × points; points are
    chunked so the work set stays ~L2-resident.  Holes: inside = in some
    role-0 ring of the feature and in none of its role-1 rings.
    Returns (poly_idx, point_idx) match index arrays.
    """
    exi, eyi, exj, eyj, rstarts, rpoly, rrole, fids = pack
    dx = (exj - exi)[:, None]
    dy = (eyj - eyi)[:, None]
    outer_rings = rrole == 0
    n_local = len(fids)
    out_p: list[np.ndarray] = []
    out_i: list[np.ndarray] = []
    pchunk = max(64, (1 << 18) // max(len(exi), 1))
    for cs in range(0, len(lo), pchunk):
        x = lo[cs:cs + pchunk][None, :]
        y = la[cs:cs + pchunk][None, :]
        pi = eyi[:, None] >= y
        pj = eyj[:, None] >= y
        cross = pi != pj
        d = dx * (y - eyi[:, None]) - (x - exi[:, None]) * dy
        toggle = (cross & ((d >= 0) != pi)).astype(np.int16)
        cnt = np.add.reduceat(toggle, rstarts, axis=0)
        inr = (cnt & 1).astype(bool)       # rings × points
        in_outer = np.zeros((n_local, x.shape[1]), dtype=bool)
        in_hole = np.zeros((n_local, x.shape[1]), dtype=bool)
        np.logical_or.at(in_outer, rpoly[outer_rings], inr[outer_rings])
        np.logical_or.at(in_hole, rpoly[~outer_rings], inr[~outer_rings])
        p_idx, pt_idx = np.nonzero(in_outer & ~in_hole)
        out_p.append(p_idx)
        out_i.append(pt_idx + cs)
    return (np.concatenate(out_p) if out_p else np.empty(0, np.int64),
            np.concatenate(out_i) if out_i else np.empty(0, np.int64))


def build_cell_index(flat_pdf: pd.DataFrame, z: int) -> dict:
    """Cell index of a polygon layer in the ``_flat_cols`` projection —
    the in-memory analog of the R-tree the reference scans per viewport
    (rtree.ml:173-195): each feature registers in every zoom-``z`` cell
    its bbox covers, exact PIP runs at query time.

    Each cell maps to one packed tuple of int64 arrays
    ``(exi, eyi, exj, eyj, ring_starts, ring_poly, ring_role, fids)`` so
    PIP is ONE crossing-number pass over (cell edges) × (points).  Built
    with one global vertex concat, edge arrays via two boolean masks
    (drop each ring's last / first vertex), per-feature bboxes via
    reduceat and per-cell packs via slice-concat — no per-ring Python."""
    fid_arr = flat_pdf["feature_id"].to_numpy(np.int64)
    nf = len(fid_arr)
    if not nf:
        return {}
    lat_l = [np.asarray(v, np.int64) for v in flat_pdf["flat_lat"]]
    lon_l = [np.asarray(v, np.int64) for v in flat_pdf["flat_lon"]]
    lens_l = [np.asarray(v, np.int64) for v in flat_pdf["lens"]]
    roles_l = [np.asarray(v, np.int64) for v in flat_pdf["roles"]]
    # drop zero-edge rings (0- or 1-vertex): they carry no area, and
    # their empty reduceat segments would crash on (or steal crossing
    # counts from) neighboring rings.  Rare, so repack only when hit.
    for f in range(nf):
        l = lens_l[f]
        if len(l) and (l < 2).any():
            keep = l >= 2
            vkeep = np.repeat(keep, l)
            lat_l[f] = lat_l[f][vkeep]
            lon_l[f] = lon_l[f][vkeep]
            lens_l[f] = l[keep]
            roles_l[f] = roles_l[f][keep]
    V_lat = np.concatenate(lat_l)
    V_lon = np.concatenate(lon_l)
    n_verts = np.fromiter((len(a) for a in lat_l), np.int64, nf)
    voff = np.concatenate(([0], np.cumsum(n_verts)))
    ring_vlens = np.concatenate(lens_l)           # vertices per ring
    rends = np.cumsum(ring_vlens)                  # global vertex offsets
    rstarts_v = rends - ring_vlens
    # edge arrays: ring-aligned "all but last" / "all but first" vertices
    mask_i = np.ones(len(V_lat), dtype=bool); mask_i[rends - 1] = False
    mask_j = np.ones(len(V_lat), dtype=bool); mask_j[rstarts_v] = False
    EXI = V_lon[mask_i]; EYI = V_lat[mask_i]
    EXJ = V_lon[mask_j]; EYJ = V_lat[mask_j]
    n_rings = np.fromiter((len(l) for l in lens_l), np.int64, nf)
    foff_e = np.concatenate(([0], np.cumsum(n_verts - n_rings)))
    ring_elens_l = [l - 1 for l in lens_l]         # edges per ring
    # per-feature bbox (reduceat over the vertex arrays); a feature
    # left with no vertices registers no cells (empty segment guard)
    if not len(V_lat):
        return {}
    nonempty = n_verts > 0
    st = np.minimum(voff[:-1], len(V_lat) - 1)
    lo_min = np.minimum.reduceat(V_lon, st)
    lo_max = np.maximum.reduceat(V_lon, st)
    la_min = np.minimum.reduceat(V_lat, st)
    la_max = np.maximum.reduceat(V_lat, st)
    cx0 = K.tile_x(lo_min, z)
    cx1 = K.tile_x(lo_max, z)
    cy0 = K.tile_y_float(la_max, z)
    cy1 = K.tile_y_float(la_min, z)
    per_cell: dict[tuple[int, int], list[int]] = {}
    for i in range(nf):
        if not nonempty[i]:
            continue
        for cx in range(int(cx0[i]), int(cx1[i]) + 1):
            for cy in range(int(cy0[i]), int(cy1[i]) + 1):
                per_cell.setdefault((cx, cy), []).append(i)
    index = {}
    for cell, fi in per_cell.items():
        sl = [slice(foff_e[f], foff_e[f + 1]) for f in fi]
        rl = [ring_elens_l[f] for f in fi]
        ring_lens = np.concatenate(rl)
        ring_starts = np.concatenate(([0], np.cumsum(ring_lens)[:-1]))
        index[cell] = (
            np.concatenate([EXI[s] for s in sl]),
            np.concatenate([EYI[s] for s in sl]),
            np.concatenate([EXJ[s] for s in sl]),
            np.concatenate([EYJ[s] for s in sl]),
            ring_starts.astype(np.int64),
            np.repeat(np.arange(len(fi), dtype=np.int64),
                      [len(r) for r in rl]),
            np.concatenate([roles_l[f] for f in fi]),
            fid_arr[np.asarray(fi, np.int64)],
        )
    return index


def _match_batch(index: dict, la: np.ndarray, lo: np.ndarray, z: int):
    """Match one point batch against a (cell -> packed polys) index:
    sort by cell key, one ``_pip_pack`` pass per occupied cell.
    Returns (point_idx, feature_id) arrays."""
    cx = K.tile_x(lo, z)
    cy = K.tile_y_float(la, z)
    cell_key = (cx << 32) | cy
    order = np.argsort(cell_key, kind="stable")
    out_i: list[np.ndarray] = []
    out_f: list[np.ndarray] = []
    uniq, starts = np.unique(cell_key[order], return_index=True)
    bounds = np.append(starts, len(order))
    for u, s0, s1 in zip(uniq, bounds[:-1], bounds[1:]):
        cell = index.get((int(u >> 32), int(u & 0xFFFFFFFF)))
        if cell is None:
            continue
        ii_all = order[s0:s1]
        p_idx, pt_idx = _pip_pack(cell, lo[ii_all], la[ii_all])
        if len(p_idx):
            out_i.append(ii_all[pt_idx])
            out_f.append(cell[7][p_idx])
    return (np.concatenate(out_i) if out_i else np.empty(0, np.int64),
            np.concatenate(out_f) if out_f else np.empty(0, np.int64))


def _emit(keys: np.ndarray, hits: np.ndarray, fids: np.ndarray,
          how: str) -> pd.DataFrame:
    """One output batch of (k, feature_id): the matched pairs, then for
    ``how='left'`` every unmatched key with a NULL feature_id
    (outer-default semantics, database/join.ml:35-57)."""
    if how == "left":
        matched = np.zeros(len(keys), dtype=bool)
        matched[hits] = True
        miss = keys[~matched]
        k = np.concatenate([keys[hits], miss])
        f = np.concatenate([fids, np.zeros(len(miss), np.int64)])
    else:
        k, f = keys[hits], fids
    mask = np.arange(len(k)) >= len(hits)      # NULL feature_id for misses
    return pd.DataFrame({"k": k, "feature_id": pd.arrays.IntegerArray(f, mask)})


def _broadcast_join_mapper(bc, z: int, how: str):
    def fn(batches):
        index = bc.value
        for pdf in batches:
            hits, fids = _match_batch(index, pdf["lat"].to_numpy(np.int64),
                                      pdf["lon"].to_numpy(np.int64), z)
            yield _emit(pdf.iloc[:, 0].to_numpy(), hits, fids, how)

    return fn


# ---------------------------------------------------------------------------
# top-level joins


def suggest_salt(pages: DataFrame, z: int = DEFAULT_CELL_ZOOM - COARSE_SHIFT,
                 max_salt: int = 64,
                 sample_frac: float | None = None) -> int:
    """Salt factor from the measured cell histogram (SURVEY.md §7: hot
    cells are cities by construction; the factor is computed, not
    guessed): replicate enough that the hottest cell's share lands near
    the p95 cell.  Measure at the zoom the salt will apply to — the
    partitioned path's coarse zoom (``zc`` in the layer's sidecar,
    ``DEFAULT_CELL_ZOOM - COARSE_SHIFT`` by default).  Clamped to
    [1, max_salt]; AQE skew-join remains the runtime backstop.

    ``sample_frac`` estimates the histogram from a deterministic
    sample — the max/p95 RATIO is scale-free, so at 10^12 pages a
    1e-4 sample gives the same factor for a fraction of the scan."""
    import math

    if sample_frac is not None:
        pages = pages.sample(fraction=sample_frac, seed=7)
    counts = with_cell(pages, z).groupBy("cx", "cy").count()
    row = counts.agg(
        F.max("count").alias("mx"),
        F.percentile_approx("count", 0.95).alias("p95"),
    ).first()
    if not row or not row.mx or not row.p95:
        return 1
    return max(1, min(max_salt, math.ceil(row.mx / max(row.p95, 1))))


def broadcast_polygon_index(polys: DataFrame, z: int = DEFAULT_CELL_ZOOM):
    """Collect (Arrow) + cell-index a polygon layer and broadcast it.
    Build once per layer version and reuse across joins — at 10^12 pages
    the build cost amortizes to zero (the reference builds its R-tree
    once the same way, rtree.ml:90-134)."""
    spark = polys.sparkSession
    index = build_cell_index(polys.select(*_flat_cols()).toPandas(), z)
    return spark.sparkContext.broadcast(index)


# polygon layers up to this many total vertices broadcast (~32 B/edge
# packed → ≈64 MB index); larger layers take the partitioned path
BROADCAST_MAX_VERTS = 2_000_000


# ---------------------------------------------------------------------------
# partitioned disk-index path: the Spark analog of the reference's
# ON-DISK R-tree (database/rtree.ml memory-maps the tree and range-reads
# leaf pages per query).  The polygon layer is written cell-sorted in
# parquet; pages hash-partition on the coarse cell key (a pure JVM
# columnar exchange); every worker then range-reads ONLY its
# partition's cell span from the layer file with row-group statistics
# pruning.  No polygon replication, no grouped-map sort of
# the pages side, layer size bounded by disk not executor memory.


CKEY_SCALE = 1 << 32


def _gkey_col(shift: int = COARSE_SHIFT):
    """Coarse-cell partition key from the fine (cx, cy) columns,
    ``shift`` zoom levels coarser (must equal the writer's z - zc)."""
    return (
        F.shiftright(F.col("cx"), shift).cast("long") * CKEY_SCALE
        + F.shiftright(F.col("cy"), shift)
    )


_LAYER_META = "_osm_layer_meta.json"


def _write_layer_meta(path: str, z: int, zc: int) -> None:
    import json
    import os

    with open(os.path.join(path, _LAYER_META), "w") as fh:
        json.dump({"z": z, "zc": zc}, fh)


def _read_layer_meta(path: str) -> dict | None:
    import json
    import os

    p = os.path.join(path, _LAYER_META)
    if os.path.exists(p):
        with open(p) as fh:
            return json.load(fh)
    return None


def write_partitioned_layer(polys: DataFrame, path: str,
                            z: int = DEFAULT_CELL_ZOOM,
                            n_files: int = 32) -> str:
    """One-time layer build (the R-tree bulk load, rtree.ml:90-134):
    explode polygons to covering COARSE cells, sort by the coarse key,
    write parquet so per-partition isin reads prune by row-group
    statistics.  Amortized across every join against this layer
    version."""
    zc = max(z - COARSE_SHIFT, 2)
    cells = polygon_cells(polys.select("feature_id", "rings"), zc).select(
        (F.col("cx").cast("long") * CKEY_SCALE + F.col("cy")).alias("gkey"),
        *_flat_cols(),
    )
    (cells.repartitionByRange(n_files, "gkey")
     .sortWithinPartitions("gkey")
     .write.mode("overwrite")
     .option("parquet.block.size", 1 << 20)
     .parquet(path))
    # sidecar records the key geometry so a reader at a different z
    # fails loudly instead of silently matching nothing (on Iceberg
    # this would be a table property)
    _write_layer_meta(path, z, zc)
    return path


# span-group byte budget for the partitioned-join mapper: Arrow batches
# accumulate only up to this bound before matching/emitting, so worker
# memory stays O(budget + layer-slice), not O(partition) — at 100x page
# density a partition is GBs and must never materialize whole in one
# Python worker
PJOIN_BATCH_BYTES = 64 << 20


def _partitioned_join_mapper(layer_path: str, z: int, how: str,
                             page_key: str):
    budget = PJOIN_BATCH_BYTES      # read on the driver, shipped in the closure

    def fn(batches):
        import pyarrow.dataset as pads

        dataset = pads.dataset(layer_path, format="parquet")
        # lazy per-partition layer-index cache: the partition holds
        # whole coarse cells, so the gkey set — and therefore the layer
        # slice — is fixed per partition; the first span group reads
        # (and prunes by row-group stats on the gkey-sorted file) the
        # cells it touches, later groups only read cells not yet seen.
        # The vectorized index rebuild on a cache miss is effectively
        # free (BENCH/ANALYSIS.md round-3 floor decomposition).
        seen_gk: set[int] = set()
        have_fid: set[int] = set()
        layer_parts: list[pd.DataFrame] = []
        index: dict | None = {}        # None: layer_parts grew, rebuild

        def ensure_index(gk: np.ndarray):
            nonlocal index
            miss = [int(v) for v in np.unique(gk) if int(v) not in seen_gk]
            if miss:
                seen_gk.update(miss)
                tbl = dataset.to_table(
                    filter=pads.field("gkey").isin(miss))
                if tbl.num_rows:
                    # a polygon spanning k cells appears k times in the
                    # file (and across successive range reads); dedupe
                    # by feature before the index build — the build
                    # re-registers every covering cell itself
                    lp = tbl.to_pandas().drop_duplicates("feature_id")
                    lp = lp[~lp["feature_id"].isin(have_fid)]
                    if len(lp):
                        have_fid.update(
                            int(v) for v in lp["feature_id"].to_numpy())
                        layer_parts.append(lp)
                        index = None
            if index is None:
                index = build_cell_index(
                    layer_parts[0] if len(layer_parts) == 1
                    else pd.concat(layer_parts, ignore_index=True), z)
            return index

        def flush(group: list[pd.DataFrame]) -> pd.DataFrame:
            pdf = group[0] if len(group) == 1 else pd.concat(group)
            idx = ensure_index(pdf["gkey"].to_numpy(np.int64))
            hits, fids = _match_batch(idx, pdf["lat"].to_numpy(np.int64),
                                      pdf["lon"].to_numpy(np.int64), z)
            return _emit(pdf[page_key].to_numpy(), hits, fids, how)

        group: list[pd.DataFrame] = []
        gbytes = 0
        for b in batches:
            if not len(b):
                continue
            group.append(b)
            # deep=True: object-dtype columns (string page keys / urls)
            # must count their payload, not 8 bytes/pointer — otherwise
            # held memory can exceed the budget by the string factor
            gbytes += int(b.memory_usage(index=False, deep=True).sum())
            if gbytes >= budget:
                yield flush(group)
                group, gbytes = [], 0
        if group:
            yield flush(group)

    return fn


def spatial_join_partitioned(
    pages: DataFrame,
    layer_path: str,
    z: int = DEFAULT_CELL_ZOOM,
    how: str = "inner",
    page_key: str = "page_id",
    salt: int = 1,
    pages_clustered: bool = False,
) -> DataFrame:
    """PIP-join against a ``write_partitioned_layer`` output: pages
    hash-partition on the coarse cell key (one JVM columnar exchange,
    no range-sampling job), each worker reads ONLY its partition's
    coarse cells from the layer parquet (row-group pruning on the
    sorted gkey) and runs the shared vectorized index + PIP kernels.
    The layer never shuffles and is bounded by disk, not executor
    memory.  ``salt`` spreads a hot coarse cell's pages across
    partitions — the price is duplicate layer READS, never duplicate
    shuffle bytes.  ``pages_clustered=True`` declares the pages table
    spatially clustered in storage (``cluster.cluster_by_hilbert``
    layout) and skips the exchange entirely — the zero-shuffle
    co-located spatial join.  Returns (page_key, feature_id) like
    ``spatial_join``."""
    n_partitions = int(pages.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"))
    meta = _read_layer_meta(layer_path)
    if meta is not None:
        if meta["z"] != z:
            raise ValueError(
                f"layer at {layer_path} was written for z={meta['z']}, "
                f"join requested z={z} — cell keys would not align")
        shift = z - meta["zc"]
    else:
        shift = z - max(z - COARSE_SHIFT, 2)   # pre-meta layers
    pts = with_cell(pages.select(page_key, "lat", "lon"), z).select(
        page_key, "lat", "lon", _gkey_col(shift).alias("gkey"))
    if pages_clustered:
        # the pages table is already spatially clustered in storage
        # (cluster_by_hilbert layout): input splits are cell-local, so
        # the join needs NO exchange at all — scan, per-split layer
        # range-read, PIP.  The zero-shuffle co-located spatial join.
        pass
    elif salt > 1:
        pts = pts.withColumn(
            "s_", F.pmod(F.xxhash64(page_key), F.lit(salt)))
        pts = pts.repartition(n_partitions, "gkey", "s_").drop("s_")
    else:
        pts = pts.repartition(n_partitions, "gkey")
    return pts.mapInPandas(
        _partitioned_join_mapper(layer_path, z, how, page_key),
        "k long, feature_id long",
    ).withColumnRenamed("k", page_key)


def _managed_layer_dir() -> str:
    """Fresh temp dir for a layer ``spatial_join`` writes itself: under
    the first ``$SPARK_LOCAL_DIRS`` entry when set, removed at
    interpreter exit."""
    import atexit
    import os
    import shutil
    import tempfile

    root = os.environ.get("SPARK_LOCAL_DIRS", "").split(",")[0] or None
    if root:
        os.makedirs(root, exist_ok=True)
    path = tempfile.mkdtemp(prefix="osm_layer_", dir=root)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path


def spatial_join(
    pages: DataFrame,
    polys: DataFrame,
    z: int = DEFAULT_CELL_ZOOM,
    how: str = "inner",
    page_key: str = "page_id",
    index=None,
) -> DataFrame:
    """PIP-join pages (with lat/lon columns) to a polygon layer.

    Returns (page_key, feature_id); ``how='left'`` keeps unmatched pages
    with NULL feature_id (outer-default semantics, database/join.ml:35-57).

    The path follows the layer's measured vertex count (one cheap
    aggregate over the polygon side only):

    - **broadcast** (``index`` given — a ``broadcast_polygon_index`` —
      or at most ``BROADCAST_MAX_VERTS`` vertices): ships a
      (cell → packed polygon) index to every executor once and PIP-tags
      pages in a single mapInPandas pass — zero shuffles, zero joins.
    - **partitioned** (larger layers): writes the layer with
      ``write_partitioned_layer`` into a temp dir and joins with
      ``spatial_join_partitioned``, salted by ``suggest_salt`` at the
      layer's coarse zoom.  To reuse one layer across joins, write it
      once and call ``spatial_join_partitioned`` directly.
    """
    if index is None:
        nv = polys.select(
            F.expr("aggregate(transform(rings, r -> size(r.lat)),"
                   " 0L, (a, x) -> a + x)").alias("nv")
        ).agg(F.sum("nv").alias("v")).first()
        if int(nv.v or 0) > BROADCAST_MAX_VERTS:
            layer = write_partitioned_layer(polys, _managed_layer_dir(), z=z)
            zc = _read_layer_meta(layer)["zc"]
            return spatial_join_partitioned(
                pages, layer, z=z, how=how, page_key=page_key,
                salt=suggest_salt(pages, z=zc))
        index = broadcast_polygon_index(polys, z)
    return pages.select(page_key, "lat", "lon").mapInPandas(
        _broadcast_join_mapper(index, z, how),
        "k long, feature_id long",
    ).withColumnRenamed("k", page_key)
