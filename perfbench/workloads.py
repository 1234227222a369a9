"""The benchmark's workloads.

Each workload drives the engine only through its public functions,
times every call inside a span, and checks every result against the
expectations of ``perfbench.oracle`` computed from the same seeded
inputs.  See perfbench/README.md for why each workload exists and
which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import gzip
import os
import random
import shutil
import time
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from osm_spark import fixtures as FX
from osm_spark import io as IO
from osm_spark.operators import tiles as T
from osm_spark.operators.geocode import geocode_ids, geocode_pages
from osm_spark.operators.knn import knn_join
from osm_spark.operators.routing import ch_batch_routes, contract, extract_edges
from osm_spark.operators.spatial_join import (
    broadcast_polygon_index, spatial_join, spatial_join_partitioned,
    suggest_salt, write_partitioned_layer)
from osm_spark.operators.textops import fingerprint_udf
from osm_spark.sources import warc
from osm_spark.sources.warc_fixture import page_html

from perfbench import oracle as O
from perfbench import tracing as TR

PAGE_CHUNK = 25_000          # page ids per cached pages file
POOL_CHUNKS = 12             # seeds pick windows inside ids [0, 300k)
ZOOMS = (6, 8, 10, 12)       # page/feature tile bands
KNN_FEATURES = 256
SALT_ZOOM = 9                # coarse cell zoom of the partitioned join
SAMPLE = 400                 # checked rows per output


def canon(rows) -> list[tuple]:
    """Rows as tuples in a total order that tolerates NULLs."""
    return sorted((tuple(r) for r in rows),
                  key=lambda r: tuple((v is None, 0 if v is None else v)
                                      for v in r))


def summarize(df, key: str, sample, cols, **extra) -> dict:
    """One action over ``df``: the row count, the ``extra`` sums and the
    rows whose ``key`` is in ``sample``.  Grouping on the sample row
    (NULL for all other rows) keeps the aggregate code-generated, which
    ``collect_list`` would not."""
    groups = df.groupBy(
        F.when(F.col(key).isin(list(sample)), F.struct(*cols)).alias("row")
    ).agg(F.count(F.lit(1)).alias("n"),
          *[F.sum(c).alias(k) for k, c in extra.items()]).collect()
    out = {"n": sum(g["n"] for g in groups),
           "sample": [tuple(g["row"]) for g in groups if g["row"] is not None
                      for _ in range(g["n"])]}
    for k in extra:
        out[k] = sum(g[k] or 0 for g in groups)
    return out


def noop(df) -> None:
    """Consume every row and column without writing anything."""
    df.write.format("noop").mode("overwrite").save()


def _identity(batches):
    yield from batches


def _gen_pages(batches):
    for pdf in batches:
        ids = pdf["id"].to_numpy()
        if len(ids):
            lo = int(ids.min())
            yield FX.generate_pages_range(lo, int(ids.max()) + 1).iloc[ids - lo]


def dir_bytes(path: Path) -> int:
    return sum(p.stat().st_size for p in Path(path).rglob("*") if p.is_file())


class Context:
    """What a workload needs from the run: the session, the seed, the
    on-disk input cache, a scratch directory emptied per run, the
    tracer, the core count and the JVM's pid."""

    def __init__(self, spark, seed, cache, scratch, tracer, cores, jvm_pid):
        self.spark = spark
        self.seed = seed
        self.cache = cache
        self.scratch = scratch
        self.tracer = tracer
        self.cores = cores
        self.jvm_pid = jvm_pid
        self.gen_s = 0.0             # input generation time, all setups

    def cpu(self) -> float:
        """CPU seconds so far of this process and everything under it,
        JIT compilation left out."""
        return TR.tree_cpu(os.getpid(), self.jvm_pid)


class Workload:
    """Shared run protocol.  Subclasses define ``setup`` (one set-up
    repetition), ``expect`` (oracle, untimed), ``iteration``, ``ladder``
    (traced runs only), ``items`` of the main operation, and the named
    and per-layer metrics."""

    name = ""
    main_op = ""                # the operation the throughput counts

    def __init__(self, ctx: Context):
        self.ctx = ctx
        self.spark = ctx.spark
        self.rng = random.Random(f"{self.name}:{ctx.seed}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.op_times: dict[str, list[float]] = {}
        self.op_cpu: dict[str, list[float]] = {}
        self.op_spans: dict[str, list[int]] = {}
        self.iter_times: list[float] = []
        self.iter_cpu: list[float] = []
        self.iter_spans: list[int] = []
        self.rungs: dict[str, list[float]] = {}
        self.setup_parts: dict[str, list[float]] = {}
        self.measuring = False

    # -- helpers --------------------------------------------------------

    def setup_step(self, name: str, fn):
        """Run one timed part of a set-up repetition inside a span."""
        with self.ctx.tracer.span(name) as sp:
            out = fn()
        self.setup_parts.setdefault(name, []).append(sp.seconds)
        return out

    def op(self, name: str, action, check, timed: bool = True):
        """One checked engine operation; failures and wrong outputs
        count against ``failed``.  Only timed calls inside the measured
        window contribute samples."""
        self.attempted += 1
        cpu0 = self.ctx.cpu()
        with self.ctx.tracer.span(name) as sp:
            try:
                result = action()
            except Exception as e:  # noqa: BLE001 - counted, run goes on
                result, problems = None, [f"{name}: {type(e).__name__}: {e}"]
        cpu = self.ctx.cpu() - cpu0
        if result is not None:
            problems = check(result)
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])
        if timed and self.measuring:
            self.op_times.setdefault(name, []).append(sp.seconds)
            self.op_cpu.setdefault(name, []).append(cpu)
            self.op_spans.setdefault(name, []).append(sp.rec["id"])
        return result

    def rung(self, name: str, df) -> None:
        with self.ctx.tracer.span(f"rung:{name}") as sp:
            noop(df)
        self.rungs.setdefault(name, []).append(sp.seconds)

    def check_summary(self, name, row, exp, extra=()) -> list[str]:
        out = []
        if row["n"] != exp["rows"]:
            out.append(f"{name}: {row['n']} rows, expected {exp['rows']}")
        for col, want in extra:
            if row[col] != want:
                out.append(f"{name}: {col}={row[col]}, expected {want}")
        got, want = canon(row["sample"]), exp["sample"]
        if got != want:
            i = next((k for k, (g, w) in enumerate(zip(got, want)) if g != w),
                     min(len(got), len(want)))
            out.append(f"{name}: sample row {i} is {got[i:i + 1]}, "
                       f"expected {want[i:i + 1]}")
        return out

    # -- protocol -------------------------------------------------------

    def warmup(self) -> None:
        """One full untimed (but checked) iteration, so the code
        generator, the JIT and the Python workers are warm before the
        window opens."""
        self.iteration()
        self.after_iteration()

    def run_window(self, seconds: float, trace: bool) -> None:
        t_end = time.perf_counter() + seconds
        self.measuring = True
        while True:
            step0 = time.perf_counter()
            cpu0 = self.ctx.cpu()
            with self.ctx.tracer.span("iteration") as it:
                self.iteration()
            self.iter_cpu.append(self.ctx.cpu() - cpu0)
            self.iter_times.append(it.seconds)
            self.iter_spans.append(it.rec["id"])
            self.after_iteration()
            if trace:
                with self.ctx.tracer.span("ladder"):
                    self.ladder()
            # start another step only if at least half of it fits
            now = time.perf_counter()
            if now + (now - step0) / 2 >= t_end:
                break

    def after_iteration(self) -> None:
        pass

    def op_median(self, name: str) -> float:
        return TR.median(self.op_times[name])

    def throughput(self) -> float:
        """Items of the main operation per second of wall time."""
        return self.items / self.op_median(self.main_op)

    def items_per_cpu_s(self) -> float:
        """Items of the main operation per CPU second of the driver,
        its JVM and its Python workers."""
        return self.items / TR.median(self.op_cpu[self.main_op])

    def setup_median(self, name: str) -> float:
        return TR.median(self.setup_parts[name])

    def rung_median(self, name: str) -> float:
        return TR.median(self.rungs[name])

    def span_tasks(self, log, span_ids) -> list[list[dict]]:
        """Per span: the event-log tasks of the span and its children."""
        spans = self.ctx.tracer.spans
        return [TR.tasks_of(log, TR.span_descendants(spans, [s]))
                for s in span_ids]

    def per_span(self, log, span_ids, fn) -> float:
        """Median over spans of ``fn(tasks of that span)``."""
        return TR.median([fn(t) for t in self.span_tasks(log, span_ids)])

    def generic_layers(self, log) -> dict:
        """Layer metrics every workload reports from its event log:
        the Arrow crossing and Python worker start-up, the exchange,
        and task totals, per timed iteration (median)."""
        it = self.iter_spans
        main = self.op_spans[self.main_op]

        def total(spans, metric):
            return self.per_span(log, spans, lambda ts: TR.metric_sum(ts, metric))

        cpu = sum(TR.metric_sum(ts, "cpu_s") for ts in self.span_tasks(log, it))
        wall = sum(self.iter_times)
        return {
            "scan.bytes_read": total(main, "bytes_read"),
            "arrow.bytes_sent": total(main, TR.PY_SENT),
            "arrow.bytes_received": total(main, TR.PY_RECEIVED),
            "python.boot_s": total(it, TR.PY_BOOT),
            "python.init_s": total(it, TR.PY_INIT),
            "exchange.shuffle_write_bytes": total(it, "shuffle_write"),
            "exchange.shuffle_read_bytes": total(it, "shuffle_read"),
            "exchange.spill_bytes": total(it, "spill"),
            "exchange.fetch_wait_s": total(it, "fetch_wait_s"),
            "tasks.skew_ratio": self.per_span(log, main, TR.skew_ratio),
            "tasks.count": self.per_span(log, it, len),
            "tasks.cpu_s": total(it, "cpu_s"),
            "tasks.gc_s": total(it, "gc_s"),
            "tasks.utilization": cpu / (wall * self.ctx.cores) if wall else 0.0,
        }

    def python_s(self, log, op: str) -> float:
        """Time inside the Python workers (``pythonTotalTime``) of ``op``."""
        return self.per_span(log, self.op_spans[op],
                             lambda ts: TR.metric_sum(ts, TR.PY_TOTAL))


# ---------------------------------------------------------------------------
# shared cached inputs


def cached(ctx: Context, name: str, build) -> Path:
    """The input directory ``name`` under the cache.  When missing,
    ``build(tmp)`` writes it into a temporary sibling that is renamed
    into place only once complete; the time counts as generation."""
    final = ctx.cache / name
    if not final.exists():
        t0 = time.perf_counter()
        tmp = final.with_name(final.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.parent.mkdir(parents=True, exist_ok=True)
        build(tmp)
        os.replace(tmp, final)
        ctx.gen_s += time.perf_counter() - t0
    return final


def page_chunks(ctx: Context, first: int, count: int) -> list[str]:
    """Pages files for chunks [first, first + count), generated on the
    executors (row i is ``generate_pages_range(i, i + 1)`` whatever
    window asks for it)."""
    def build(c):
        lo = c * PAGE_CHUNK
        return lambda tmp: (ctx.spark.range(lo, lo + PAGE_CHUNK, 1, ctx.cores)
                            .mapInPandas(_gen_pages, FX.PAGES_SCHEMA)
                            .write.parquet(str(tmp)))

    return [str(cached(ctx, f"pages/chunk{c:03d}", build(c)))
            for c in range(first, first + count)]


def polygons(ctx: Context, n_small: int) -> str:
    """The polygon layer as a parquet table (layers live in tables,
    not in driver-local relations)."""
    return str(cached(ctx, f"polygons{n_small}", lambda tmp: FX.polygons_df(
        ctx.spark, n_small).repartition(ctx.cores).write.parquet(str(tmp))))


def join_summary(out, sample):
    """Left-join output summarized: rows, matched rows, sample rows."""
    return summarize(out, "page_id", sample, ["page_id", "feature_id"],
                     m=F.col("feature_id").isNotNull().cast("long"))


# ---------------------------------------------------------------------------
# pages_tag


class PagesTag(Workload):
    """Per-page lookups against in-memory structures shipped to every
    task: broadcast PIP join, page tiles, kNN and feature tiles over a
    seeded window of the synthetic pages table, and batches of seeded
    shortest-path queries against a contraction hierarchy.  The Arrow
    crossing and the numpy / Python kernels, no exchange of pages."""

    name = "pages_tag"
    main_op = "spatial_join"
    n_chunks = 4
    n_polys = 1500
    grid = 20
    n_pairs = 10_000

    def __init__(self, ctx):
        super().__init__(ctx)
        self.first_chunk = self.rng.randrange(POOL_CHUNKS - self.n_chunks + 1)
        self.n_pages = self.n_chunks * PAGE_CHUNK

    def setup(self):
        self.page_paths = page_chunks(self.ctx, self.first_chunk, self.n_chunks)
        self.pages = self.spark.read.parquet(*self.page_paths)
        self.geo = geocode_pages(self.pages).select("page_id", "url", "lat", "lon")
        self.polys = self.spark.read.parquet(polygons(self.ctx, self.n_polys))
        if getattr(self, "index", None) is not None:
            self.index.destroy()
        self.index = self.setup_step("spatial_join.index_build",
                                lambda: broadcast_polygon_index(self.polys))
        self.index_bytes = sum(a.nbytes for pack in self.index.value.values()
                               for a in pack)
        self.feats = geocode_ids(self.spark.range(KNN_FEATURES)
                                 .withColumnRenamed("id", "feature_id"), "feature_id")
        nodes, refs = FX.road_network_dfs(self.spark, self.grid)
        self.edges = self.setup_step(
            "routing.extract_edges",
            lambda: extract_edges(refs, nodes).localCheckpoint())
        self.pairs = self.spark.read.parquet(str(cached(
            self.ctx, f"pairs/n{self.n_pairs}_g{self.grid}_s{self.ctx.seed}",
            self.write_pairs)))

    def write_pairs(self, path: Path) -> None:
        import pandas as pd

        ends = np.random.default_rng(self.ctx.seed).integers(
            0, self.grid * self.grid, size=(self.n_pairs, 2))
        self.spark.createDataFrame(
            pd.DataFrame({"src": ends[:, 0], "dst": ends[:, 1]})
        ).repartition(self.ctx.cores).write.parquet(str(path))

    def expect(self):
        import pyarrow.parquet as pq

        urls = [u for p in self.page_paths
                for u in pq.read_table(p, columns=["url"]).column("url").to_pylist()]
        ids, lat, lon = O.parse_urls(urls)
        self.sample = sorted(self.rng.sample(ids.tolist(), SAMPLE))
        polygons = FX.all_polygons(self.n_polys)
        self.exp_join = O.join_expectation(ids, lat, lon, polygons, self.sample)
        self.exp_tiles = O.page_tiles_expectation(ids, lat, lon, ZOOMS, self.sample)
        fids = np.arange(KNN_FEATURES, dtype=np.int64)
        pos = {int(p): i for i, p in enumerate(ids)}
        idx = np.array([pos[p] for p in self.sample])
        best, d2 = O.knn1(lat[idx], lon[idx], fids, *FX.geocode_ints(fids))
        self.exp_knn = {"rows": self.n_pages,
                        "sample": list(zip(self.sample, best.tolist(), d2.tolist()))}
        self.sample_fids = sorted(self.rng.sample(
            [p["feature_id"] for p in polygons], 60))
        self.exp_ftiles = O.feature_tiles_expectation(polygons, ZOOMS, self.sample_fids)
        for exp in (self.exp_join, self.exp_tiles, self.exp_knn, self.exp_ftiles):
            exp["sample"] = canon(exp["sample"])
        edge_rows = self.edges.select("src", "dst", "weight").collect()
        self.n_edges = len(edge_rows)
        adj = O.adjacency(edge_rows)
        pairs = self.pairs.toPandas()
        self.route_srcs = sorted(self.rng.sample(sorted(set(pairs["src"].tolist())), 8))
        rows = []
        for src in self.route_srcs:
            dist = O.dijkstra(adj, src)
            rows.extend((src, int(t), dist.get(int(t), float("inf")))
                        for t in pairs.loc[pairs["src"] == src, "dst"].tolist())
        self.exp_routes = canon(rows)

    def check_routes(self, row) -> list[str]:
        out = []
        if row["n"] != self.n_pairs:
            out.append(f"routes: {row['n']} rows, expected {self.n_pairs}")
        got = canon(row["sample"])
        if len(got) != len(self.exp_routes):
            out.append(f"routes: {len(got)} sample rows, expected {len(self.exp_routes)}")
        for g, w in zip(got, self.exp_routes):
            # the engine rounds distances to 1e-6
            if g[:2] != w[:2] or not (g[2] == w[2] or abs(g[2] - w[2]) <= 1e-6 * max(1.0, w[2])):
                out.append(f"routes: got {g}, expected {w}")
                break
        return out

    def warmup(self):
        """Build the routing overlay (one timed ``contract`` sample), then
        warm up as every workload does."""
        def build():
            self.ch = contract(self.edges)
            return self.ch.edges.localCheckpoint()

        def check(ch_edges):
            self.overlay_edges = ch_edges.count()
            return [] if self.overlay_edges >= self.n_edges else [
                f"contract: {self.overlay_edges} overlay edges < {self.n_edges} edges"]

        self.measuring = True
        self.ch_edges = self.op("contract", build, check)
        self.measuring = False
        super().warmup()

    def iteration(self):
        self.last_join = self.op(
            "spatial_join",
            lambda: join_summary(spatial_join(self.geo, self.polys, how="left",
                                              index=self.index), self.sample),
            lambda r: self.check_summary("spatial_join", r, self.exp_join,
                                         [("m", self.exp_join["matched"])]))
        self.op("page_tiles",
                lambda: summarize(T.page_tiles(self.geo), "page_id", self.sample,
                                  ["page_id", "z", "x", "y"],
                                  sxy=F.col("x") + F.col("y")),
                lambda r: self.check_summary("page_tiles", r, self.exp_tiles,
                                             [("sxy", self.exp_tiles["sum_xy"])]))
        self.op("knn",
                lambda: summarize(knn_join(self.geo, self.feats, k=1), "page_id",
                                  self.sample, ["page_id", "feature_id", "dist2"]),
                lambda r: self.check_summary("knn", r, self.exp_knn))
        self.last_ftiles = self.op(
            "feature_tiles",
            lambda: summarize(T.feature_tiles(self.polys), "feature_id",
                              self.sample_fids, ["feature_id", "band", "z", "x", "y"]),
            lambda r: self.check_summary("feature_tiles", r, self.exp_ftiles))
        self.op("routes",
                lambda: summarize(ch_batch_routes(self.pairs, self.ch_edges), "src",
                                  self.route_srcs, ["src", "dst", "dist_r"]),
                self.check_routes)

    def ladder(self):
        """Noop-sink rungs: scan → +geocode → +identity mapInPandas (the
        Arrow round trip) → +the PIP kernel."""
        urls = self.pages.select("url")
        geo = geocode_pages(urls).select("page_id", "lat", "lon")
        self.rung("scan", urls)
        self.rung("geocode", geo)
        self.rung("arrow", geo.mapInPandas(_identity, "page_id long, lat long, lon long"))
        self.rung("kernel", spatial_join(geo, self.polys, how="left", index=self.index))

    @property
    def items(self) -> int:
        return self.n_pages

    def named_metrics(self) -> dict:
        return {"join_pages_per_s": self.throughput(),
                "page_tiles_s": self.op_median("page_tiles"),
                "feature_tiles_s": self.op_median("feature_tiles"),
                "knn_s": self.op_median("knn"),
                "routes_per_s": self.n_pairs / self.op_median("routes"),
                "contract_s": self.op_median("contract")}

    def layers(self, log) -> dict:
        scan, geo = self.rung_median("scan"), self.rung_median("geocode")
        arrow = self.rung_median("arrow")
        # every unmatched page yields exactly one NULL row
        unmatched = self.last_join["n"] - self.last_join["m"]
        return {
            **self.generic_layers(log),
            "scan.s": scan, "geocode.s": geo - scan, "arrow.s": arrow - geo,
            "spatial_join.kernel_s": self.rung_median("kernel") - arrow,
            "spatial_join.python_s": self.python_s(log, "spatial_join"),
            "spatial_join.match_ratio": (self.n_pages - unmatched) / self.n_pages,
            "spatial_join.index_bytes": float(self.index_bytes),
            "spatial_join.index_build_s": self.setup_median("spatial_join.index_build"),
            "tiles.pages_s": self.op_median("page_tiles"),
            "tiles.features_s": self.op_median("feature_tiles"),
            "tiles.rows_out": float(self.n_pages * len(ZOOMS) + self.last_ftiles["n"]),
            "knn.s": self.op_median("knn"),
            "knn.python_s": self.python_s(log, "knn"),
            "routing.contract_s": self.op_median("contract"),
            "routing.contract_rounds": float(self.ch.rounds),
            "routing.overlay_edges": float(self.overlay_edges),
            "routing.python_s": self.python_s(log, "routes"),
            "routing.us_per_route": self.op_median("routes") / self.n_pairs * 1e6,
        }


# ---------------------------------------------------------------------------
# warc_sink


def warc_record(headers: dict[str, str], body: bytes) -> bytes:
    head = "WARC/1.0\r\n" + "".join(f"{k}: {v}\r\n" for k, v in headers.items())
    return (head + f"Content-Length: {len(body)}\r\n\r\n").encode() + body + b"\r\n\r\n"


def warc_status(page_id: int) -> int:
    return 404 if page_id % 50 == 49 else 200


def write_warc(path: Path, first: int, n: int) -> None:
    """The synthetic pages [first, first + n) as a crawl in the Common
    Crawl layout: one gzip member per response record (every 50th a
    404), plus a ``.cdx`` side file of (offset, size) per member."""
    pages = FX.generate_pages_range(first, first + n)
    with open(path, "wb") as f, open(str(path) + ".cdx", "w") as cdx:
        off = 0
        for i, url, text in zip(range(first, first + n), pages["url"], pages["text"]):
            status = warc_status(i)
            html = page_html(text, i)
            http = (f"HTTP/1.1 {status} {'OK' if status == 200 else 'Not Found'}\r\n"
                    f"Content-Type: text/html; charset=utf-8\r\n"
                    f"Content-Length: {len(html)}\r\n\r\n").encode() + html
            rec = warc_record({
                "WARC-Type": "response", "WARC-Target-URI": url,
                "WARC-Date": f"2025-01-01T{i // 3600 % 24:02d}:"
                             f"{i // 60 % 60:02d}:{i % 60:02d}Z",
                "WARC-Record-ID": f"<urn:uuid:00000000-0000-0000-0001-{i:012d}>",
                "Content-Type": "application/http; msgtype=response"}, http)
            member = gzip.compress(rec, 1, mtime=0)
            f.write(member)
            cdx.write(f"{off} {len(member)}\n")
            off += len(member)


class WarcSink(Workload):
    """WARC → text → fingerprint → geocode → salted partitioned PIP join
    against a 10k-polygon disk layer → z12 tiles → parquet sink.  Decode,
    text and writes dominate; it is also the workload with a shuffle,
    hot city cells and per-task layer range reads."""

    name = "warc_sink"
    main_op = "warc_sink"
    n_records = 10_000
    n_polys = 10_000

    def __init__(self, ctx):
        super().__init__(ctx)
        # chunk-aligned, so a long series of seeds reuses a few WARC files
        self.first_id = self.rng.randrange(POOL_CHUNKS) * PAGE_CHUNK

    def setup(self):
        def build(tmp: Path) -> None:
            tmp.mkdir()
            write_warc(tmp / "crawl.warc.gz", self.first_id, self.n_records)

        self.warc = cached(self.ctx, f"warc/n{self.n_records}_at{self.first_id}",
                           build) / "crawl.warc.gz"
        polys = self.spark.read.parquet(polygons(self.ctx, self.n_polys))
        self.layer = str(self.ctx.scratch / "layer")
        self.setup_step("spatial_join.layer_build",
                   lambda: write_partitioned_layer(polys, self.layer))
        self.sink = str(self.ctx.scratch / "sink")

    def geo(self):
        pages = warc.read_warc_pages_text(self.spark, str(self.warc))
        return geocode_pages(pages.select("url", fingerprint_udf()("text").alias("fp")))

    def pipeline(self):
        geo = self.geo()
        matches = spatial_join_partitioned(geo, self.layer, how="left", salt=self.salt)
        tagged = geo.join(matches, "page_id", "left").withColumn(
            "rec", F.struct("page_id", "url", "fp", "feature_id"))
        return T.page_tiles(tagged, zooms=(12,), key="rec").select("rec.*", "x", "y")

    def expect(self):
        pages = FX.generate_pages_range(self.first_id, self.first_id + self.n_records)
        keep = [warc_status(i) == 200 for i in
                range(self.first_id, self.first_id + self.n_records)]
        pages = pages[keep]
        ids, lat, lon = O.parse_urls(pages["url"])
        self.sample = sorted(self.rng.sample(ids.tolist(), SAMPLE))
        exp = O.join_expectation(ids, lat, lon, FX.all_polygons(self.n_polys), self.sample)
        pos = {int(p): i for i, p in enumerate(ids)}
        texts = pages["text"].tolist()
        x, y = O.tile_xy(lat, lon, 12)
        self.exp = {"rows": exp["rows"], "sample": canon(
            (pid, fid, int(x[pos[pid]]), int(y[pos[pid]]), O.fingerprint(texts[pos[pid]]))
            for pid, fid in exp["sample"])}
        self.exp_salt = O.salt_factor(lat, lon, SALT_ZOOM)
        self.pages_in = len(ids)

    def warmup(self):
        """Pick the salt (one timed ``suggest_salt`` sample), then warm up
        as every workload does."""
        self.measuring = True
        self.salt = self.op("suggest_salt", lambda: suggest_salt(self.geo(), z=SALT_ZOOM),
                            lambda s: [] if s == self.exp_salt else
                            [f"suggest_salt: {s}, expected {self.exp_salt}"]) \
            or self.exp_salt
        self.measuring = False
        super().warmup()

    def iteration(self):
        self.op("warc_sink", lambda: IO.write_table(self.pipeline(), self.sink) or True,
                lambda _: [])

    def after_iteration(self):
        # the sink read back: untimed, checked as its own operation
        self.op("sink_readback",
                lambda: summarize(self.spark.read.parquet(self.sink), "page_id",
                                  self.sample, ["page_id", "feature_id", "x", "y", "fp"]),
                lambda r: self.check_summary("sink", r, self.exp), timed=False)

    def ladder(self):
        pages = warc.read_warc_pages_text(self.spark, str(self.warc))
        self.rung("warc_index", warc.warc_index(self.spark, str(self.warc)))
        self.rung("decode", pages)
        self.rung("fingerprint", pages.withColumn("fp", fingerprint_udf()("text")))
        self.rung("pipeline", self.pipeline())

    @property
    def items(self) -> int:
        return self.pages_in

    def named_metrics(self) -> dict:
        return {"ingest_pages_per_s": self.throughput(),
                "salt_s": self.op_median("suggest_salt")}

    def layers(self, log) -> dict:
        index, decode = self.rung_median("warc_index"), self.rung_median("decode")
        written = float(dir_bytes(Path(self.sink)))
        size = float(self.warc.stat().st_size)
        return {
            **self.generic_layers(log),
            "warc.index_s": index,
            "warc.decode_s": decode - index,
            "warc.mb_per_s": size / 1e6 / (decode - index) if decode > index else 0.0,
            "textops.fingerprint_s": self.rung_median("fingerprint") - decode,
            "io.write_s": self.op_median("warc_sink") - self.rung_median("pipeline"),
            "io.bytes_written": written,
            "io.bytes_per_input_byte": written / size,
            "spatial_join.index_bytes": float(dir_bytes(Path(self.layer))),
            "spatial_join.index_build_s": self.setup_median("spatial_join.layer_build"),
            "spatial_join.salt": float(self.salt),
            "spatial_join.salt_s": self.op_median("suggest_salt"),
        }


WORKLOADS = {w.name: w for w in (PagesTag, WarcSink)}
