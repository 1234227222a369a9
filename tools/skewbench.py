"""Skew evidence: salted vs unsalted partitioned spatial join
(``spatial_join_partitioned`` over one prebuilt layer) on the
deliberately hot fixture (70% of pages inside 5 city cells), with REAL
per-task time histograms from the Spark event log.

What it proves (round-4 verdict item 9):
- ``suggest_salt`` derives the factor from the measured cell histogram
  (max/p95 share) at the layer's coarse zoom, recorded here with its
  inputs — computed, not guessed;
- with salt=1 the join stage is dominated by straggler tasks holding
  the hot city cells (max/median task time ratio >> 1);
- with the suggested salt the same stage's task-time distribution
  flattens and the stage finishes faster.

Usage: python tools/skewbench.py [--pages 2000000] [--polys 20000]
       [--cores 8] [--reps 2]
Writes BENCH/skewbench.json; the ANALYSIS.md section quotes it.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _task_hist(event_dir: Path, t_lo: float, t_hi: float) -> dict:
    """Per-task durations of the heaviest stage submitted in [t_lo, t_hi]
    (epoch ms), from the event-log JSON."""
    stages: dict[int, dict] = {}
    files = [f for f in event_dir.rglob("*")
             if f.is_file() and not f.name.startswith(".")]
    for f in files:
        try:
            text = f.read_text()
        except UnicodeDecodeError:      # status/codec sidecar files
            continue
        for line in text.splitlines():
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                info = ev["Task Info"]
                d = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                st = stages.setdefault(sid, {"tasks": [], "launch": None})
                st["tasks"].append(d)
                if st["launch"] is None or info["Launch Time"] < st["launch"]:
                    st["launch"] = info["Launch Time"]
    window = {sid: st for sid, st in stages.items()
              if st["launch"] is not None and t_lo <= st["launch"] <= t_hi}
    if not window:
        raise RuntimeError("no stages found in the run window")
    sid, st = max(window.items(), key=lambda kv: sum(kv[1]["tasks"]))
    ts = sorted(st["tasks"])
    n = len(ts)

    def pct(p):
        return round(ts[min(n - 1, int(p * n))], 3)

    med = pct(0.5)
    return {
        "stage_id": sid,
        "n_tasks": n,
        "task_sec": {"p50": med, "p90": pct(0.9), "p99": pct(0.99),
                     "max": round(ts[-1], 3)},
        "sum_task_sec": round(sum(ts), 3),
        "straggler_ratio_max_over_median": round(ts[-1] / max(med, 1e-9), 2),
        "top5_task_sec": [round(x, 3) for x in ts[-5:]],
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=2_000_000)
    ap.add_argument("--polys", type=int, default=20_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--reps", type=int, default=2)
    ap.add_argument("--hot-frac", type=float, default=0.0,
                    help="concentrate this fraction of pages into ONE "
                         "zoom-9 cell at city 0 (the deliberately hot "
                         "cell scenario); 0 keeps the fixture's natural "
                         "70%%-in-5-cities skew")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from osm_spark import fixtures as FX
    from osm_spark.operators.geocode import geocode_pages
    from osm_spark.operators.spatial_join import (_read_layer_meta,
                                                 spatial_join_partitioned,
                                                 suggest_salt, with_cell,
                                                 write_partitioned_layer)
    from osm_spark.session import get_spark

    event_dir = Path(tempfile.mkdtemp(prefix="skewbench_events_"))
    spark = get_spark(
        "skewbench", cores=args.cores, shuffle_partitions=args.cores * 2,
        extra_conf={"spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": event_dir.as_uri()})
    base = REPO / "data"
    pages_path = base / f"bench_pages_{args.pages}"
    if not (pages_path / "_SUCCESS").exists():
        FX.pages_df_distributed(spark, args.pages,
                                max(args.pages // 50_000, 8)).write.mode(
            "overwrite").parquet(str(pages_path))
    polys_path = base / f"bench_polys_{args.polys}"
    if not (polys_path / "_SUCCESS").exists():
        FX.polygons_df(spark, args.polys).repartition(64).write.mode(
            "overwrite").parquet(str(polys_path))
    geo = geocode_pages(spark.read.parquet(str(pages_path))).select(
        "page_id", "lat", "lon")
    polys = spark.read.parquet(str(polys_path))
    if args.hot_frac > 0:
        # deterministic: pages with pmod(page_id, 1000) < 1000*frac move
        # into a ±6e5-fp box around city 0 — well inside one zoom-9 cell
        c0lat, c0lon = FX.CITY_CENTERS[0]
        r0 = 600_000
        hot = F.pmod(F.col("page_id"), F.lit(1000)) \
            < F.lit(int(1000 * args.hot_frac))
        jl = F.pmod(F.col("page_id") * F.lit(2654435761), F.lit(2 * r0))
        jo = F.pmod(F.col("page_id") * F.lit(40503), F.lit(2 * r0))
        geo = geo.select(
            "page_id",
            F.when(hot, F.lit(c0lat - r0) + jl).otherwise(
                F.col("lat")).alias("lat"),
            F.when(hot, F.lit(c0lon - r0) + jo).otherwise(
                F.col("lon")).alias("lon"))

    # one-time layer build (untimed); the salt applies at its coarse zoom
    layer = str(base / f"layer_{args.polys}_z12")
    write_partitioned_layer(polys, layer)
    zc = _read_layer_meta(layer)["zc"]

    # salt derivation, with its inputs on record
    hist_row = with_cell(geo, zc).groupBy("cx", "cy").count().agg(
        F.max("count").alias("mx"),
        F.percentile_approx("count", 0.95).alias("p95")).first()
    salt = suggest_salt(geo, z=zc)
    derivation = {"cell_zoom": zc, "max_cell_pages": int(hist_row.mx),
                  "p95_cell_pages": int(hist_row.p95),
                  "ratio": round(hist_row.mx / hist_row.p95, 2),
                  "suggested_salt": salt}

    spatial_join_partitioned(geo.limit(2000), layer).count()   # warm-up
    runs = {}
    for name, s in (("unsalted", 1), ("salted", salt)):
        best = None
        for _ in range(args.reps):
            t0 = time.time()
            n = spatial_join_partitioned(geo, layer, salt=s).count()
            el = time.time() - t0
            if best is None or el < best["wall_sec"]:
                best = {"salt": s, "wall_sec": round(el, 3), "rows": n,
                        "_t0": t0 * 1000, "_t1": time.time() * 1000}
        runs[name] = best
    spark.stop()                       # flush the event log
    time.sleep(2)

    for name, r in runs.items():
        r.update(_task_hist(event_dir, r.pop("_t0"), r.pop("_t1")))
    out = {
        "config": {"pages": args.pages, "polys": args.polys,
                   "cores": args.cores, "reps": args.reps,
                   "hot_frac": args.hot_frac},
        "salt_derivation": derivation,
        "runs": runs,
        "speedup_salted": round(
            runs["unsalted"]["wall_sec"] / runs["salted"]["wall_sec"], 2),
        "match_sets_equal": runs["unsalted"]["rows"] == runs["salted"]["rows"],
    }
    tag = f"_hot{args.hot_frac:g}" if args.hot_frac else ""
    (REPO / "BENCH" / f"skewbench{tag}.json").write_text(
        json.dumps(out, indent=2))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
