"""Hilbert vs Morton range-scan pruning (round 7, VERDICT r6 next-#4):
realize the measured clustering win (8.1 vs 14.3 runs/window) in an
actual scan plan.

Setup: N seed-42 uniform points, written TWICE as parquet sorted by the
level-L Hilbert id and by the level-L Morton id (same rows, same
row-group size — pyarrow writer so row-group boundaries are exact).
For one query bbox, each table is scanned through
``range_set_filter`` over its curve's range cover
(``hilbert_range_cover`` / the Morton twin), i.e. an OR-of-BETWEEN
literal predicate pushed to the parquet reader.

Reported, per curve:
- ranges in the (coalesced) cover
- row groups whose [min, max] id stats intersect the range set — what
  footer-stats pruning keeps (computed from the pyarrow metadata, the
  same decision the reader makes)
- rows inside those row groups (the over-read bound)
- Spark wall seconds for the filtered count at local[CPUS]

A better space-filling curve == the same bbox rows packed into FEWER
contiguous id runs == fewer row groups touched. Usage:
python bench/bench_hilbert_scan.py [n_points] [cpus] [level]
"""

from __future__ import annotations

import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N = int(sys.argv[1]) if len(sys.argv) > 1 else 4_000_000
CPUS = int(sys.argv[2]) if len(sys.argv) > 2 else 16
LEVEL = int(sys.argv[3]) if len(sys.argv) > 3 else 10
ROW_GROUP = 65_536
BOX = (-30.0, 10.0, 40.0, 55.0)  # the gate query's bbox
MAX_RANGES = 64


def _touched(path: str, id_col: str, ranges) -> "tuple[int, int, int]":
    md = pq.ParquetFile(path).metadata
    idx = md.schema.to_arrow_schema().get_field_index(id_col)
    touched = rows = 0
    for g in range(md.num_row_groups):
        col = md.row_group(g).column(idx)
        lo, hi = col.statistics.min, col.statistics.max
        if any(r_lo <= hi and lo <= r_hi for r_lo, r_hi in ranges):
            touched += 1
            rows += md.row_group(g).num_rows
    return md.num_row_groups, touched, rows


def main() -> None:
    from pyspark.sql import functions as F

    from harvester_fgp_spark.geo import cells as _cells
    from harvester_fgp_spark.operators import geo as G
    from harvester_fgp_spark.session import build_session

    rng = np.random.default_rng(42)
    lon = rng.uniform(-180.0, 180.0, N)
    lat = rng.uniform(-90.0, 90.0, N)
    x, y = _cells.lonlat_to_xy(lon, lat, LEVEL)
    ids = {
        "hilbert": G._hilbert_ids_np(x, y, LEVEL),
        "morton": _cells.interleave_xy(x, y),
    }
    covers = {
        "hilbert": G.hilbert_range_cover(*BOX, level=LEVEL, max_ranges=MAX_RANGES),
        "morton": G.morton_range_cover(*BOX, level=LEVEL, max_ranges=MAX_RANGES),
    }
    exact_runs = {
        "hilbert": len(G.hilbert_range_cover(*BOX, level=LEVEL)),
        "morton": len(G.morton_range_cover(*BOX, level=LEVEL)),
    }
    base = "/tmp/bench_hilbert_scan"
    os.makedirs(base, exist_ok=True)
    paths = {}
    for name, idv in ids.items():
        order = np.argsort(idv, kind="stable")
        tbl = pa.table(
            {
                "pid": pa.array(np.arange(N, dtype=np.int64)[order]),
                "lon": pa.array(lon[order]),
                "lat": pa.array(lat[order]),
                "sid": pa.array(idv[order]),
            }
        )
        paths[name] = f"{base}/{name}.parquet"
        pq.write_table(tbl, paths[name], row_group_size=ROW_GROUP)

    out = {"n": N, "level": LEVEL, "row_group": ROW_GROUP, "cpus": CPUS}
    spark = build_session(
        master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    try:
        for name in ("hilbert", "morton"):
            groups, touched, rows = _touched(paths[name], "sid", covers[name])
            df = spark.read.parquet(paths[name])
            pred = G.range_set_filter(F.col("sid"), covers[name])
            # residual exact filter restores bbox-cell semantics on the
            # coalesced over-read (both curves use their own ranges; the
            # residual is identical, so the delta is pruning only)
            n = 1 << LEVEL
            qx = F.floor((F.col("lon") + 180.0) / 360.0 * float(n))
            qy = F.floor((90.0 - F.col("lat")) / 180.0 * float(n))
            gx0, gy1 = _cells.lonlat_to_xy(
                np.array([BOX[0]]), np.array([BOX[1]]), LEVEL
            )
            gx1, gy0 = _cells.lonlat_to_xy(
                np.array([BOX[2]]), np.array([BOX[3]]), LEVEL
            )
            resid = (
                (qx >= int(gx0[0]))
                & (qx <= int(gx1[0]))
                & (qy >= int(gy0[0]))
                & (qy <= int(gy1[0]))
            )
            # all variants aggregate the same payload column so bytes
            # read differ only by the sid filter column + pruning
            q = df.filter(pred & resid).agg(F.sum("pid").alias("s"))
            q.collect()  # warm (page cache + codegen)
            cnt = df.filter(pred & resid).count()
            t0 = time.time()
            q.collect()
            dt = time.time() - t0
            # full-scan reference on the same table (no range prune)
            fq = df.filter(resid).agg(F.sum("pid").alias("s"))
            fq.collect()
            t0 = time.time()
            fq.collect()
            full = time.time() - t0
            out[name] = {
                "exact_runs": exact_runs[name],
                "ranges": len(covers[name]),
                "row_groups_total": groups,
                "row_groups_touched": touched,
                "rows_in_touched": rows,
                "bbox_rows": cnt,
                "scan_sec": round(dt, 3),
                "full_scan_sec": round(full, 3),
            }
    finally:
        spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
