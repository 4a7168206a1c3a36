"""kNN join in one fixed plan: a candidate-count cell map, then one join.

Spark translation of the reference's nearest-neighbor grid search
(alg/gdalgrid.cpp:905-982 in the reference): a quadtree bbox query whose
radius doubles until a hit, followed by a min-distance scan of candidates.
Here the 'quadtree' is the uniform mercator cell grid, and the radius is
found before the join instead of by repeated rounds: one
``groupBy(cell).count()`` of the candidates and the distinct query cells go
to the driver, which gives every query cell the smallest Chebyshev block
radius r whose (2r+1)^2 cells hold >= k candidates and lists the non-empty
candidate cells within R = ceil(sqrt(2) * (r + 1)). One join of that cell
map, one join on the candidate cells and one window top-k follow.

Correctness bound: the grid is exactly uniform in mercator meters. The k
candidates of block r are within sqrt(2) * (r + 1) cells of any point of
the query cell, and any candidate outside disk R is at least R full cells
away, i.e. strictly farther. So the disk holds the exact k nearest (ties
by candidate id included) -- the guarantee the reference gets from its
radius-doubling search, known up front.  Distances are planar mercator
meters, so cell offsets do not wrap at the antimeridian: a wrapped
neighbour cell is a whole world away in this metric.

Scale: the driver sees one row per non-empty cell, never a point. The cell
map has one row per (query cell, candidate cell) pair it lists, ~25 per
query cell on evenly spread points at the auto zoom. The pair join keeps
the uniform grid's skew: a hot cell pairs every query in reach with all of
its candidates.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window, functions as F

from ..functions import cells as C


def _runs(lo, n):
    """The concatenated ranges [lo[i], lo[i] + n[i])."""
    import numpy as np

    return np.repeat(lo - np.cumsum(n) + n, n) + np.arange(n.sum())


def _block_spans(qx, qy, rad, ux, key, span, budget: int = 1 << 22):
    """Chunks of (query index, lo, hi): per query cell and per non-empty
    candidate column in its Chebyshev block of radius ``rad``, the slice of
    the (x, y)-sorted cell ``key``s inside the block (~``budget`` columns a
    chunk). The work is per column in reach, never per pair of cells."""
    import numpy as np

    ia = np.searchsorted(ux, qx - rad)
    n = np.searchsorted(ux, qx + rad, side="right") - ia
    ends = np.cumsum(n)
    start = 0
    while start < len(n):
        base = ends[start - 1] if start else 0
        stop = max(start + 1, int(np.searchsorted(ends, base + budget, "right")))
        qi = np.repeat(np.arange(start, stop), n[start:stop])
        col_key = ux[_runs(ia[start:stop], n[start:stop])] * span
        lo = np.searchsorted(key, col_key + np.maximum(qy[qi] - rad[qi], 0))
        hi = np.searchsorted(key, col_key + np.minimum(qy[qi] + rad[qi], span - 1),
                             side="right")
        yield qi, lo, hi
        start = stop


def _cell_map(qcells, counts, k: int):
    """For each query cell (``_qtx``, ``_qty``), the non-empty candidate
    cells (``_jtx``, ``_jty``) that can hold its k nearest candidates (the
    bound is in the module docstring). r is found by doubling, then
    bisection, on block counts, so the driver's work grows with the cells
    in reach, not with (query cells) x (candidate cells)."""
    import numpy as np
    import pandas as pd

    qx = qcells["_qtx"].to_numpy(np.int64)
    qy = qcells["_qty"].to_numpy(np.int64)
    order = np.lexsort((counts["_jty"].to_numpy(), counts["_jtx"].to_numpy()))
    cx = counts["_jtx"].to_numpy(np.int64)[order]
    cy = counts["_jty"].to_numpy(np.int64)[order]
    csum = np.concatenate([[0], np.cumsum(counts["count"].to_numpy(np.int64)[order])])
    # a block of radius span covers every cell
    span = int(np.concatenate([cx, cy, qx, qy]).max(initial=0)) + 1
    key, ux = cx * span + cy, np.unique(cx)
    # fewer than k candidates in all: the block that holds them all
    need = min(k, csum[-1])
    # smallest r with >= need candidates in the block: lo_r fails, hi_r
    # holds (-1: no radius has held yet, so double)
    lo_r = np.full(len(qx), -1, np.int64)
    hi_r = np.full(len(qx), -1, np.int64)
    while (todo := np.nonzero((hi_r < 0) | (hi_r - lo_r > 1))[0]).size:
        rad = np.where(hi_r[todo] < 0, 2 * lo_r[todo] + 2, (lo_r[todo] + hi_r[todo]) // 2)
        got = np.zeros(len(todo))
        for qi, lo, hi in _block_spans(qx[todo], qy[todo], rad, ux, key, span):
            got += np.bincount(qi, weights=csum[hi] - csum[lo], minlength=len(todo))
        ok = got >= need
        hi_r[todo[ok]] = rad[ok]
        lo_r[todo[~ok]] = rad[~ok]
    reach = np.ceil(np.sqrt(2.0) * (hi_r + 1)).astype(np.int64)
    qis, cis = [np.zeros(0, np.int64)], [np.zeros(0, np.int64)]
    for qi, lo, hi in _block_spans(qx, qy, reach, ux, key, span):
        qis.append(np.repeat(qi, hi - lo))
        cis.append(_runs(lo, hi - lo))
    qi, ci = np.concatenate(qis), np.concatenate(cis)
    return pd.DataFrame({"_qtx": qx[qi], "_qty": qy[qi],
                         "_jtx": cx[ci], "_jty": cy[ci]})


def _knn_broadcast(pts: DataFrame, candidates, k: int) -> DataFrame:
    """Map-only kNN against a driver-collected (bounded) candidate frame
    (a pandas DataFrame with _cid/_cx/_cy, already length-verified by the
    caller): numpy distance matrix per Arrow batch, argpartition top-k,
    ties broken by candidate id exactly like the cell-map join / brute-force
    oracle."""
    import numpy as np
    import pandas as pd

    cpdf = candidates.sort_values("_cid", ignore_index=True)
    cx = cpdf["_cx"].to_numpy()
    cy = cpdf["_cy"].to_numpy()
    cid = cpdf["_cid"].to_numpy()
    kk = min(k, len(cid))

    def gen(batches):
        for b in batches:
            if len(b) == 0:
                continue
            # chunk so the distance matrix stays ~5e7 doubles
            step = max(1, int(5e7 // max(len(cid), 1)))
            for lo in range(0, len(b), step):
                sub = b.iloc[lo : lo + step]
                qx = sub["_qx"].to_numpy()[:, None]
                qy = sub["_qy"].to_numpy()[:, None]
                d2 = (qx - cx[None, :]) ** 2 + (qy - cy[None, :]) ** 2
                if kk < len(cid):
                    part = np.argpartition(d2, kk - 1, axis=1)[:, :kk]
                else:
                    part = np.broadcast_to(np.arange(len(cid)),
                                           (len(sub), len(cid))).copy()
                rows = np.arange(len(sub))[:, None]
                dd = np.sqrt(d2[rows, part])
                # candidates were id-sorted on collect, so sorting the
                # (dist, index) pair reproduces the (dist, cid) tie-break
                pairkeys = np.rec.fromarrays([dd, part], names="d,i")
                ord_ = np.argsort(pairkeys, axis=1, order=("d", "i"))
                sel = part[rows, ord_]
                dsel = dd[rows, ord_]
                out = pd.DataFrame({
                    "_qid": np.repeat(sub["_qid"].to_numpy(), kk),
                    "_cid": cid[sel].ravel(),
                    "_dist": dsel.ravel(),
                    "_rank": np.tile(np.arange(1, kk + 1), len(sub)),
                })
                yield out

    schema_id = pts.schema["_qid"].dataType.simpleString()
    cid_t = cpdf["_cid"].dtype
    cid_ddl = "string" if cid_t == object else "bigint"
    return pts.mapInPandas(
        gen,
        schema=f"_qid {schema_id}, _cid {cid_ddl}, _dist double, _rank int",
    )


def knn_join(points: DataFrame, candidates: DataFrame, k: int,
             zoom: int | None = None,
             point_id: str = "pid", cand_id: str = "sid",
             plon: str = "lon", plat: str = "lat",
             clon: str = "lon", clat: str = "lat",
             broadcast_cap: int | None = 100_000) -> DataFrame:
    """For each point, its k nearest candidates by planar mercator distance.

    Returns (point_id, cand_id, dist_m, rank) with rank in [1, k]; ties
    broken by candidate id (deterministic, matches the brute-force oracle).

    ``zoom=None`` picks the grid so cells average ~max(4, k) candidates:
    dense grids list many near-empty cells per query cell, coarse grids
    over-gather — the same density trade the reference's quadtree leaf
    size makes (alg/gdalgrid.cpp quadtree bucket sizing).
    """
    q_xy = [F.col(point_id).alias("_qid"),
            C.mercator_x(plon).alias("_qx"), C.mercator_y(plat).alias("_qy")]
    c_xy = [F.col(cand_id).alias("_cid"),
            C.mercator_x(clon).alias("_cx"), C.mercator_y(clat).alias("_cy")]
    if broadcast_cap:
        # Dimension-table fast path probe: collect AT MOST cap+1 candidate
        # rows (the limit pushes down, so an over-cap table ends the scan
        # early). If the table fits, the probe IS the broadcast payload, and
        # the length check means no count estimate can route an over-cap
        # table into a driver collect.
        probe = candidates.select(*c_xy).limit(broadcast_cap + 1).toPandas()
        if len(probe) <= broadcast_cap:
            # a MAP-ONLY Arrow kernel over the broadcast candidates: zero
            # shuffles (the small-dataset branch the reference takes before
            # building a quadtree; alg/gdalgrid.cpp GDALGridNearestNeighbor
            # direct scan). The cell-map join below is the both-sides-large
            # path.
            return _named(_knn_broadcast(points.select(*q_xy), probe, k),
                          point_id, cand_id)
    if zoom is None:
        # a bounded-time approximate count: it only tunes the grid density,
        # and an underestimate just coarsens the grid (still correct)
        n_cand = int(candidates.select(cand_id).rdd.countApprox(
            timeout=2000, confidence=0.90))
        target = max(4, 2 * k)
        zoom = max(0, min(12, int(math.log(max(n_cand, 1) / target, 4))))

    z = str(zoom)
    pts = points.select(*q_xy, C.tile_x(plon, z).alias("_qtx"),
                        C.tile_y_tms(plat, z).alias("_qty"))
    cand = candidates.select(*c_xy, C.tile_x(clon, z).alias("_jtx"),
                             C.tile_y_tms(clat, z).alias("_jty"))
    counts = cand.groupBy("_jtx", "_jty").count().toPandas()
    qcells = pts.select("_qtx", "_qty").distinct().toPandas()
    # no broadcast hint: the cell map grows with the query cells, and a
    # forced broadcast of 0.3-1.2M rows made the whole join 1.5-1.8x slower
    cmap = points.sparkSession.createDataFrame(
        _cell_map(qcells, counts, k),
        schema="_qtx bigint, _qty bigint, _jtx bigint, _jty bigint")
    exploded = pts.join(cmap, ["_qtx", "_qty"])
    pairs = exploded.join(cand, ["_jtx", "_jty"]).select(
        "_qid", "_cid",
        F.sqrt(
            (F.col("_qx") - F.col("_cx")) ** 2
            + (F.col("_qy") - F.col("_cy")) ** 2
        ).alias("_dist"),
    )
    w = Window.partitionBy("_qid").orderBy(F.col("_dist").asc(), F.col("_cid").asc())
    ranked = pairs.withColumn("_rank", F.row_number().over(w))
    return _named(ranked.where(F.col("_rank") <= k), point_id, cand_id)


def _named(res: DataFrame, point_id: str, cand_id: str) -> DataFrame:
    return res.select(
        F.col("_qid").alias(point_id),
        F.col("_cid").alias(cand_id),
        F.col("_dist").alias("dist_m"),
        F.col("_rank").alias("rank"),
    )
