"""kNN via supercell + halo cogrouping, with dense-group chunk splitting.

Re-expression of GeoWave's NNMapReduce
(analytics/mapreduce/.../nn/NNMapReduce.java:94-226) +
OrthodromicDistancePartitioner (analytics/api/.../partitioner/
AbstractPartitioner.java:80-132).  The reference partitions space into
cells of edge ≥ max_distance, duplicates entities into neighbor cells
("secondary" partitions) and runs an in-memory pairwise pass per
partition.  This engine keeps the same guarantee but picks the partition
size adaptively and replaces the pairwise pass with a sub-linear search:

1. **census** — one cheap count-per-cell aggregation sizes the
   *supercell* (a block of S×S distance-cells, the smallest S giving
   ≤ GROUP_TARGET occupied supercells) and finds pathologically hot
   supercells (the stats-driven analog of the reference's SplitsProvider).
2. **halo duplication** — each candidate lands in its supercell plus any
   adjacent supercell whose border lies within ``max_distance`` (≤4
   copies at corners, ~1+ε on average).  Each QUERY lands in exactly one
   supercell, whose candidate set then provably contains every point
   within ``max_distance`` — so the group-local top-k is the global
   top-k: ONE shuffle, no pair materialization, no global window.
3. **dense-group chunk split** — hot supercells split their queries into
   hash chunks with candidates replicated per chunk (salt-style skew
   handling, north rule): per-task work stays bounded no matter how hot
   one cluster is, and chunks partition queries so outputs still need no
   merge.
4. **fine-grid search** — per group, an expanding-ring search over a
   fine uniform grid (numpy, Arrow-batched) finds each query's k nearest
   in ~O(k) candidate touches instead of the reference's O(n) pairwise
   scan per partition.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

GROUP_TARGET = 256     # most occupied supercells the census accepts
DENSE_CHUNK = 60_000   # queries per task above which a hot group splits


def fine_grid_knn(
    qx: np.ndarray,
    qy: np.ndarray,
    qid: np.ndarray,
    cx: np.ndarray,
    cy: np.ndarray,
    cid: np.ndarray,
    k: int,
    r2: float,
    exclude_self: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """k nearest candidates per query via expanding-ring search on a fine
    uniform grid over the candidate extent — ~O(nq·k) instead of the
    quadratic all-pairs pass.  Exact: a query stops expanding only when
    its current k-th distance is provably ≤ any unexamined candidate's.

    Returns (query_row_index, candidate_row_index, d2), each query keeping
    at most k + (1 if exclude_self) rows (radius filter applied)."""
    nq, nc = len(qx), len(cx)
    keep_k = k + (1 if exclude_self else 0)
    minx, maxx = float(cx.min()), float(cx.max())
    miny, maxy = float(cy.min()), float(cy.max())
    # per-candidate rank in cid order: the secondary tie-break key, so the
    # ring-path merges honor the documented (d2, candidate_id) order on
    # exactly-equidistant candidates (the mega-bucket path gets this from
    # pre-sorting cand_idx by cid)
    cid_rank = np.empty(nc, dtype=np.int64)
    cid_rank[np.argsort(cid, kind="stable")] = np.arange(nc)

    # fine cell size floored at cs/256: the ring loop is then bounded at
    # ~258 levels no matter how tight the candidate extent is (a tiny
    # cluster with far-away ring queries would otherwise need ~extent/fs
    # levels to reach the grid — effectively an infinite loop)
    fs_floor = max(np.sqrt(r2) / 256.0, 1e-12)

    def build(g):
        fsx = max((maxx - minx) / g, fs_floor)
        fsy = max((maxy - miny) / g, fs_floor)
        gx_ = max(int(np.ceil((maxx - minx) / fsx)), 1)
        gy_ = max(int(np.ceil((maxy - miny) / fsy)), 1)
        g = max(gx_, gy_)
        fx = np.clip(((cx - minx) / fsx).astype(np.int64), 0, g - 1)
        fy = np.clip(((cy - miny) / fsy).astype(np.int64), 0, g - 1)
        key = fx * g + fy
        order = np.argsort(key, kind="stable")
        ukeys, first = np.unique(key[order], return_index=True)
        starts = np.concatenate([first, [nc]])
        return g, fsx, fsy, order, ukeys, starts

    g0 = int(np.clip(np.sqrt(nc / 4.0), 1, 2048))
    g, fsx, fsy, order, ukeys, starts = build(g0)
    occ = np.diff(starts)
    # clustered-in-one-bucket guard: refine once toward ~4/bucket occupancy
    if occ.max() > 64 * 4 and g < 8192:
        g2 = int(np.clip(g * np.sqrt(occ.max() / 4.0), g, 8192))
        g, fsx, fsy, order, ukeys, starts = build(g2)

    # Mega-bucket shortcut: queries whose 3x3 fine-cell neighborhood holds
    # a very large candidate mass (near-coincident clusters) would drag the
    # ring machinery through quadratic merge work.  For those, a blocked
    # argpartition top-k against the neighborhood is far cheaper; the
    # standard retire bound (kth <= minfs^2) then certifies exactness, and
    # any query it cannot certify falls through to the ring cascade.
    DENSE_LOCAL = 4096
    minfs0 = min(fsx, fsy)
    qfx0 = np.floor((qx - minx) / fsx).astype(np.int64)
    qfy0 = np.floor((qy - miny) / fsy).astype(np.int64)
    resolved = np.zeros(nq, dtype=bool)
    best_d = np.full((nq, keep_k), np.inf)
    best_i = np.full((nq, keep_k), -1, dtype=np.int64)
    qkey0 = qfx0 * g + qfy0
    # occupancy of each query's own bucket (cheap proxy for the 3x3 mass)
    occ0 = np.diff(starts)
    pos0 = np.minimum(np.searchsorted(ukeys, qkey0), len(ukeys) - 1)
    own_occ = np.where(ukeys[pos0] == qkey0, occ0[pos0], 0)
    mega_q = np.nonzero(own_occ > DENSE_LOCAL)[0]
    if len(mega_q):
        for bucket in np.unique(qkey0[mega_q]):
            qsel = mega_q[qkey0[mega_q] == bucket]
            bx, by = int(bucket) // g, int(bucket) % g
            cand_parts = []
            for dx in (-1, 0, 1):
                for dy in (-1, 0, 1):
                    tx, ty = bx + dx, by + dy
                    if 0 <= tx < g and 0 <= ty < g:
                        kk = tx * g + ty
                        i = np.searchsorted(ukeys, kk)
                        if i < len(ukeys) and ukeys[i] == kk:
                            cand_parts.append(order[starts[i] : starts[i + 1]])
            cand_idx = np.concatenate(cand_parts)
            cand_idx = cand_idx[np.argsort(cid[cand_idx], kind="stable")]
            QB = 256
            PAD = 64
            for s0 in range(0, len(qsel), QB):
                qs = qsel[s0 : s0 + QB]
                d2b = (qx[qs][:, None] - cx[cand_idx][None, :]) ** 2 + (
                    qy[qs][:, None] - cy[cand_idx][None, :]
                ) ** 2
                take = min(keep_k + PAD, d2b.shape[1])
                part = np.argpartition(d2b, kth=take - 1, axis=1)[:, :take]
                dd = np.take_along_axis(d2b, part, axis=1)
                # candidates pre-sorted by cid, so (d2, column index) order
                # == the oracle (d2, cid) tie-break
                sel = np.lexsort((part, dd), axis=1)[:, :keep_k]
                dd_k = np.take_along_axis(dd, sel, axis=1)
                ii_k = cand_idx[np.take_along_axis(part, sel, axis=1)]
                ok = (dd_k[:, keep_k - 1] <= minfs0 * minfs0) | (
                    minfs0 * minfs0 > r2
                )
                best_d[qs[ok]] = dd_k[ok]
                best_i[qs[ok]] = ii_k[ok]
                resolved[qs[ok]] = True

    # Multi-resolution cascade: search RING_CAP rings on the (refined)
    # fine grid, then restart still-unfinished queries from scratch on an
    # 8x coarser grid, and so on down to a single cell.  A grid sized for
    # a dense cluster is hopeless for sparse-region queries (hundreds of
    # near-empty rings to reach k neighbors); each restart is exact
    # because every grid's retire condition is self-contained.
    RING_CAP = 12
    cascade = [g]
    while cascade[-1] > 1:
        cascade.append(max(1, cascade[-1] // 8))
    remaining = np.nonzero(~resolved)[0]
    for gi, gg in enumerate(cascade):
        if not len(remaining):
            break
        if gi > 0:  # rebuild at the coarser resolution; discard partials
            g, fsx, fsy, order, ukeys, starts = build(gg)
            best_d[remaining] = np.inf
            best_i[remaining] = -1
        minfs = min(fsx, fsy)
        qfx = np.floor((qx - minx) / fsx).astype(np.int64)
        qfy = np.floor((qy - miny) / fsy).astype(np.int64)
        active = remaining
        max_level = int(np.ceil(np.sqrt(r2) / minfs)) + 2
        last = gi == len(cascade) - 1
        cap = max_level if last else min(RING_CAP, max_level)
        for L in range(0, cap + 1):
            if not len(active):
                break
            if L == 0:
                offs = np.zeros((1, 2), dtype=np.int64)
            else:
                side = np.arange(-L, L + 1, dtype=np.int64)
                top = np.stack([side, np.full_like(side, -L)], axis=1)
                bot = np.stack([side, np.full_like(side, L)], axis=1)
                mid = side[1:-1]
                lef = np.stack([np.full_like(mid, -L), mid], axis=1)
                rig = np.stack([np.full_like(mid, L), mid], axis=1)
                offs = np.concatenate([top, bot, lef, rig])
            # all (active query x ring offset) cells in one vectorized probe
            tfx = qfx[active][:, None] + offs[None, :, 0]
            tfy = qfy[active][:, None] + offs[None, :, 1]
            valid = (tfx >= 0) & (tfx < g) & (tfy >= 0) & (tfy < g)
            va = np.broadcast_to(active[:, None], tfx.shape)[valid]
            tkey = tfx[valid] * g + tfy[valid]
            if len(tkey):
                pos = np.searchsorted(ukeys, tkey)
                pos_c = np.minimum(pos, len(ukeys) - 1)
                hit = ukeys[pos_c] == tkey
                if hit.any():
                    rows = va[hit]
                    b = starts[pos_c[hit]]
                    e = starts[pos_c[hit] + 1]
                    cnt = e - b
                    # expand + merge in bounded slices: one giant bucket
                    # (coincident cluster) would otherwise materialize
                    # hundreds of millions of pair rows in one go.
                    # Incremental merges are exact: each slice's top
                    # keep_k folds into the running best arrays.
                    csum = np.concatenate(([0], np.cumsum(cnt)))
                    MERGE_CHUNK = 4_000_000
                    cuts = [0]
                    while csum[-1] - csum[cuts[-1]] > MERGE_CHUNK:
                        cuts.append(int(np.searchsorted(csum, csum[cuts[-1]] + MERGE_CHUNK)))
                        if cuts[-1] == cuts[-2]:
                            cuts[-1] += 1  # single bucket bigger than chunk
                    cuts.append(len(cnt))
                    for s0, s1 in zip(cuts[:-1], cuts[1:]):
                        if s0 >= s1:
                            continue
                        cnt_s = cnt[s0:s1]
                        tot = int(cnt_s.sum())
                        if not tot:
                            continue
                        qrep = np.repeat(rows[s0:s1], cnt_s)
                        st2 = np.concatenate(([0], np.cumsum(cnt_s)[:-1]))
                        off = np.arange(tot, dtype=np.int64) - np.repeat(st2, cnt_s)
                        cidx = order[np.repeat(b[s0:s1], cnt_s) + off]
                        d2 = (qx[qrep] - cx[cidx]) ** 2 + (qy[qrep] - cy[cidx]) ** 2
                        inr = d2 <= r2
                        qrep, cidx, d2 = qrep[inr], cidx[inr], d2[inr]
                        if not len(qrep):
                            continue
                        o = np.lexsort((cid_rank[cidx], d2, qrep))
                        qs_, ds_, cs_ = qrep[o], d2[o], cidx[o]
                        new_grp = np.concatenate(([True], qs_[1:] != qs_[:-1]))
                        grp_start = np.maximum.accumulate(np.where(new_grp, np.arange(len(qs_)), 0))
                        rank = np.arange(len(qs_)) - grp_start
                        m = rank < keep_k
                        qs_, ds_, cs_, rank = qs_[m], ds_[m], cs_[m], rank[m]
                        aff = np.unique(qs_)
                        width = 2 * keep_k
                        tmp_d = np.full((len(aff), width), np.inf)
                        tmp_i = np.full((len(aff), width), -1, dtype=np.int64)
                        tmp_d[:, :keep_k] = best_d[aff]
                        tmp_i[:, :keep_k] = best_i[aff]
                        qpos = np.searchsorted(aff, qs_)
                        tmp_d[qpos, keep_k + rank] = ds_
                        tmp_i[qpos, keep_k + rank] = cs_
                        # per-row (d2, cid) order — empty slots (tmp_i == -1)
                        # carry d2 == inf so their rank key is irrelevant
                        tmp_r = np.where(tmp_i >= 0, cid_rank[np.maximum(tmp_i, 0)], nc)
                        sel = np.lexsort((tmp_r, tmp_d), axis=1)[:, :keep_k]
                        best_d[aff] = np.take_along_axis(tmp_d, sel, axis=1)
                        best_i[aff] = np.take_along_axis(tmp_i, sel, axis=1)
            # retire: any unexamined candidate sits in a cell at Chebyshev
            # distance > L => point distance >= L*minfs (query inside its cell)
            floor_next = (L * minfs) ** 2
            kth = best_d[active, keep_k - 1]
            done = (kth <= floor_next) | (floor_next > r2)
            active = active[~done]
        remaining = active

    qrep = np.repeat(np.arange(nq), keep_k)
    dflat = best_d.ravel()
    iflat = best_i.ravel()
    keep = (iflat >= 0) & (dflat <= r2)
    if exclude_self:
        keep &= qid[qrep] != cid[np.maximum(iflat, 0)]
    return qrep[keep], iflat[keep], dflat[keep]


def knn_join(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    max_distance: float,
    query_id: str,
    candidate_id: str,
    q_lon: str = "lon",
    q_lat: str = "lat",
    c_lon: str = "lon",
    c_lat: str = "lat",
    include_distance: bool = False,
    exclude_self: bool = False,
    dense_cell_threshold: int | None = None,
) -> DataFrame:
    """For each query point: its ≤k nearest candidates within max_distance.

    Deterministic tie-break: (squared distance, candidate_id).  Output
    columns: query_id, candidate_id, rank[, dist2].
    """
    if max_distance <= 0:
        raise ValueError("max_distance must be positive")
    if query_id == candidate_id:
        raise ValueError(
            f"knn_join: query_id and candidate_id are both {query_id!r}; "
            "the output needs two id columns, so rename one side's id"
        )
    cs = float(max_distance)
    r2 = cs * cs
    spark = queries.sparkSession
    chunk_limit = dense_cell_threshold or DENSE_CHUNK
    auto_chunk = dense_cell_threshold is None

    cand = candidates.select(
        F.col(candidate_id).alias("_cid"),
        F.col(c_lon).alias("_clon"),
        F.col(c_lat).alias("_clat"),
    )
    qry = queries.select(
        F.col(query_id).alias("_qid"),
        F.col(q_lon).alias("_qlon"),
        F.col(q_lat).alias("_qlat"),
    )

    # census: (a) total + distinct occupied distance-cells → supercell
    # factor S giving ≤ GROUP_TARGET groups; (b) hot supercells
    # (> chunk_limit candidates) → query-chunk split factors.
    # Both aggregations return tiny results — no per-cell collect.
    gx = F.floor((F.col("_clon") + F.lit(180.0)) / F.lit(cs))
    gy = F.floor((F.col("_clat") + F.lit(90.0)) / F.lit(cs))
    # probe occupied supercell counts at several factors in ONE pass and
    # pick the smallest S giving ≤ GROUP_TARGET groups — few enough that
    # per-group overhead amortizes, small enough that chunking still
    # bounds task size
    factors = [1, 4, 16, 64, 256, 1024]
    stats = cand.agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.approx_count_distinct(
                F.floor(gx / F.lit(s)) * F.lit(1 << 32) + F.floor(gy / F.lit(s))
            ).alias(f"g{s}")
            for s in factors
        ],
    ).collect()[0]
    if not stats["n"]:
        empty = qry.sparkSession.createDataFrame(
            [], f"{query_id} {dict(qry.dtypes)['_qid']}, {candidate_id} {dict(cand.dtypes)['_cid']}, rank int, dist2 double"
        )
        return empty if include_distance else empty.drop("dist2")
    S = factors[-1]
    for s in factors:
        if stats[f"g{s}"] <= GROUP_TARGET:
            S = s
            break
    if auto_chunk:
        # Data-driven (NOT parallelism-driven) chunk cap.  Hot-supercell
        # splitting replicates the cell's candidates ×⌈n/limit⌉, so the
        # cap directly prices total work: Σ n_i²/limit extra shuffle rows
        # and grid builds.  Round 2 scaled the cap with the core count,
        # which made the 32-core run replicate ~4× more rows than the
        # 8-core run on identical input (profiled: 6.6M vs 1.7M candidate
        # rows) — the measured anti-scaling was the job DOING more work at
        # more cores, not failing to parallelize it.  A fixed
        # ~INPUT/48-target keeps the dataflow identical at every
        # parallelism (the north rule's two-cluster-size comparison then
        # measures the engine, not the plan drift) while still splitting a
        # pathological cluster into enough chunks to occupy a wave of
        # cores.  Explicit dense_cell_threshold disables this (tests pin
        # exact split behavior with it).
        chunk_limit = max(4_000, min(chunk_limit, int(np.ceil(stats["n"] / 48))))
    hot_rows = (
        cand.groupBy(
            F.floor((F.col("_clon") + F.lit(180.0)) / F.lit(cs * S)).alias("sx"),
            F.floor((F.col("_clat") + F.lit(90.0)) / F.lit(cs * S)).alias("sy"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > chunk_limit)
        .collect()
    )
    hot = {
        (int(r["sx"]), int(r["sy"])): int(np.ceil(r["n"] / chunk_limit))
        for r in hot_rows
    }
    span = cs * S  # supercell edge in degrees

    # ---- assignment passes, pure Catalyst (no Python exchange) ----------
    # Supercell ids are floor arithmetic; the candidate halo (neighbor
    # supercells within cs of the point) is two exploded per-axis offset
    # arrays (array_distinct keeps ≤2 values/axis, so ≤4 copies/point);
    # hot-supercell chunk factors come from a broadcast hash join against
    # the (tiny) hot list collected above.  Round 1 ran these as two
    # mapInPandas passes — the arithmetic is identical, but keeping it in
    # whole-stage codegen removes two Arrow Python exchanges from the
    # slowest-scaling operator.
    hot_df = (
        spark.createDataFrame(
            [(sx, sy, m) for (sx, sy), m in hot.items()], "_sx bigint, _sy bigint, _m int"
        )
        if hot
        else None
    )

    qh = qry.withColumn(
        "_sx", F.floor((F.col("_qlon") + F.lit(180.0)) / F.lit(span)).cast("bigint")
    ).withColumn(
        "_sy", F.floor((F.col("_qlat") + F.lit(90.0)) / F.lit(span)).cast("bigint")
    )
    if hot_df is not None:
        qh = (
            qh.join(F.broadcast(hot_df), ["_sx", "_sy"], "left")
            .withColumn(
                "_chunk",
                F.pmod(F.xxhash64("_qid"), F.coalesce(F.col("_m"), F.lit(1))).cast("bigint"),
            )
            .drop("_m")
        )
    else:
        qh = qh.withColumn("_chunk", F.lit(0).cast("bigint"))

    def _axis_offsets(frac: F.Column, edge: float) -> F.Column:
        return F.array_distinct(
            F.array(
                F.lit(0),
                F.when(frac < F.lit(edge), F.lit(-1)).otherwise(F.lit(0)),
                F.when(frac > F.lit(span - edge), F.lit(1)).otherwise(F.lit(0)),
            )
        )

    ch = (
        cand.withColumn(
            "_sx0", F.floor((F.col("_clon") + F.lit(180.0)) / F.lit(span)).cast("bigint")
        )
        .withColumn(
            "_sy0", F.floor((F.col("_clat") + F.lit(90.0)) / F.lit(span)).cast("bigint")
        )
        .withColumn("_fx", F.col("_clon") + F.lit(180.0) - F.col("_sx0") * F.lit(span))
        .withColumn("_fy", F.col("_clat") + F.lit(90.0) - F.col("_sy0") * F.lit(span))
        .withColumn("_ox", F.explode(_axis_offsets(F.col("_fx"), cs)))
        .withColumn("_oy", F.explode(_axis_offsets(F.col("_fy"), cs)))
        .withColumn("_sx", (F.col("_sx0") + F.col("_ox")).cast("bigint"))
        .withColumn("_sy", (F.col("_sy0") + F.col("_oy")).cast("bigint"))
        .drop("_sx0", "_sy0", "_fx", "_fy", "_ox", "_oy")
    )
    if hot_df is not None:
        ch = (
            ch.join(F.broadcast(hot_df), ["_sx", "_sy"], "left")
            .withColumn(
                "_chunk0",
                F.explode(F.sequence(F.lit(0), F.coalesce(F.col("_m"), F.lit(1)) - 1)),
            )
            .withColumn("_chunk", F.col("_chunk0").cast("bigint"))
            .drop("_m", "_chunk0")
        )
    else:
        ch = ch.withColumn("_chunk", F.lit(0).cast("bigint"))

    out_schema = (
        f"{query_id} " + dict(qry.dtypes)["_qid"] + f", {candidate_id} "
        + dict(cand.dtypes)["_cid"] + ", rank int, dist2 double"
    )

    def _group_knn(qdf: pd.DataFrame, cdf: pd.DataFrame) -> pd.DataFrame:
        if not len(qdf) or not len(cdf):
            return pd.DataFrame(
                {query_id: [], candidate_id: [], "rank": pd.Series([], dtype="int32"),
                 "dist2": pd.Series([], dtype="float64")}
            )
        qid = qdf["_qid"].to_numpy()
        cid_ = cdf["_cid"].to_numpy()
        qrow, crow, d2 = fine_grid_knn(
            qdf["_qlon"].to_numpy(np.float64),
            qdf["_qlat"].to_numpy(np.float64),
            qid,
            cdf["_clon"].to_numpy(np.float64),
            cdf["_clat"].to_numpy(np.float64),
            cid_,
            k,
            r2,
            exclude_self,
        )
        # rank per query (fine_grid_knn output may hold k+1 rows pre
        # self-exclusion; cap at k after ranking by (d2, cid)).  String ids
        # are factorized to sort-order-preserving int codes first — int
        # lexsort is ~10x faster than object lexsort at millions of pairs.
        _, ccodes = np.unique(cid_, return_inverse=True)
        o = np.lexsort((ccodes[crow], d2, qrow))
        qs_, cs_, ds_ = qrow[o], crow[o], d2[o]
        new_grp = np.concatenate(([True], qs_[1:] != qs_[:-1]))
        grp_start = np.maximum.accumulate(np.where(new_grp, np.arange(len(qs_)), 0))
        rank = (np.arange(len(qs_)) - grp_start + 1).astype(np.int32)
        m = rank <= k
        return pd.DataFrame(
            {
                query_id: qid[qs_[m]],
                candidate_id: cid_[cs_[m]],
                "rank": rank[m],
                "dist2": ds_[m],
            }
        )

    # Pin the cogroup exchange at the configured shuffle width: AQE
    # coalesces exchanges by BYTE size, and the kernel's Python cost per
    # byte is huge (profiled: 128-partition plan coalesced to 40, leaving
    # a third of the cores idle through the whole kernel stage).  An
    # explicit repartition on the group keys is AQE-exempt, satisfies the
    # cogroup's clustered-distribution requirement on both sides (no
    # second exchange), and keeps skewed groups spread across enough
    # tasks for load balancing.
    parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    qh = qh.repartition(parts, "_sx", "_sy", "_chunk")
    ch = ch.repartition(parts, "_sx", "_sy", "_chunk")
    out = (
        qh.groupBy("_sx", "_sy", "_chunk")
        .cogroup(ch.groupBy("_sx", "_sy", "_chunk"))
        .applyInPandas(_group_knn, out_schema)
    )
    if not include_distance:
        out = out.drop("dist2")
    return out
