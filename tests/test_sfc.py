"""Index-math unit tests (FIXTURES.md F5).

Mirrors the reference's index test strategy (SURVEY.md §5):
TieredSFCIndexStrategyTest-style tier/duplication expectations,
Hilbert/Z-order round trips, dateline splitting, geohash known vectors.
"""

import numpy as np
import pytest

from geowave_spark.sfc import (
    DEFAULT_MAX_DUPLICATES,
    LATITUDE,
    LONGITUDE,
    TieredStrategy,
    geohash_encode,
    hilbert_to_xy,
    split_dateline,
    temporal_bin_year,
    truncate_to_tier,
    xy_to_hilbert,
    xy_to_zorder,
    zorder_to_xy,
)

rng = np.random.default_rng(42)


class TestHilbert:
    def test_known_order1(self):
        # order-1 Hilbert visits (0,0),(0,1),(1,1),(1,0) in d order
        x = np.array([0, 0, 1, 1], dtype=np.uint64)
        y = np.array([0, 1, 1, 0], dtype=np.uint64)
        d = xy_to_hilbert(x, y, 1)
        assert d.tolist() == [0, 1, 2, 3]

    @pytest.mark.parametrize("bits", [2, 3, 8, 16, 31])
    def test_round_trip(self, bits):
        n = 5000
        hi = (1 << bits) - 1
        x = rng.integers(0, hi + 1, n).astype(np.uint64)
        y = rng.integers(0, hi + 1, n).astype(np.uint64)
        d = xy_to_hilbert(x, y, bits)
        x2, y2 = hilbert_to_xy(d, bits)
        np.testing.assert_array_equal(x, x2)
        np.testing.assert_array_equal(y, y2)

    def test_bijective_small(self):
        # every cell of the order-4 grid maps to a unique d covering 0..255
        g = np.arange(16, dtype=np.uint64)
        gx, gy = np.meshgrid(g, g)
        d = xy_to_hilbert(gx.ravel(), gy.ravel(), 4)
        assert sorted(d.tolist()) == list(range(256))

    def test_locality_adjacent(self):
        # consecutive d values are adjacent grid cells (defining property)
        d = np.arange(1 << 12, dtype=np.uint64)
        x, y = hilbert_to_xy(d, 6)
        step = np.abs(np.diff(x.astype(np.int64))) + np.abs(np.diff(y.astype(np.int64)))
        assert (step == 1).all()

    @pytest.mark.parametrize("bits", [4, 16, 31])
    def test_prefix_property(self, bits):
        """Tier re-projection == bit truncation (TieredSpatialJoin.reprojectToTier analog)."""
        n = 2000
        hi = (1 << bits) - 1
        x = rng.integers(0, hi + 1, n).astype(np.uint64)
        y = rng.integers(0, hi + 1, n).astype(np.uint64)
        d_fine = xy_to_hilbert(x, y, bits)
        for coarser in [bits - 1, max(1, bits // 2)]:
            sh = np.uint64(bits - coarser)
            d_coarse = xy_to_hilbert(x >> sh, y >> sh, coarser)
            np.testing.assert_array_equal(
                truncate_to_tier(d_fine, bits, coarser), d_coarse
            )


class TestZOrder:
    @pytest.mark.parametrize("bits", [1, 8, 31])
    def test_round_trip(self, bits):
        n = 5000
        hi = (1 << bits) - 1
        x = rng.integers(0, hi + 1, n).astype(np.uint64)
        y = rng.integers(0, hi + 1, n).astype(np.uint64)
        z = xy_to_zorder(x, y, bits)
        x2, y2 = zorder_to_xy(z, bits)
        np.testing.assert_array_equal(x, x2)
        np.testing.assert_array_equal(y, y2)

    def test_interleave_known(self):
        z = xy_to_zorder(np.array([0b11], dtype=np.uint64), np.array([0b10], dtype=np.uint64), 2)
        # y1 x1 y0 x0 = 1 1 0 1 = 13
        assert z[0] == 0b1101


class TestTiered:
    strat = TieredStrategy(max_bits=31)

    def test_point_lands_top_tier(self):
        """A point always gets exactly one id in the top tier
        (TieredSFCIndexStrategy.java:345-407 fast path)."""
        row, tier, cell = self.strat.envelope_insertion_ids(
            np.array([10.0]), np.array([20.0]), np.array([10.0]), np.array([20.0])
        )
        assert len(row) == 1 and tier[0] == 31

    def test_hemisphere_duplicates(self):
        """Analog of TieredSFCIndexStrategyTest:160-190 — an envelope
        spanning half the domain in one dim and epsilon in the other gets 2
        ids one tier down; a quarter-domain square gets 1 id at tier 2... etc."""
        # envelope covering x in [-180, 0), tiny y: at tier 1 spans 1 x-cell
        # if aligned; offset so it straddles the tier-31 midpoint of a tier-1 cell
        row, tier, cell = self.strat.envelope_insertion_ids(
            np.array([-170.0]), np.array([1.0]), np.array([-100.0]), np.array([1.0]),
            max_duplicates=DEFAULT_MAX_DUPLICATES,
        )
        # extent 70° of 360° → at tier 2 (cell=90°) spans ≤2 cells → ≤4 dups
        assert tier[0] >= 2 and len(row) <= DEFAULT_MAX_DUPLICATES

    def test_tier_monotone_and_bounded(self):
        n = 500
        cx = rng.uniform(-170, 170, n)
        cy = rng.uniform(-80, 80, n)
        w = 10 ** rng.uniform(-6, 1.2, n)
        row, tier, cell = self.strat.envelope_insertion_ids(
            cx - w, cy - w, cx + w, cy + w, max_duplicates=4
        )
        counts = np.bincount(row, minlength=n)
        assert (counts >= 1).all() and (counts <= 4).all()
        # a strictly smaller envelope never gets a coarser tier
        row2, tier2, _ = self.strat.envelope_insertion_ids(
            cx - w / 4, cy - w / 4, cx + w / 4, cy + w / 4, max_duplicates=4
        )
        t_by_row = np.full(n, -1); t_by_row[row] = tier
        t2_by_row = np.full(n, -1); t2_by_row[row2] = tier2
        assert (t2_by_row >= t_by_row).all()

    def test_insertion_cells_cover_envelope(self):
        """Every point inside the envelope maps (at the chosen tier) to one
        of the emitted cells — no false negatives."""
        n = 200
        cx = rng.uniform(-170, 170, n)
        cy = rng.uniform(-80, 80, n)
        w = 10 ** rng.uniform(-4, 0.5, n)
        row, tier, cell = self.strat.envelope_insertion_ids(cx - w, cy - w, cx + w, cy + w, 80)
        for i in rng.choice(n, 25, replace=False):
            m = row == i
            t = int(tier[m][0])
            px = rng.uniform(cx[i] - w[i], cx[i] + w[i], 20)
            py = rng.uniform(cy[i] - w[i], cy[i] + w[i], 20)
            ix = self.strat.dim_x.to_bins(px, t)
            iy = self.strat.dim_y.to_bins(py, t)
            pc = xy_to_hilbert(ix, iy, t) if t > 0 else np.zeros(20, dtype=np.uint64)
            assert np.isin(pc.astype(np.int64), cell[m]).all()

    def test_decompose_bbox_covers(self):
        tier, ranges = self.strat.decompose_bbox(-10, -10, 10, 10)
        assert ranges
        # random points in the bbox fall inside some range at that tier
        px = rng.uniform(-10, 10, 200)
        py = rng.uniform(-10, 10, 200)
        ix = self.strat.dim_x.to_bins(px, tier)
        iy = self.strat.dim_y.to_bins(py, tier)
        ids = xy_to_hilbert(ix, iy, tier).astype(np.int64)
        lo = np.array([r[0] for r in ranges])
        hi = np.array([r[1] for r in ranges])
        covered = ((ids[:, None] >= lo[None, :]) & (ids[:, None] <= hi[None, :])).any(axis=1)
        assert covered.all()

    def test_decompose_range_cap(self):
        _, ranges = self.strat.decompose_bbox(-170, -80, 170, 80, max_ranges=16)
        assert len(ranges) <= 16

    def test_dateline_wrapping_envelope(self):
        """minx > maxx wraps the antimeridian: cells from both sides, no
        false negatives for points in either part (LongitudeDefinition)."""
        row, tier, cell = self.strat.envelope_insertion_ids(
            np.array([175.0, 0.0]), np.array([10.0, 10.0]),
            np.array([-175.0, 1.0]), np.array([11.0, 11.0]),
            max_duplicates=8,
        )
        assert set(row.tolist()) == {0, 1}
        m = row == 0
        # points on both sides of the dateline must map into emitted cells
        for px in [176.0, 179.9, -179.9, -176.0]:
            py = 10.5
            covered = False
            for t in np.unique(tier[m]):
                tm = m & (tier == t)
                ix = self.strat.dim_x.to_bins(np.array([px]), int(t))
                iy = self.strat.dim_y.to_bins(np.array([py]), int(t))
                pc = xy_to_hilbert(ix, iy, int(t)).astype(np.int64)[0] if t > 0 else 0
                covered |= bool(np.isin(pc, cell[tm]))
            assert covered, px
        # no duplicate (row, tier, cell) triples
        trip = set(zip(row.tolist(), tier.tolist(), cell.tolist()))
        assert len(trip) == len(row)


class TestDimensions:
    def test_dateline_split(self):
        (a_lo, a_hi), (b_lo, b_hi) = split_dateline(np.array([170.0, 0.0]), np.array([-170.0, 10.0]))
        assert a_lo[0] == 170 and a_hi[0] == 180 and b_lo[0] == -180 and b_hi[0] == -170
        assert a_lo[1] == 0 and a_hi[1] == 10 and np.isnan(b_lo[1])

    def test_normalize_clamp(self):
        assert LONGITUDE.to_bins(np.array([180.0]), 4)[0] == 15
        assert LATITUDE.to_bins(np.array([-95.0]), 4)[0] == 0

    def test_temporal_bin_year(self):
        ms = np.array(
            [np.datetime64("2020-01-01T00:00:00", "ms").astype(np.int64),
             np.datetime64("2020-07-02T00:00:00", "ms").astype(np.int64)]
        )
        yid, pos = temporal_bin_year(ms)
        assert yid.tolist() == [2020, 2020]
        assert pos[0] == 0.0 and 0.49 < pos[1] < 0.51


class TestGeohash:
    def test_known_vectors(self):
        # public geohash reference points
        gh = geohash_encode(np.array([-5.6]), np.array([42.6]), 5)
        assert gh[0] == "ezs42"
        gh = geohash_encode(np.array([13.361389]), np.array([38.115556]), 8)
        assert gh[0].startswith("sqc8b49r"[:8])

    def test_prefix_consistency(self):
        lon = rng.uniform(-180, 180, 200)
        lat = rng.uniform(-90, 90, 200)
        g7 = geohash_encode(lon, lat, 7)
        g4 = geohash_encode(lon, lat, 4)
        assert all(a.startswith(b) for a, b in zip(g7, g4))


class TestXZOrder:
    """XZ-ordering for extents (XZOrderSFC.java semantics)."""

    def test_superset_guarantee_and_selectivity(self):
        from geowave_spark.sfc import xz_encode, xz_query_ranges

        n = 5000
        minx = rng.uniform(0, 0.95, n)
        miny = rng.uniform(0, 0.95, n)
        maxx = np.minimum(minx + rng.uniform(1e-6, 0.3, n) ** 2, 1.0)
        maxy = np.minimum(miny + rng.uniform(1e-6, 0.3, n) ** 2, 1.0)
        codes = xz_encode(minx, miny, maxx, maxy)
        assert (codes >= 0).all()
        q = (0.2, 0.55, 0.4, 0.8)
        ranges = xz_query_ranges(*q)
        inr = np.zeros(n, bool)
        for lo, hi in ranges:
            inr |= (codes >= lo) & (codes <= hi)
        truth = ~((minx > q[2]) | (maxx < q[0]) | (miny > q[3]) | (maxy < q[1]))
        assert not (truth & ~inr).any()  # never loses an intersecting extent
        assert inr.sum() < n  # and actually prunes

    def test_point_like_extents_get_deep_levels(self):
        from geowave_spark.sfc import xz_encode

        tiny = xz_encode(np.array([0.5]), np.array([0.5]), np.array([0.5 + 1e-9]), np.array([0.5 + 1e-9]))
        huge = xz_encode(np.array([0.0]), np.array([0.0]), np.array([0.9]), np.array([0.9]))
        assert tiny[0] > huge[0]  # deeper prefix ⇒ larger sequence code


class TestS2:
    """S2 cell ids (S2BinningHelper analog, sfc/s2.py)."""

    def test_faces_hierarchy_structure(self):
        from geowave_spark.sfc.s2 import s2_cell_id, s2_parent

        lon = np.array([0.0, 90.0, 0.0, 180.0, -90.0, 0.0])
        lat = np.array([0.0, 0.0, 89.99, 0.0, 0.0, -89.99])
        faces = (s2_cell_id(lon, lat, 0).astype(np.uint64) >> np.uint64(61)).tolist()
        assert faces == [0, 1, 2, 3, 4, 5]
        ln = rng.uniform(-180, 180, 2000)
        lt = rng.uniform(-89, 89, 2000)
        leaf = s2_cell_id(ln, lt, 30)
        for lvl in (4, 12, 25):
            assert (s2_cell_id(ln, lt, lvl) == s2_parent(leaf, lvl)).all()
        v = s2_cell_id(ln, lt, 12).astype(np.uint64)
        lsb = np.uint64(1) << np.uint64(2 * (30 - 12))
        assert ((v & (lsb - np.uint64(1))) == 0).all() and ((v & lsb) == lsb).all()

    def test_locality(self):
        from geowave_spark.sfc.s2 import s2_cell_id

        ln = rng.uniform(-170, 170, 500)
        lt = rng.uniform(-80, 80, 500)
        a = s2_cell_id(ln, lt, 10)
        b = s2_cell_id(ln + 1e-9, lt + 1e-9, 10)
        assert (a == b).mean() > 0.99

    def test_round_trip_ij(self):
        """Encode (kIJtoPos) and decode (kPosToIJ) round-trip exactly —
        fails if either table is not the true inverse of the other (the
        round-1 bug shipped kPosToIJ in the encode slot)."""
        from geowave_spark.sfc.s2 import s2_cell_to_face_ij, s2_from_face_ij

        r = np.random.default_rng(7)
        face = r.integers(0, 6, 3000)
        i = r.integers(0, 1 << 30, 3000)
        j = r.integers(0, 1 << 30, 3000)
        f2, i2, j2 = s2_cell_to_face_ij(s2_from_face_ij(face, i, j))
        assert (f2 == face).all() and (i2 == i).all() and (j2 == j).all()

    def test_curve_continuity(self):
        """Consecutive curve positions are grid-adjacent cells on every
        face (the defining Hilbert property; the wrong table jumped ~384
        cells between neighbors)."""
        from geowave_spark.sfc.s2 import s2_cell_to_face_ij, s2_from_face_pos

        level = 7
        n = 4**level
        for face in range(6):
            cells = s2_from_face_pos(
                np.full(n, face), np.arange(n, dtype=np.uint64), level
            )
            _, i, j = s2_cell_to_face_ij(cells)
            ci, cj = i >> (30 - level), j >> (30 - level)
            step = np.abs(np.diff(ci)) + np.abs(np.diff(cj))
            assert (step == 1).all()

    def test_known_official_ids(self):
        """Structural ids that match the official scheme bit-for-bit:
        face cells are (2f+1)<<60 and the first leaf on face 0 is id 1."""
        from geowave_spark.sfc.s2 import s2_cell_id, s2_from_face_ij

        centers = [(0.0, 0.0), (90.0, 0.0), (0.0, 89.999999), (180.0, 0.0),
                   (-90.0, 0.0), (0.0, -89.999999)]
        for f, (ln, lt) in enumerate(centers):
            got = s2_cell_id(np.array([ln]), np.array([lt]), 0).astype(np.uint64)[0]
            assert got == np.uint64((2 * f + 1) << 60)
        first_leaf = s2_from_face_ij(np.array([0]), np.array([0]), np.array([0]))
        assert first_leaf[0] == 1


class TestSpatialTemporal:
    """3-D spatial-temporal tiered index (sfc/spatial_temporal.py) —
    mirrors TieredSFCIndexStrategyTest.java time-range expectations:
    an instant point gets exactly one insertion id in one year bin; a
    range crossing a year boundary gets ids in each overlapped bin."""

    def test_morton_round_trip(self):
        from geowave_spark.sfc import morton_to_xyz, xyz_to_morton

        r = np.random.default_rng(3)
        ix, iy, iz = (r.integers(0, 1 << 20, 5000).astype(np.uint64) for _ in range(3))
        mx, my, mz = morton_to_xyz(xyz_to_morton(ix, iy, iz))
        assert (mx == ix).all() and (my == iy).all() and (mz == iz).all()

    def test_point_key_hierarchy(self):
        from geowave_spark.sfc import SpatialTemporalStrategy, xyz_to_morton

        s = SpatialTemporalStrategy()
        r = np.random.default_rng(5)
        lon = r.uniform(-180, 180, 1000)
        lat = r.uniform(-90, 90, 1000)
        ms = r.integers(1_500_000_000_000, 1_800_000_000_000, 1000)
        _, cell = s.point_keys(lon, lat, ms)
        for t in (4, 10, 17):
            coarse = s.cell_at_tier(cell, t)
            # recompute at tier t directly from bins
            from geowave_spark.sfc.dimensions import temporal_bin_year

            _, pos = temporal_bin_year(ms)
            want = xyz_to_morton(
                s.dim_x.to_bins(lon, t), s.dim_y.to_bins(lat, t), s.dim_t.to_bins(pos, t)
            ).astype(np.int64)
            assert (coarse == want).all()

    def test_instant_point_single_id(self):
        from geowave_spark.sfc import SpatialTemporalStrategy

        s = SpatialTemporalStrategy()
        lon = np.array([12.5, -77.0])
        lat = np.array([41.9, 38.9])
        ms = np.array(
            [np.datetime64("2024-06-01T12:00:00").astype("datetime64[ms]").astype(np.int64),
             np.datetime64("2023-02-03T00:00:00").astype("datetime64[ms]").astype(np.int64)]
        )
        row, year, tier, cell = s.envelope_insertion_ids(lon, lat, lon, lat, ms, ms)
        assert len(row) == 2 and (tier == s.max_bits).all()
        assert year.tolist() == [2024, 2023]
        _, want = s.point_keys(lon, lat, ms)
        assert (cell == want).all()

    def test_year_boundary_splits_bins(self):
        from geowave_spark.sfc import SpatialTemporalStrategy

        s = SpatialTemporalStrategy()
        t0 = np.array([np.datetime64("2023-11-15").astype("datetime64[ms]").astype(np.int64)])
        t1 = np.array([np.datetime64("2025-02-01").astype("datetime64[ms]").astype(np.int64)])
        lon = np.array([10.0])
        lat = np.array([10.0])
        row, year, tier, cell = s.envelope_insertion_ids(
            lon, lat, lon + 0.001, lat + 0.001, t0, t1
        )
        assert set(year.tolist()) == {2023, 2024, 2025}
        # the middle (full-year) bin spans the whole time dim → coarse tier
        mid = year == 2024
        assert tier[mid].max() < s.max_bits

    def test_duplicates_bound(self):
        from geowave_spark.sfc import SpatialTemporalStrategy

        s = SpatialTemporalStrategy()
        r = np.random.default_rng(9)
        n = 300
        minx = r.uniform(-170, 150, n)
        miny = r.uniform(-80, 60, n)
        w = 10 ** r.uniform(-3, 1, n)
        t0 = r.integers(1_600_000_000_000, 1_700_000_000_000, n)
        dt = (10.0 ** r.uniform(3, 9, n)).astype(np.int64)
        row, year, tier, cell = s.envelope_insertion_ids(
            minx, miny, minx + w, miny + w, t0, t0 + dt, max_duplicates=8
        )
        # ≤ 8 cells per (row, year) part
        key = row * 10_000 + year
        _, counts = np.unique(key, return_counts=True)
        assert counts.max() <= 8

    def test_decompose_superset_and_ranges_disjoint(self):
        from geowave_spark.sfc import SpatialTemporalStrategy

        s = SpatialTemporalStrategy()
        r = np.random.default_rng(11)
        lon = r.uniform(-180, 180, 4000)
        lat = r.uniform(-90, 90, 4000)
        ms = r.integers(
            np.datetime64("2023-01-01").astype("datetime64[ms]").astype(np.int64),
            np.datetime64("2025-01-01").astype("datetime64[ms]").astype(np.int64),
            4000,
        )
        year, cell = s.point_keys(lon, lat, ms)
        box = (-60.0, -30.0, 40.0, 30.0)
        t0 = int(np.datetime64("2023-10-01").astype("datetime64[ms]").astype(np.int64))
        t1 = int(np.datetime64("2024-03-15").astype("datetime64[ms]").astype(np.int64))
        parts = s.decompose(*box, t0, t1, max_ranges=128)
        assert {p[0] for p in parts} == {2023, 2024}
        hit = np.zeros(len(lon), dtype=bool)
        for y, t, ranges in parts:
            d = 3 * (s.max_bits - t)
            assert all(ranges[i][1] < ranges[i + 1][0] for i in range(len(ranges) - 1))
            m = year == y
            for lo, hi in ranges:
                hit |= m & (cell >= (lo << d)) & (cell <= (((hi + 1) << d) - 1))
        inside = (
            (lon >= box[0]) & (lon <= box[2]) & (lat >= box[1]) & (lat <= box[3])
            & (ms >= t0) & (ms < t1)
        )
        assert hit[inside].all()
        # pruning is selective: well under 10x the true fraction
        assert hit.mean() < max(10 * inside.mean(), 0.05)


class TestHexBinning:
    """Aperture-7 icosahedral hex binning (sfc/h3hex.py — the H3 scheme;
    SpatialBinningTypeTest.java-style property tests)."""

    def test_total_deterministic_function(self):
        from geowave_spark.sfc import hex_cell_id

        r = np.random.default_rng(17)
        lon = np.concatenate([r.uniform(-180, 180, 3000), [0.0, 180.0, -180.0, 0.0, 0.0]])
        lat = np.concatenate([r.uniform(-90, 90, 3000), [0.0, 0.0, 0.0, 90.0, -90.0]])
        a = hex_cell_id(lon, lat, 5)
        b = hex_cell_id(lon, lat, 5)
        assert (a == b).all()  # deterministic
        res, face, qi, ri = __import__("geowave_spark.sfc.h3hex", fromlist=["hex_cell_unpack"]).hex_cell_unpack(a)
        assert (res == 5).all() and (face >= 0).all() and (face < 20).all()

    def test_locality(self):
        from geowave_spark.sfc import hex_cell_id

        r = np.random.default_rng(19)
        lon = r.uniform(-170, 170, 2000)
        lat = r.uniform(-80, 80, 2000)
        a = hex_cell_id(lon, lat, 6)
        b = hex_cell_id(lon + 1e-9, lat + 1e-9, 6)
        assert (a == b).mean() > 0.99

    def test_aperture7_scaling(self):
        """One resolution step multiplies distinct occupied cells by ~7
        for dense uniform data (the aperture)."""
        from geowave_spark.sfc import hex_cell_id

        r = np.random.default_rng(23)
        # dense sample on a face interior so boundary effects are small
        lon = r.uniform(-30, 30, 200_000)
        lat = r.uniform(-20, 20, 200_000)
        n3 = len(np.unique(hex_cell_id(lon, lat, 3)))
        n4 = len(np.unique(hex_cell_id(lon, lat, 4)))
        ratio = n4 / n3
        assert 5.0 < ratio < 9.0, ratio

    def test_resolution_separates_neighbors(self):
        """Nearby-but-distinct points share coarse bins and split at fine
        resolutions."""
        from geowave_spark.sfc import hex_cell_id

        lon = np.array([10.0, 10.4])
        lat = np.array([20.0, 20.3])
        assert hex_cell_id(lon, lat, 1)[0] == hex_cell_id(lon, lat, 1)[1]
        assert hex_cell_id(lon, lat, 8)[0] != hex_cell_id(lon, lat, 8)[1]

    def test_cell_sizes_bounded(self):
        """Occupied-cell counts at a resolution are within the expected
        order of magnitude of the sphere-wide cell budget (~20·(area/size²)
        cells): uniform global points at res 2 land in hundreds of cells."""
        from geowave_spark.sfc import hex_cell_id

        r = np.random.default_rng(29)
        lon = r.uniform(-180, 180, 100_000)
        lat = np.degrees(np.arcsin(r.uniform(-1, 1, 100_000)))  # uniform on sphere
        n = len(np.unique(hex_cell_id(lon, lat, 2)))
        assert 200 < n < 5000, n

    def test_scheme_tag_namespace_guard(self):
        """r4 misuse guard: every engine hex id carries the bit-63 tag
        (negative int64) — disjoint from official h3lib cell indexes
        (reserved bit 0, mode 0001 ⇒ always positive) — and unpack
        raises loudly on untagged ids instead of silently decoding a
        foreign id space."""
        import pytest

        from geowave_spark.sfc import hex_cell_id
        from geowave_spark.sfc.h3hex import assert_engine_hex_ids, hex_cell_unpack

        r = np.random.default_rng(31)
        lon = r.uniform(-180, 180, 5000)
        lat = r.uniform(-90, 90, 5000)
        for res in (0, 2, 7, 15):
            ids = hex_cell_id(lon, lat, res)
            assert (ids < 0).all()  # tagged ⇒ negative
            assert_engine_hex_ids(ids)  # no raise
            got_res, face, _, _ = hex_cell_unpack(ids)
            assert (got_res == res).all() and (face < 20).all()
        # an official-shaped id (positive, mode-1 bits) must be rejected
        official_like = np.array([0x8928308280FFFFF], dtype=np.int64)
        with pytest.raises(ValueError, match="scheme tag"):
            hex_cell_unpack(official_like)
        with pytest.raises(ValueError, match="scheme tag"):
            assert_engine_hex_ids(np.array([0], dtype=np.int64))


class TestXZHierarchical:
    """Composite point+extent strategy (XZHierarchicalIndexStrategy analog,
    sfc/hierarchical.py)."""

    def test_points_and_extents_route_to_sub_indexes(self):
        from geowave_spark.sfc.hierarchical import (
            KIND_EXTENT,
            KIND_POINT,
            XZHierarchicalStrategy,
        )

        s = XZHierarchicalStrategy()
        r = np.random.default_rng(3)
        n = 400
        cx = r.uniform(-170, 170, n)
        cy = r.uniform(-80, 80, n)
        w = np.where(np.arange(n) % 2 == 0, 0.0, 10 ** r.uniform(-2, 0.8, n))
        kind, code = s.encode(cx, cy, cx + w, cy + w)
        assert (kind[::2] == KIND_POINT).all() and (kind[1::2] == KIND_EXTENT).all()
        # point codes agree with the tiered point curve
        want = s.tiered.point_cells(cx[::2], cy[::2]).astype(np.int64)
        assert (code[::2] == want).all()

    def test_query_ranges_cover_both_kinds(self):
        from geowave_spark.sfc.hierarchical import (
            KIND_EXTENT,
            KIND_POINT,
            XZHierarchicalStrategy,
        )

        s = XZHierarchicalStrategy()
        r = np.random.default_rng(7)
        n = 600
        cx = r.uniform(-60, 60, n)
        cy = r.uniform(-40, 40, n)
        w = np.where(np.arange(n) % 2 == 0, 0.0, 10 ** r.uniform(-2, 0.5, n))
        kind, code = s.encode(cx, cy, cx + w, cy + w)
        box = (-20.0, -15.0, 25.0, 18.0)
        ranges = s.query_ranges(*box, max_ranges=256)
        # every entity intersecting the box must fall in a range of its kind
        inter = (cx <= box[2]) & (cx + w >= box[0]) & (cy <= box[3]) & (cy + w >= box[1])
        for k in (KIND_POINT, KIND_EXTENT):
            lo = np.array([a for a, _ in ranges[k]])
            hi = np.array([b for _, b in ranges[k]])
            m = inter & (kind == k)
            if not m.any():
                continue
            covered = (
                (code[m][:, None] >= lo[None, :]) & (code[m][:, None] <= hi[None, :])
            ).any(axis=1)
            assert covered.all(), f"kind {k}: {(~covered).sum()} uncovered"


def test_h3_oracle_twin_matches_engine_kernel():
    """tools/oracle_values.h3_rows (the committed-VALUES driver oracle) is
    an independent reimplementation of the pinned aperture-7 scheme — its
    bin populations must equal the engine kernel's on the real inputs."""
    import sys
    from pathlib import Path

    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
    import duckdb

    from geowave_spark.sfc.h3hex import hex_cell_id
    from tools import oracle_values as ov

    sf_dir = "/root/testdata/sf0.001"
    clon = "-180.0 + (CAST((c_custkey * 48271) % 360000 AS DOUBLE) / 1000.0)"
    clat = "-90.0 + (CAST((c_custkey * 69621) % 180000 AS DOUBLE) / 1000.0)"
    pts = duckdb.sql(
        f"SELECT {clon} AS lon, {clat} AS lat FROM '{sf_dir}/customer.parquet' "
        "ORDER BY c_custkey"
    ).fetchall()
    lon = np.array([p[0] for p in pts])
    lat = np.array([p[1] for p in pts])
    for res in (0, 2, 5):
        cells = hex_cell_id(lon, lat, res=res)
        vals, counts = np.unique(cells, return_counts=True)
        want = sorted((int(a), int(b)) for a, b in zip(vals, counts))
        got = ov.h3_rows(sf_dir, clon, clat, res=res)
        assert got == want
