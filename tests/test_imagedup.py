"""Image near-dup operator: DCT pHash + Hamming banding.

Oracles: numpy brute-force pairwise popcount over independently computed
per-image hashes (decode → phash_from_pixels on the driver), so the
distributed pairing path is checked for EXACT equality — the pigeonhole
split is complete (within distance d a pair must agree on one of d+1
chunks), and the verify stage is an exact popcount, so recall is 1.0 by
construction, not probabilistic.
"""

import numpy as np
import pandas as pd
import pytest

from geowave_spark.operators.imagedup import (
    _luma_grid_32,
    hamming_pairs,
    image_phash_neardup,
    phash_from_grids,
    phash_from_pixels,
)
from geowave_spark.raster.codec import decode_image, encode_image
from geowave_spark.sources.images import gen_pixels

def _mk_images(n=96, dup_groups=12):
    """Deterministic synthetic images with planted near-duplicates.

    The last ``dup_groups`` rows are ±2-intensity perturbed copies of the
    first ``dup_groups`` images (re-encoded), so each group should land
    within a small Hamming distance of its source."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(n):
        w, h = 64 + 16 * (i % 3), 64 + 16 * ((i // 3) % 3)
        px = gen_pixels(i * 13 + 1, w, h)
        fmt = ("png", "bmp")[i % 2]
        rows.append((f"img{i:04d}", encode_image(px, fmt), fmt))
    for g in range(dup_groups):
        src_px = gen_pixels(g * 13 + 1, 64 + 16 * (g % 3), 64 + 16 * ((g // 3) % 3))
        noise = rng.integers(-2, 3, size=src_px.shape)
        px = np.clip(src_px.astype(np.int64) + noise, 0, 255).astype(np.uint8)
        rows.append((f"img{n + g:04d}", encode_image(px, "png"), "png"))
    return pd.DataFrame(rows, columns=["image_id", "bytes", "fmt"])


@pytest.fixture(scope="module")
def images_pdf():
    return _mk_images()


@pytest.fixture(scope="module")
def images(spark, images_pdf):
    return spark.createDataFrame(images_pdf).cache()


def _popcount(x: int) -> int:
    return bin(x & ((1 << 64) - 1)).count("1")


def oracle_pairs(images_pdf, max_hamming):
    sigs = {
        r.image_id: phash_from_pixels(decode_image(bytes(r.bytes), r.fmt))
        for r in images_pdf.itertuples()
    }
    ids = sorted(sigs)
    out = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            d = _popcount(sigs[ids[i]] ^ sigs[ids[j]])
            if d <= max_hamming:
                out.add((ids[i], ids[j], d))
    return out


class TestPhash:
    def test_format_invariant(self):
        px = gen_pixels(5, 80, 64)
        h_png = phash_from_pixels(decode_image(encode_image(px, "png"), "png"))
        h_bmp = phash_from_pixels(decode_image(encode_image(px, "bmp"), "bmp"))
        assert h_png == h_bmp  # lossless round trips → identical hash

    def test_brightness_invariant(self):
        # DC is dropped: a uniform brightness shift must not flip bits
        a = np.clip(gen_pixels(9, 96, 96).astype(np.int64), 0, 215).astype(np.uint8)
        b = (a.astype(np.int64) + 40).astype(np.uint8)  # exact shift, no clipping
        assert phash_from_pixels(a) == phash_from_pixels(b)

    def test_noise_robust_and_discriminative(self, images_pdf):
        sigs = [
            phash_from_pixels(decode_image(bytes(r.bytes), r.fmt))
            for r in images_pdf.itertuples()
        ]
        n, groups = 96, 12
        planted = [_popcount(sigs[g] ^ sigs[n + g]) for g in range(groups)]
        others = [
            _popcount(sigs[i] ^ sigs[j])
            for i in range(n)
            for j in range(i + 1, n)
        ]
        # ±2 noise flips only near-median (tiny) coefficients; the planted
        # pairs must sit far below the unrelated-pair distribution
        assert np.median(planted) <= 8 and max(planted) <= 20
        assert np.median(others) >= 16
        assert np.mean(np.array(others) <= 8) < 0.02


    def test_batched_matches_scalar(self, images_pdf):
        """The Arrow-batch path (one stacked DCT + packbits) must be
        bit-identical to the independent scalar loop for every image."""
        grids = np.stack(
            [
                _luma_grid_32(decode_image(bytes(r.bytes), r.fmt))
                for r in images_pdf.itertuples()
            ]
        )
        batched = phash_from_grids(grids)
        scalar = [
            phash_from_pixels(decode_image(bytes(r.bytes), r.fmt))
            for r in images_pdf.itertuples()
        ]
        assert batched.tolist() == scalar


class TestPairs:
    def test_rejects_single_block(self, spark):
        """k = d + m < 2 would need a 64-bit band mask (2^64−1 overflows a
        Spark long literal) — must raise, not fail at expression parse."""
        df = spark.createDataFrame(pd.DataFrame({"_id": [0, 1], "_sig": [0, 1]}))
        with pytest.raises(ValueError, match="out of range"):
            hamming_pairs(df, max_hamming=0, blocks_per_key=1)
        with pytest.raises(ValueError, match="out of range"):
            hamming_pairs(df, max_hamming=1, blocks_per_key=0)

    def test_leftover_bits_covered(self, spark):
        """k=6 (d=4, m=2) doesn't divide 64: the 4 leftover high bits are
        folded into the last block, so two signatures differing ONLY in
        bits 60-63 must not collide in every band (they differ in block 5)
        — and pairs within d over those bits are still found exactly."""
        base = np.uint64(0x0123456789ABCDEF)
        sigs = np.array(
            [
                base,
                base ^ np.uint64(0xF) << np.uint64(60),  # 4 high-bit flips: d=4
                base ^ np.uint64(0x1F) << np.uint64(59),  # 5 flips: outside d=4
            ],
            dtype=np.uint64,
        ).view(np.int64)
        df = spark.createDataFrame(
            pd.DataFrame({"_id": np.arange(3, dtype=np.int64), "_sig": sigs})
        )
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in hamming_pairs(df, 4, blocks_per_key=2).collect()
        }
        # (0,1): the 4 folded high bits, found; (1,2): differ in bit 59
        # only; (0,2): 5 bits apart, correctly excluded
        assert got == {(0, 1, 4), (1, 2, 1)}

    def test_wrapper_decodes_once(self, spark, images):
        """The wrapper persists + eagerly materializes the signature
        projection BEFORE the band self-join, so the join plan reads the
        cache on BOTH legs — the decode+DCT UDF evaluated exactly once,
        during the materializing count, never per join side."""
        result = image_phash_neardup(images, max_hamming=4)
        plan = result._jdf.queryExecution().executedPlan().toString()
        # one InMemoryTableScan per self-join leg; any live (non-cached)
        # UDF evaluation would put an ArrowEvalPython OUTSIDE a cached
        # relation, i.e. textually before the first InMemoryRelation
        # ≥2: one per leg (the cached-relation printout nests the images
        # fixture's own cache scan, so the text count can exceed 2)
        assert plan.count("InMemoryTableScan") >= 2
        assert plan.index("ArrowEvalPython") > plan.index("InMemoryRelation")
        result.sparkSession.catalog.clearCache()
        images.cache().count()  # re-cache the module fixture for later tests

    def test_wrapper_releases_previous_signature_cache(self, spark, images):
        """A second call, on other input, unpersists the first call's
        signature cache (Spark reuses a cache of an identical plan, so the
        inputs differ)."""

        def n_cached():
            return spark.sparkContext._jsc.getPersistentRDDs().size()

        image_phash_neardup(images, max_hamming=4).collect()
        once = n_cached()
        image_phash_neardup(images.where("image_id < 'img0050'"), max_hamming=4).collect()
        assert n_cached() <= once

    def test_band_exchange_ships_id_and_signature_only(self, spark, band_exchange_outputs):
        """The band join's exchange carries (id, 8-byte signature, band,
        key) and no per-band key array."""
        pdf = pd.DataFrame({"_id": np.arange(200, dtype=np.int64)})
        pdf["_sig"] = np.random.default_rng(3).integers(0, 2**62, 200)
        outs = band_exchange_outputs(
            hamming_pairs(spark.createDataFrame(pdf), 4, blocks_per_key=2)
        )
        assert outs
        for cols in outs:
            assert sorted(t for _, t in cols) == ["bigint", "bigint", "bigint", "int"], cols

    def test_signature_col_skips_decode(self, spark, images, images_pdf):
        """A pre-materialized hash column (input-hint `phash`) must yield
        the same pairs with zero decode work in the plan."""
        sigs = {
            r.image_id: phash_from_pixels(decode_image(bytes(r.bytes), r.fmt))
            for r in images_pdf.itertuples()
        }
        pdf = pd.DataFrame(
            {"image_id": list(sigs), "phash": np.array(list(sigs.values()), np.int64)}
        )
        df = spark.createDataFrame(pdf)
        result = image_phash_neardup(df, max_hamming=7, signature_col="phash")
        plan = result._jdf.queryExecution().executedPlan().toString()
        assert "ArrowEvalPython" not in plan
        got = {(r["id_a"], r["id_b"], r["hamming"]) for r in result.collect()}
        assert got == oracle_pairs(images_pdf, 7)
    def test_matches_brute_exactly(self, spark, images, images_pdf):
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in image_phash_neardup(images, max_hamming=7).collect()
        }
        want = oracle_pairs(images_pdf, 7)
        assert got == want
        assert len(want) >= 12  # every planted group recovered

    @pytest.mark.parametrize("d,m", [(1, 2), (3, 2), (4, 2), (7, 3)])
    def test_multi_index_banding_same_row_set(self, spark, d, m):
        """blocks_per_key > 1 (multi-index hashing) must return the exact
        m=1 row set — recall 1.0 by the pigeonhole argument, the popcount
        verify fixes precision.  Covers the web-scale banding mode."""
        n = 400
        rng = np.random.default_rng(900 + d)
        base = rng.integers(0, 2**63, size=n, dtype=np.int64)
        for k in range(25):
            flips = rng.integers(0, 64, size=rng.integers(0, d + 1))
            v = base[k]
            for f in flips.tolist():
                v ^= np.int64(np.uint64(1) << np.uint64(f))
            base[n - 1 - k] = v
        pdf = pd.DataFrame({"_id": np.arange(n, dtype=np.int64), "_sig": base})
        df = spark.createDataFrame(pdf)
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in hamming_pairs(df, d, blocks_per_key=m).collect()
        }
        want = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in hamming_pairs(df, d).collect()
        }
        assert got == want
        assert len(want) >= 10

    @pytest.mark.parametrize("seed", [0, 1, 2, 3, 4, 5])
    def test_first_match_filter_random_dm_sweep(self, spark, seed):
        """Randomized (d, m) sweep of the first-matching-band dedup (r5):
        for arbitrary band geometry — including k that doesn't divide 64
        and m = k (every block in one band) — the filter must reproduce
        the brute pairwise-popcount row set exactly, each pair once."""
        rng = np.random.default_rng(7000 + seed)
        d = int(rng.integers(1, 9))
        m = int(rng.integers(1, 4))
        n = 150
        base = rng.integers(0, 2**63, size=n, dtype=np.int64)
        for t in range(25):
            flips = rng.integers(0, 64, size=rng.integers(0, d + 2))
            v = base[t]
            for f in flips.tolist():
                v ^= np.int64(np.uint64(1) << np.uint64(f))
            base[n - 1 - t] = v
        pdf = pd.DataFrame({"_id": np.arange(n, dtype=np.int64), "_sig": base})
        got = sorted(
            (r["id_a"], r["id_b"], r["hamming"])
            for r in hamming_pairs(
                spark.createDataFrame(pdf), d, blocks_per_key=m
            ).collect()
        )
        u = base.astype(np.uint64)
        want = []
        for i in range(n):
            x = u[i] ^ u[i + 1 :]
            dist = np.array([_popcount(int(v)) for v in x])
            for off in np.nonzero(dist <= d)[0]:
                want.append((i, i + 1 + int(off), int(dist[off])))
        assert got == sorted(want), (d, m)
        # each pair exactly once: collect() already proves no dupes via
        # the sorted-list equality against the dedup-free brute oracle

    @pytest.mark.parametrize("d", [1, 3, 7])
    def test_hamming_pairs_generic_brute(self, spark, d):
        n = 300
        rng = np.random.default_rng(100 + d)
        base = rng.integers(0, 2**63, size=n, dtype=np.int64)
        # plant close pairs: flip ≤d random bits of earlier rows
        for k in range(20):
            flips = rng.integers(0, 64, size=rng.integers(0, d + 1))
            v = base[k]
            for f in flips.tolist():
                v ^= np.int64(np.uint64(1) << np.uint64(f))
            base[n - 1 - k] = v
        pdf = pd.DataFrame({"_id": np.arange(n, dtype=np.int64), "_sig": base})
        got = {
            (r["id_a"], r["id_b"], r["hamming"])
            for r in hamming_pairs(spark.createDataFrame(pdf), d).collect()
        }
        want = set()
        u = base.astype(np.uint64)
        for i in range(n):
            x = u[i] ^ u[i + 1 :]
            dist = np.array([_popcount(int(v)) for v in x])
            for off in np.nonzero(dist <= d)[0]:
                want.add((i, i + 1 + int(off), int(dist[off])))
        assert got == want
        assert len(want) >= 15
