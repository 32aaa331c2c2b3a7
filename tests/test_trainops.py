"""Training-data operators: dedup, similarity search, text analysis.

Oracles: numpy brute force (pairwise Jaccard / Hamming / cosine) and
DuckDB SQL where expressible.
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from geowave_spark.operators.dedup import (
    _shingles,
    exact_dedup,
    minhash_lsh_dedup,
    minhash_udf,
    simhash_pairs,
)
from geowave_spark.operators.similarity import brute_topk, cosine_neardup_pairs, ivf_topk
from geowave_spark.operators.text import (
    fingerprint,
    language_id,
    quality_features,
    token_count,
)

rng = np.random.default_rng(42)
WORDS = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf", "hotel", "the", "a", "le", "der"]


def _mk_docs(n=120, dup_groups=15):
    """Word-salad docs with planted near-duplicate groups."""
    texts = []
    for i in range(n):
        toks = rng.choice(WORDS, 40).tolist()
        texts.append(" ".join(toks))
    # plant near-dups: copy an earlier doc and mutate 2 tokens
    for g in range(dup_groups):
        src = texts[g]
        toks = src.split()
        toks[5] = "mutated"
        toks[20] = "tokens"
        texts[n - 1 - g] = " ".join(toks)
    # plant exact dups
    texts[50] = texts[0]
    texts[51] = texts[1]
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts})


@pytest.fixture(scope="module")
def docs_pdf():
    return _mk_docs()


@pytest.fixture(scope="module")
def docs(spark, docs_pdf):
    return spark.createDataFrame(docs_pdf).cache()


@pytest.fixture(scope="module")
def emb_pdf():
    n, dim = 300, 32
    X = rng.standard_normal((n, dim)).astype(np.float32)
    # plant near-dups
    for i in range(10):
        X[n - 1 - i] = X[i] + rng.standard_normal(dim).astype(np.float32) * 0.01
    return pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64), "embedding": list(X)})


@pytest.fixture(scope="module")
def emb(spark, emb_pdf):
    pdf = pd.DataFrame(
        {"vec_id": emb_pdf["vec_id"], "embedding": [v.tolist() for v in emb_pdf["embedding"]]}
    )
    return spark.createDataFrame(pdf).cache()


def oracle_jaccard_pairs(pdf, threshold, n=3):
    sh = [_shingles(t, n) for t in pdf["text"]]
    out = set()
    for i in range(len(pdf)):
        for j in range(i + 1, len(pdf)):
            inter = np.intersect1d(sh[i], sh[j], assume_unique=True).size
            union = sh[i].size + sh[j].size - inter
            if union and inter / union >= threshold:
                out.add((int(pdf["doc_id"].iloc[i]), int(pdf["doc_id"].iloc[j])))
    return out


class TestDedup:
    def test_exact_dedup(self, spark, docs, docs_pdf):
        got = {(r["doc_id"], r["dup_count"]) for r in exact_dedup(docs).collect()}
        want = {
            (int(g["doc_id"].min()), len(g))
            for _, g in docs_pdf.groupby("text")
        }
        assert got == want
        assert any(c > 1 for _, c in want)  # planted exact dups found

    def test_minhash_lsh_finds_planted_neardups(self, spark, docs, docs_pdf):
        got = {(r["id_a"], r["id_b"]) for r in minhash_lsh_dedup(docs, threshold=0.6).collect()}
        want = oracle_jaccard_pairs(docs_pdf, 0.6)
        # exact-verify stage ⇒ no false positives; LSH recall should be
        # essentially perfect at this signature size for jaccard ≥ 0.6
        assert got <= want
        assert len(got) >= 0.9 * len(want) and len(want) >= 15

    def test_simhash_pairs_verified(self, spark, docs):
        rows = simhash_pairs(docs, max_hamming=6).collect()
        # exact postcondition: every returned pair truly within hamming 6
        assert all(r["hamming"] <= 6 for r in rows)
        # planted near-dup groups should collide strongly
        assert len(rows) >= 5

    def test_minhash_over_cap_first_band_found_in_later_band(self, spark):
        """A pair whose FIRST shared band is an over-cap bucket must still
        come out, once, through a later shared band, and the warning must
        report the number of dropped buckets."""
        minhash = minhash_udf().func  # the UDF's numpy body, on the driver
        gen = np.random.default_rng(5)
        a = " ".join(gen.choice(WORDS + ["india", "juliet", "kilo", "lima"], 60).tolist())
        toks = a.split()
        toks[40] = "mutated"
        b = " ".join(toks)
        sig_a, sig_b = minhash(pd.Series([a, b]))

        def band(sig, j):
            return tuple(sig[4 * j : 4 * j + 4])

        shared = [j for j in range(16) if band(sig_a, j) == band(sig_b, j)]
        assert shared[0] == 0 and len(shared) > 1
        # c: a substring of a that keeps a's band-0 minhashes (so a, b and
        # c overfill band 0's bucket at max_bucket=2) but misses a later
        # band that a and b share
        subs = [a[i:e] for i in range(0, len(a), 7) for e in range(i + 40, len(a) + 1, 7)]
        c, sig_c = next(
            (t, sc)
            for t, sc in zip(subs, minhash(pd.Series(subs)))
            if band(sc, 0) == band(sig_a, 0)
            and any(band(sc, j) != band(sig_a, j) for j in shared)
        )
        n_over = sum(band(sig_a, j) == band(sig_b, j) == band(sig_c, j) for j in range(16))
        docs = spark.createDataFrame(pd.DataFrame({"doc_id": [0, 1, 2], "text": [a, b, c]}))
        with pytest.warns(UserWarning, match=rf"dropped {n_over} over-limit bucket"):
            rows = minhash_lsh_dedup(docs, threshold=0.6, max_bucket=2).collect()
        pairs = [(r["id_a"], r["id_b"]) for r in rows]
        assert pairs.count((0, 1)) == 1 and len(pairs) == len(set(pairs))

    def test_wrappers_release_previous_signature_cache(self, spark, docs):
        """A second call, on other input, unpersists the first call's
        signature cache (Spark reuses a cache of an identical plan, so the
        inputs differ)."""

        def n_cached():
            return spark.sparkContext._jsc.getPersistentRDDs().size()

        for run in (
            lambda d: minhash_lsh_dedup(d, threshold=0.6),
            lambda d: simhash_pairs(d, max_hamming=6),
        ):
            run(docs).collect()
            once = n_cached()
            run(docs.where("doc_id < 100")).collect()
            assert n_cached() <= once

    def test_minhash_band_exchange_ships_band_hashes_only(self, spark, docs, band_exchange_outputs):
        """The band join's exchange carries (id, 16 band hashes, band,
        key): the 64-long minhash signature and the text are joined back
        by id afterwards."""
        outs = band_exchange_outputs(minhash_lsh_dedup(docs, threshold=0.6))
        assert outs
        for cols in outs:
            assert sorted(t for _, t in cols) == ["array<bigint>", "bigint", "bigint", "int"], cols


class TestSimilarity:
    def oracle_topk(self, emb_pdf, qids, k, exclude_self=True):
        X = np.array([v for v in emb_pdf["embedding"]], dtype=np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = Xn @ Xn.T
        out = set()
        ids = emb_pdf["vec_id"].to_numpy()
        for q in qids:
            s = sims[q]
            cand = [(-s[j], ids[j]) for j in range(len(ids)) if not (exclude_self and j == q)]
            cand.sort()
            for r, (_, nid) in enumerate(cand[:k]):
                out.add((q, int(nid), r + 1))
        return out

    def test_brute_topk_matches_numpy(self, spark, emb, emb_pdf):
        q = emb.where(F.col("vec_id") < 8)
        got = {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in brute_topk(q, emb, k=5, exclude_self=True).collect()
        }
        want = self.oracle_topk(emb_pdf, range(8), 5)
        assert got == want

    def test_catalyst_path_matches_numpy_path(self, spark, emb):
        q = emb.where(F.col("vec_id") < 4)
        a = {
            tuple(r)
            for r in brute_topk(q, emb, k=3, exclude_self=True, catalyst=True).collect()
        }
        b = {tuple(r) for r in brute_topk(q, emb, k=3, exclude_self=True).collect()}
        assert a == b

    def test_ivf_recall(self, spark, emb, emb_pdf):
        q = emb.where(F.col("vec_id") < 20)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(q, emb, k=3, num_centroids=8, nprobe=4, exclude_self=True).collect()
        }
        want = {(a, b) for a, b, _ in self.oracle_topk(emb_pdf, range(20), 3)}
        recall = len(got & want) / len(want)
        assert recall >= 0.85  # nprobe=half the buckets → high recall

    def test_sq_quantize_roundtrip_bound(self, spark, emb, emb_pdf):
        from geowave_spark.operators.similarity import quantize_embeddings

        codes, mins, scales = quantize_embeddings(emb)
        got = {r["_nid"]: bytes(r["_code"]) for r in codes.collect()}
        X = np.array([v for v in emb_pdf["embedding"]], dtype=np.float64)
        # per-dim stats match the global min/max exactly
        assert np.allclose(mins, X.min(axis=0))
        assert np.allclose(scales, (X.max(axis=0) - X.min(axis=0)) / 255.0)
        # dequantization error is bounded by half a quantization step
        for i in [0, 7, 123]:
            deq = np.frombuffer(got[i], dtype=np.uint8) * scales + mins
            assert np.all(np.abs(deq - X[i]) <= scales / 2 + 1e-9)

    def test_sq_topk_recall(self, spark, emb, emb_pdf):
        from geowave_spark.operators.similarity import sq_topk

        q = emb.where(F.col("vec_id") < 20)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in sq_topk(q, emb, k=3, overfetch=4, exclude_self=True).collect()
        }
        want = {(a, b) for a, b, _ in self.oracle_topk(emb_pdf, range(20), 3)}
        # re-rank is exact cosine, so errors can only come from a true
        # neighbor missing the quantized overfetch window
        recall = len(got & want) / len(want)
        assert recall >= 0.9

    def test_sq_topk_exact_mode_matches_brute(self, spark, emb, emb_pdf):
        """exact=True is branch-and-bound: the quantized prefilter keeps
        every row within 2ε of the batch k-th score, so the re-ranked
        output must equal exact brute-force top-k INCLUDING ranks —
        recall 1.0 by construction, not by overfetch luck."""
        from geowave_spark.operators.similarity import sq_topk

        q = emb.where(F.col("vec_id") < 20)
        got = {
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in sq_topk(q, emb, k=3, exact=True, exclude_self=True).collect()
        }
        assert got == self.oracle_topk(emb_pdf, range(20), 3)

    def test_quantize_min_norm_stat(self, spark, emb, emb_pdf):
        from geowave_spark.operators.similarity import quantize_embeddings

        _, _, _, min_norm = quantize_embeddings(emb, with_min_norm=True)
        X = np.array([v for v in emb_pdf["embedding"]], dtype=np.float64)
        assert np.isclose(min_norm, np.linalg.norm(X, axis=1).min())

    def test_sq_topk_string_ids(self, spark, emb, emb_pdf):
        # the candidate schema derives id types from the inputs —
        # string-keyed corpora must round-trip, not nullify (r4 review)
        from geowave_spark.operators.similarity import sq_topk

        s = emb.selectExpr("concat('v', vec_id) as vec_id", "embedding")
        q = s.where(F.col("vec_id").isin("v0", "v7"))
        rows = sq_topk(q, s, k=3, overfetch=4, exclude_self=True).collect()
        got = {(r["query_id"], r["neighbor_id"]) for r in rows}
        assert len(rows) == 6 and all(
            a.startswith("v") and b.startswith("v") for a, b in got
        )
        want = {
            (f"v{a}", f"v{b}")
            for a, b, _ in self.oracle_topk(emb_pdf, [0, 7], 3)
        }
        assert len(got & want) / len(want) >= 0.9

    def test_cosine_neardup(self, spark, emb, emb_pdf):
        got = {(r["id_a"], r["id_b"]) for r in cosine_neardup_pairs(emb, threshold=0.98).collect()}
        X = np.array([v for v in emb_pdf["embedding"]], dtype=np.float64)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = Xn @ Xn.T
        ii, jj = np.nonzero(np.triu(sims >= 0.98, 1))
        want = set(zip(ii.tolist(), jj.tolist()))
        assert got <= want and len(got) >= 0.9 * len(want) and len(want) >= 10

    def test_cosine_neardup_equals_banded_brute_force(self, spark, emb, emb_pdf):
        """The exact row set: every pair sharing at least one band
        signature with cosine ≥ threshold, each pair once."""
        thr, planes, bands = 0.3, 16, 4
        rows = cosine_neardup_pairs(emb, threshold=thr, num_planes=planes, bands=bands).collect()
        pairs = [(r["id_a"], r["id_b"]) for r in rows]
        X = np.array([v for v in emb_pdf["embedding"]], dtype=np.float64)
        proj = X @ np.random.default_rng(42).standard_normal((planes, X.shape[1])).T
        assert np.abs(proj).min() > 1e-9  # no sign bit on a knife edge
        keys = ((proj > 0).reshape(len(X), bands, -1) * (1 << np.arange(3, -1, -1))).sum(axis=2)
        share = np.triu((keys[:, None, :] == keys[None, :, :]).any(axis=2), 1)
        Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
        sims = Xn @ Xn.T
        assert np.abs(sims[share] - thr).min() > 1e-9
        ii, jj = np.nonzero(share & (sims >= thr))
        want = set(zip(ii.tolist(), jj.tolist()))
        assert len(pairs) == len(set(pairs)) and set(pairs) == want
        assert len(want) >= 100

    def test_cosine_band_exchange_ships_no_vectors(self, spark, emb, band_exchange_outputs):
        """The band join's exchange carries (id, band keys, band, key); the
        array<double> vectors are joined back by id afterwards."""
        outs = band_exchange_outputs(cosine_neardup_pairs(emb, threshold=0.9))
        assert outs
        for cols in outs:
            assert sorted(t for _, t in cols) == ["array<bigint>", "bigint", "bigint", "int"], cols

    def test_cosine_neardup_empty_corpus(self, spark):
        empty = spark.createDataFrame([], "vec_id bigint, embedding array<double>")
        out = cosine_neardup_pairs(empty)
        assert out.columns == ["id_a", "id_b", "sim"]
        assert out.collect() == []

    def test_cosine_neardup_builds_without_jobs(self, spark, emb):
        """The hyperplanes are drawn in the workers from the batch's vector
        length, so building the frame runs no Spark job."""
        sc = spark.sparkContext
        group = "cosine_neardup_construction"
        sc.setJobGroup(group, group)
        try:
            cosine_neardup_pairs(emb, threshold=0.9)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert sc.statusTracker().getJobIdsForGroup(group) == []


class TestText:
    def test_token_count_and_quality(self, spark, docs, docs_pdf):
        rows = quality_features(docs).collect()
        by_id = {r["doc_id"]: r for r in rows}
        for i in [0, 5, 100]:
            t = docs_pdf["text"].iloc[i]
            assert by_id[i]["n_tokens"] == len(t.split(" "))
            assert by_id[i]["n_chars_c"] == len(t)

    def test_language_id_markers(self, spark):
        pdf = pd.DataFrame(
            {
                "doc_id": [0, 1, 2, 3],
                "text": [
                    "the cat sat on the mat of doom",
                    "le chat est sur le tapis de la maison",
                    "der hund und die katze und der vogel",
                    "xyzzy plugh qwerty",
                ],
            }
        )
        df = spark.createDataFrame(pdf)
        got = {r["doc_id"]: r["lang"] for r in df.select("doc_id", language_id(F.col("text")).alias("lang")).collect()}
        assert got[0] == "en" and got[1] == "fr" and got[2] == "de" and got[3] == "und"

    def test_fingerprint_matches_duckdb(self, spark, docs, docs_pdf):
        import duckdb

        got = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).collect()}
        want = dict(
            duckdb.sql(
                "select doc_id, substr(md5(text),1,16) from docs_pdf"
            ).fetchall()
        )
        assert got == want
