"""Unit tests for the text/sketch kernels (no Spark)."""

import numpy as np
import pandas as pd

from convert_spark.kernels import sketches, textkit


class TestExtractCoords:
    def test_both_formats_ordered(self):
        s = pd.Series(
            [
                "intro geo:45.63793,-111.02543 middle lat 12.5 lon -33.25 end",
                "no coords here",
                "lat 1.5 lon 2.5 then geo:3.00000,4.00000",
            ]
        )
        out = textkit.extract_coords(s)
        assert out[out.row == 1].empty
        r0 = out[out.row == 0].reset_index(drop=True)
        assert r0.loc[0, ["lat", "lon"]].tolist() == [45.63793, -111.02543]
        assert r0.loc[1, ["lat", "lon"]].tolist() == [12.5, -33.25]
        r2 = out[out.row == 2].reset_index(drop=True)
        # document order across patterns: the "lat lon" mention comes first
        assert r2.loc[0, ["lat", "lon"]].tolist() == [1.5, 2.5]
        assert r2.loc[1, ["lat", "lon"]].tolist() == [3.0, 4.0]
        assert r2["mention_idx"].tolist() == [0, 1]

    def test_deterministic_and_empty(self):
        s = pd.Series(["geo:1.00000,2.00000", None, ""])
        a = textkit.extract_coords(s)
        b = textkit.extract_coords(s)
        pd.testing.assert_frame_equal(a, b)
        assert len(a) == 1


class TestLang:
    def test_basic(self):
        s = pd.Series(
            [
                "the cat and the dog of the house",
                "le chat et la maison est une belle que les",
                "el perro de la casa que los gatos",
                "der hund und die katze ist ein nicht das",
                "xyzzy plugh",
            ]
        )
        out = textkit.lang_scores(s)
        assert out["lang"].tolist() == ["en", "fr", "es", "de", "und"]


class TestQuality:
    def test_features(self):
        s = pd.Series(["the quick brown fox jumps over the lazy dog", "", "!!! ??? ..."])
        q = textkit.quality_features(s)
        assert q.loc[0, "n_words"] == 9
        assert q.loc[0, "quality"] > q.loc[2, "quality"]
        assert q.loc[1, "n_chars"] == 0 and np.isfinite(q.loc[1, "quality"])


class TestTokens:
    def test_counts(self):
        s = pd.Series(["hello world, it's 42!"])
        t = textkit.token_counts(s)
        assert t.loc[0, "n_ws_tokens"] == 4
        # hello / world / , / it / ' / s / 42 / !
        assert t.loc[0, "n_bpe_tokens"] == 8


class TestFingerprint:
    def test_whitespace_normalized(self):
        a = textkit.fingerprint64(pd.Series(["hello   world"]))
        b = textkit.fingerprint64(pd.Series(["hello world"]))
        c = textkit.fingerprint64(pd.Series(["hello worlds"]))
        assert a[0] == b[0] != c[0]
        assert a[0] >= 0

    def test_fnv_vector(self):
        # published FNV-1a 64 test vector
        assert textkit.fnv1a64_bytes(b"") == 0xCBF29CE484222325
        assert textkit.fnv1a64_bytes(b"a") == 0xAF63DC4C8601EC8C


class TestMinHash:
    def test_similarity_monotone(self):
        base = "the quick brown fox jumps over the lazy dog " * 10
        near = base.replace("lazy", "sleepy")
        far = "completely different words appear in this other document " * 10
        s_base = sketches.minhash_signature(base)
        s_near = sketches.minhash_signature(near)
        s_far = sketches.minhash_signature(far)
        sim_near = sketches.jaccard_from_signatures(s_base, s_near)
        sim_far = sketches.jaccard_from_signatures(s_base, s_far)
        assert sim_near > 0.3 > sim_far
        # estimate tracks the true Jaccard of the shingle sets
        hb, hn = sketches.shingle_hashes(base), sketches.shingle_hashes(near)
        true_j = np.intersect1d(hb, hn).size / np.union1d(hb, hn).size
        assert abs(sim_near - true_j) < 0.2

    def test_batch_matches_single(self):
        texts = pd.Series(["alpha beta gamma delta epsilon zeta", "one two three four five six"])
        batch = sketches.minhash_signatures(texts)
        for i, t in enumerate(texts):
            np.testing.assert_array_equal(batch[i], sketches.minhash_signature(t))

    def test_lsh_identical_docs_collide(self):
        sig_a = sketches.minhash_signature("a b c d e f g h i j k")
        sig_b = sketches.minhash_signature("a b c d e f g h i j k")
        k1, k2 = sketches.lsh_band_keys_batch(np.stack([sig_a, sig_b]))
        assert k1.tolist() == k2.tolist() and len(k1) == 16


class TestSimHash:
    def test_near_duplicates_close(self):
        base = "the quick brown fox jumps over the lazy dog " * 5
        near = base.replace("dog", "cat")
        far = "orthogonal vocabulary entirely disjoint tokens " * 5
        h = sketches.simhash64(pd.Series([base, near, far]))
        d_near = sketches.hamming64(np.array([h[0]]), np.array([h[1]]))[0]
        d_far = sketches.hamming64(np.array([h[0]]), np.array([h[2]]))[0]
        assert d_near < d_far

    def test_empty(self):
        assert sketches.simhash64(pd.Series([""]))[0] == 0


class TestTwinAgreement:
    """The vectorized production kernels must agree with the scalar twin
    implementations (tests/sketch_reference_impl.py) that derive the KAT
    oracles — random-input property tests, so KAT agreement isn't vacuous."""

    def _random_texts(self, n=60, seed=5):
        rng = np.random.RandomState(seed)
        vocab = [f"w{i}" for i in range(40)] + ["é", "中文", "x-y", "9.5"]
        out = []
        for _ in range(n):
            k = rng.randint(0, 30)
            out.append(" ".join(rng.choice(vocab, size=k)))
        out += ["", "   ", "one", "one two"]
        return out

    def test_minhash_signatures(self):
        import sketch_reference_impl as skref

        texts = self._random_texts()
        batch = sketches.minhash_signatures(pd.Series(texts))
        for i, t in enumerate(texts):
            assert [int(v) for v in batch[i]] == skref.minhash_signature_s(t), t

    def test_band_keys(self):
        import sketch_reference_impl as skref

        texts = self._random_texts(20, seed=6)
        sigs = sketches.minhash_signatures(pd.Series(texts))
        keys = sketches.lsh_band_keys_batch(sigs)
        for i, t in enumerate(texts):
            assert keys[i].tolist() == skref.lsh_band_keys_s([int(v) for v in sigs[i]]), t

    def test_simhash(self):
        import sketch_reference_impl as skref

        texts = self._random_texts(seed=7)
        got = sketches.simhash64(pd.Series(texts))
        for i, t in enumerate(texts):
            assert int(got[i]) == skref.simhash64_s(t), t

    def test_fingerprint(self):
        import sketch_reference_impl as skref

        texts = self._random_texts(seed=8)
        got = textkit.fingerprint64(pd.Series(texts))
        for i, t in enumerate(texts):
            assert int(got[i]) == skref.fingerprint64_s(t), t

    def test_hyperplane_lsh_keys(self):
        import sketch_reference_impl as skref
        from convert_spark.operators.ann import _hyperplanes, lsh_vec_keys

        rng = np.random.RandomState(9)
        mat = rng.normal(size=(50, 64))
        bands, bits = 8, 8
        planes = _hyperplanes(64, bands * bits)
        ks = lsh_vec_keys(mat, planes, bands, bits)  # the with_lsh_keys UDF body
        planes_s = [[float(v) for v in row] for row in planes]
        for i in range(len(mat)):
            twin = skref.lsh_vec_keys_s([float(v) for v in mat[i]], planes_s, bands, bits)
            assert [int(v) for v in ks[i]] == twin

    def test_spherical_kmeans_assignments(self):
        """Centroid coordinates may differ in the last ulp (pairwise vs
        sequential summation) but the ASSIGNMENTS — the discrete output
        the IVF KAT depends on — must agree."""
        import sketch_reference_impl as skref
        from convert_spark.operators.ann import _spherical_kmeans

        rng = np.random.RandomState(10)
        mat = rng.normal(size=(200, 16))
        cent_p = _spherical_kmeans(mat, 8)
        cent_s = skref.spherical_kmeans_s([list(map(float, r)) for r in mat], 8)
        m = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        assign_p = (m @ cent_p.T).argmax(axis=1)
        assign_s = [skref._argmax_dot(skref._normalize_s(list(map(float, r))), cent_s) for r in mat]
        assert list(assign_p) == assign_s


class TestGoFmtTwinAgreement:
    """The production Go-%v formatter (sources.geojson._go_str, repr-string
    surgery) and the S6 twin's fresh Decimal-based one
    (datasets_reference_impl.go_fmt_s) must agree on arbitrary doubles —
    random-input property coverage so the datasets-JSON KAT agreement
    isn't vacuous on the attribute-value axis."""

    def test_random_floats_agree(self):
        import datasets_reference_impl as dsref

        from convert_spark.sources.geojson import _go_float_str

        rng = np.random.RandomState(17)
        vals = list(rng.uniform(-1e12, 1e12, 300))
        vals += list(rng.uniform(-1e-3, 1e-3, 200))
        vals += list(rng.uniform(-1e6, 1e6, 200) // 1)  # integral doubles
        vals += [0.0, -0.0, 1e6, 999999.5, -1e6, 1.23e-5, 1e-4, 9.999e5,
                 1417640643.0, 2.5e6, float("nan"), float("inf"), float("-inf"),
                 5e-324, 1.7976931348623157e308]
        vals += [float(np.float64(rng.randint(-2**62, 2**62)) / 2**rng.randint(0, 40))
                 for _ in range(200)]
        for v in vals:
            assert _go_float_str(float(v)) == dsref.go_fmt_s(float(v)), repr(v)
