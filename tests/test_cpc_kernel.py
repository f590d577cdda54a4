"""CPC coupon-matrix kernel tests: accuracy class, merge identity,
sparse/dense wire modes, mixed-lg_k union."""

import numpy as np

from datasketches_postgresql_spark.sketches import cpc as C


def _rand(n, seed):
    return np.random.default_rng(seed).integers(0, 2**64, size=n, dtype=np.uint64)


class TestCpcKernel:
    def test_small_n_near_exact(self):
        # n << k: coupon count == n whp, ICON inversion is near-exact; by
        # n=100 cell collisions add ~1.3% RSE, so that case gets 4 sigma
        for n, tol in ((1, 0.001), (2, 0.01), (10, 0.01), (100, 0.06)):
            vals = _rand(n, n)
            est = C.get_estimate(C.build(vals, 11))
            true = len(np.unique(vals))
            assert abs(est - true) / true < tol, (n, est)

    def test_rse_at_lg_k_11(self):
        """Measured MLE RSE must stay in the CPC class (<= ~0.8/sqrt(k) x2
        margin), not the theta class at the same memory."""
        errs = []
        for t in range(10):
            vals = _rand(200_000, 100 + t)
            est = C.get_estimate(C.build(vals, 11))
            true = len(np.unique(vals))
            errs.append((est - true) / true)
        rse = float(np.std(errs))
        assert rse < 2 * 0.8 / np.sqrt(2048), rse

    def test_union_equals_single_build(self):
        vals = _rand(500_000, 7)
        parts = [C.build(c, 11) for c in np.array_split(vals, 16)]
        assert C.get_estimate(C.union(parts)) == C.get_estimate(C.build(vals, 11))

    def test_union_idempotent_and_order_free(self):
        a, b = C.build(_rand(1000, 1), 11), C.build(_rand(1000, 2), 11)
        assert C.union([a, b]) == C.union([b, a]) == C.union([a, b, a])

    def test_sparse_dense_roundtrip(self):
        small = C.build(_rand(50, 3), 11)
        assert small[2] == 0  # sparse mode
        big = C.build(_rand(500_000, 3), 11)
        assert big[2] == 1  # dense mode
        for sk in (small, big):
            lg_k, mat = C.deserialize(sk)
            assert lg_k == 11 and mat.size == 2048

    def test_mixed_lg_k_union_rejected(self):
        """Columns derive from post-row hash bits, so cross-lg_k folding
        would silently bias the estimate — the union refuses instead."""
        vals = _rand(50_000, 9)
        hi = C.build(vals, 12)
        lo = C.build(vals, 10)
        try:
            C.union([hi, lo])
            raise AssertionError("expected ValueError")
        except ValueError:
            pass

    def test_empty(self):
        assert C.get_estimate(C.build(np.empty(0, dtype=np.uint64), 11)) == 0.0

    def test_coupon_extraction_matches_scalar_reference(self):
        """The vectorized coupon map (float64-exponent ctz + scatter dedup)
        must agree bit-for-bit with a direct scalar transcription of the
        coupon definition (row = low lg_k hash bits, col = index of the
        lowest set bit of the remaining bits, all-zero rest -> max col),
        including the edge hashes 0, 1, 2^63, 2^64-1. 100k values fill
        at least half of the coupon slots through lg_k 11 and less from
        lg_k 15, so both sides of the scatter-vs-sort dedup rule run."""
        for lg_k in (4, 11, 15, 16, 21):
            vals = np.concatenate(
                [_rand(100_000, 21), np.array([0, 1, 2**63, 2**64 - 1], dtype=np.uint64)]
            )
            got = C._coupons_from_hashes(vals, lg_k)
            want = set()
            max_col = min(C._MAX_COL, 63)
            for h in vals.tolist():
                row = h & ((1 << lg_k) - 1)
                rest = h >> lg_k
                col = C._MAX_COL if rest == 0 else (rest & -rest).bit_length() - 1
                want.add((row << 6) | min(col, max_col))
            assert got.dtype == np.uint32
            assert np.array_equal(got, np.array(sorted(want), dtype=np.uint32))


def _old_coupons_from_hashes(values, lg_k):
    """Transcription of the coupon extraction before the batch-size dedup
    rule: flag-array scatter through lg_k 15, np.unique above."""
    h = np.asarray(values, dtype=np.uint64)
    rows = (h & np.uint64((1 << lg_k) - 1)).astype(np.uint32)
    rest = h >> np.uint64(lg_k)
    rest_nonzero = np.where(rest == 0, np.uint64(1) << np.uint64(63), rest)
    low = rest_nonzero & (~rest_nonzero + np.uint64(1))
    cols = ((low.astype(np.float64).view(np.uint64) >> np.uint64(52)) - np.uint64(1023)).astype(
        np.uint32
    )
    raw = (rows << np.uint32(6)) | np.minimum(cols, np.uint32(63))
    if lg_k <= 15:
        seen = np.zeros(1 << (lg_k + 6), dtype=bool)
        seen[raw] = True
        return np.nonzero(seen)[0].astype(np.uint32)
    return np.unique(raw)


def _old_build(values, lg_k):
    """Transcription of build before it serialized sparse coupons directly:
    coupons -> dense matrix -> popcount -> coupons re-read bit by bit."""
    dense = C._dense_from_coupons(_old_coupons_from_hashes(values, lg_k), lg_k)
    n_coupons = C.popcount64(dense)
    if n_coupons * 4 + 4 < dense.size * 8 and n_coupons <= 2 * dense.size:
        return C.serialize(lg_k, C._coupons_from_dense(dense), None)
    return C.serialize(lg_k, None, dense)


class TestBuildBytesUnchanged:
    def test_build_matches_old_path(self):
        """Every (lg_k, n) of the grid, on both sides of the sparse/dense
        image rule and of the scatter/sort dedup rule, yields the same
        bytes as the old coupons -> matrix -> coupons path."""
        edges = np.array([0, 1, 2**63, 2**64 - 1], dtype=np.uint64)
        for lg_k in (4, 11, 15, 16, 21):
            for n in (0, 1, 100, 5_000, 100_000):
                vals = _rand(n, 1000 + n)
                assert C.build(vals, lg_k) == _old_build(vals, lg_k), (lg_k, n)
            # low-entropy input: heavy duplicates and max-column coupons
            vals = np.concatenate([np.arange(300, dtype=np.uint64) % 37, edges])
            assert C.build(vals, lg_k) == _old_build(vals, lg_k), lg_k

    def test_sparse_boundary(self):
        """n around the sparse limit: sparse while 4n + 4 < 8k, i.e. n <= 2k - 2."""
        lg_k = 6
        k = 1 << lg_k
        for n_coupons in (2 * k - 3, 2 * k - 2, 2 * k - 1, 2 * k):
            rows = np.arange(n_coupons, dtype=np.uint64) % np.uint64(k)
            cols = np.arange(n_coupons, dtype=np.uint64) // np.uint64(k)
            vals = rows | (np.uint64(1) << (cols + np.uint64(lg_k)))
            img = C.build(vals, lg_k)
            assert img == _old_build(vals, lg_k)
            assert img[2] == (0 if n_coupons * 4 + 4 < k * 8 else 1)
