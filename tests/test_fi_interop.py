"""DataSketches frequent-strings wire-format interop tests (structural
ground truth — no datasketches library in this environment; the layout is
asserted byte-for-byte against the published format and round-tripped)."""

import struct

import numpy as np

from datasketches_postgresql_spark.sketches import fi as FI
from datasketches_postgresql_spark.sketches import fi_interop as I


def _build(values, lg_k=6, weights=None):
    return FI.build(lg_k, values, weights)


class TestLayout:
    def test_empty_image(self):
        img = I.serialize(_build([]))
        assert len(img) == 8
        pre, ser, fam, lg_max, lg_cur, flags, _ = struct.unpack("<BBBBBBH", img)
        assert (pre, ser, fam, lg_max) == (1, 1, 10, 6)
        assert flags & 1  # EMPTY

    def test_full_image_layout(self):
        img = I.serialize(_build(["a", "b", "a", "c", "a", "b"]))
        pre, ser, fam, lg_max, lg_cur, flags, _ = struct.unpack_from("<BBBBBBH", img, 0)
        assert (pre, ser, fam, lg_max, flags) == (4, 1, 10, 6, 0)
        num, _, total, offset = struct.unpack_from("<IIQQ", img, 8)
        assert (num, total, offset) == (3, 6, 0)
        assert num <= 0.75 * (1 << lg_cur)  # cur map size admits the items
        weights = np.frombuffer(img, dtype="<u8", count=num, offset=32)
        # deterministic export order is lexicographic: a=3, b=2, c=1
        assert list(weights) == [3, 2, 1]
        pos = 32 + 8 * num
        names = []
        for _ in range(num):
            (ln,) = struct.unpack_from("<I", img, pos)
            pos += 4
            names.append(img[pos: pos + ln].decode())
            pos += ln
        assert names == ["a", "b", "c"]
        assert pos == len(img)  # nothing after the items


class TestRoundTrip:
    def test_exact_regime_lossless(self):
        sk = _build(["x"] * 5 + ["y"] * 3 + ["z"], weights=None)
        back = FI.FiState.deserialize(I.deserialize(I.serialize(sk)))
        rows = {s: (est, lb, ub) for s, est, lb, ub in back.result(FI.NO_FALSE_NEGATIVES, 0)}
        assert rows == {"x": (5, 5, 5), "y": (3, 3, 3), "z": (1, 1, 1)}
        assert back.total == 9 and back.offset == 0

    def test_weighted_roundtrip(self):
        sk = _build(["p", "q"], weights=[100, 7])
        back = FI.FiState.deserialize(I.deserialize(I.serialize(sk)))
        assert back.total == 107
        assert dict((s, e) for s, e, _, _ in back.result(FI.NO_FALSE_NEGATIVES, 0)) == {
            "p": 100, "q": 7,
        }

    def test_purged_regime_bounds_stay_valid(self):
        # lg_k=3 -> cap 6; 50 distinct items force purges
        rng = np.random.default_rng(5)
        vals = [f"it{i}" for i in rng.zipf(1.3, size=2000) if i < 50]
        sk = _build(vals, lg_k=3)
        orig = FI.FiState.deserialize(sk)
        back = FI.FiState.deserialize(I.deserialize(I.serialize(sk)))
        assert back.total == orig.total
        assert back.offset >= orig.offset  # folded per-item errors, never tighter-invalid
        truth = {}
        for v in vals:
            truth[v] = truth.get(v, 0) + 1
        for s, est, lb, ub in back.result(FI.NO_FALSE_NEGATIVES, 0):
            assert lb <= truth.get(s, 0) <= ub

    def test_unicode_items(self):
        sk = _build(["héllo", "héllo", "wörld"])
        back = FI.FiState.deserialize(I.deserialize(I.serialize(sk)))
        assert dict((s, e) for s, e, _, _ in back.result(FI.NO_FALSE_NEGATIVES, 0)) == {
            "héllo": 2, "wörld": 1,
        }

    def test_merge_after_import(self):
        a = I.deserialize(I.serialize(_build(["m"] * 4)))
        b = _build(["m"] * 2 + ["n"])
        merged = FI.FiState.deserialize(FI.merge(6, [a, b]))
        got = dict((s, e) for s, e, _, _ in merged.result(FI.NO_FALSE_NEGATIVES, 0))
        assert got == {"m": 6, "n": 1}

    def test_rejects_non_fi(self):
        import pytest

        with pytest.raises(ValueError):
            I.deserialize(b"\x02\x01\x0f\x00\x00\x00\x00\x00")  # KLL family byte


def _old_update(st, values):
    """Transcription of the unweighted FiState.update before factorization:
    np.unique over the object array, uniques inserted in sorted order."""
    uniq, counts = np.unique(np.asarray(values, dtype=object), return_counts=True)
    for s, w in zip(uniq.tolist(), counts.tolist()):
        if s is None:
            continue
        st.total += int(w)
        slot = st.items.get(s)
        if slot is None:
            st.items[s] = [int(w) + st.offset, st.offset]
        else:
            slot[0] += int(w)
    st._purge_if_needed()


def _zipf_strings(n, seed):
    ranks = np.minimum(np.random.default_rng(seed).zipf(1.1, size=n), 8192)
    return np.char.add("v", ranks.astype("U6")).astype(object)


class TestUpdateBytesUnchanged:
    def test_build_matches_old_update(self):
        """Exact and purged regimes (lg_k 14 holds every item, lg_k 9 and 4
        purge) give the old images byte for byte."""
        for lg_k in (4, 9, 14):
            for n in (0, 1, 100, 10_000, 100_000):
                vals = _zipf_strings(n, n)
                old = FI.FiState(lg_k)
                _old_update(old, vals)
                assert FI.build(lg_k, vals) == old.serialize(), (lg_k, n)

    def test_repeated_updates_match(self):
        """Updates into a state that already tracks items and carries an
        offset from earlier purges."""
        new, old = FI.FiState(5), FI.FiState(5)
        for seed in range(6):
            vals = _zipf_strings(3_000, 50 + seed)
            new.update(vals)
            _old_update(old, vals)
            assert new.offset > 0 or seed == 0
            assert new.serialize() == old.serialize(), seed

    def test_unicode_and_none(self):
        vals = ["héllo", "wörld", "", "héllo", "日本", "Z", "a", "日本", "héllo"]
        old = FI.FiState(6)
        _old_update(old, vals)
        assert FI.build(6, vals) == old.serialize()
        # None is skipped (np.unique could not sort it next to strings)
        assert FI.build(6, vals[:4] + [None] + vals[4:]) == FI.build(6, vals)
        assert FI.build(6, [None]) == FI.build(6, [])
