"""Unit tests for the dedup building blocks (numpy level + Spark level)."""

import numpy as np
import pandas as pd
import pytest

from datasketches_postgresql_spark.dedup.minhash import (
    minhash_signatures,
    simhash,
)
from datasketches_postgresql_spark.dedup.shingle import shingle_hash_batch
from datasketches_postgresql_spark.dedup.suffix import (
    lcp_adjacent_capped,
    shared_substring_pairs_pandas,
    suffix_array_with_levels,
)


class TestShingle:
    def test_batch_equals_per_doc(self):
        texts = pd.Series(["hello world this is a document", "another doc entirely", "hi"])
        batch = shingle_hash_batch(texts, n=5)
        for i, t in enumerate(texts):
            solo = shingle_hash_batch(pd.Series([t]), n=5)[0]
            assert np.array_equal(batch[i], solo), f"doc {i} differs"

    def test_identical_texts_identical_shingles(self):
        t = "the quick brown fox jumps over the lazy dog" * 3
        a, b = shingle_hash_batch(pd.Series([t, t]), n=9)
        assert np.array_equal(a, b)

    def test_short_doc_fallback(self):
        (h,) = shingle_hash_batch(pd.Series(["hi"]), n=9)
        assert h.size == 1
        (h2,) = shingle_hash_batch(pd.Series(["hj"]), n=9)
        assert h[0] != h2[0]

    def test_jaccard_of_near_dup(self):
        base = " ".join(f"word{i:03d}" for i in range(300))
        words = base.split()
        words[50] = "CHANGED"
        words[150] = "OTHER"
        near = " ".join(words)
        a, b = shingle_hash_batch(pd.Series([base, near]), n=9)
        j = np.intersect1d(a, b).size / np.union1d(a, b).size
        assert j > 0.9


class TestMinhash:
    def _sig_jaccard(self, a, b):
        return float(np.mean(a == b))

    def test_exact_dup_signature_equal(self):
        t = "some document text repeated enough to have many shingles " * 5
        sh = shingle_hash_batch(pd.Series([t, t]))
        sig = minhash_signatures(sh)
        assert np.array_equal(sig[0], sig[1])

    def test_signature_estimates_jaccard(self):
        rng = np.random.default_rng(0)
        base = rng.integers(0, 2**63, 2000, dtype=np.uint64)
        other = base.copy()
        other[:200] = rng.integers(0, 2**63, 200, dtype=np.uint64)  # J ~ 0.82
        sig = minhash_signatures([base, other], num_perm=128)
        true_j = np.intersect1d(base, other).size / np.union1d(base, other).size
        assert abs(self._sig_jaccard(sig[0], sig[1]) - true_j) < 0.12

    def test_chunking_invariance(self):
        import datasketches_postgresql_spark.dedup.minhash as mh

        rng = np.random.default_rng(1)
        docs = [rng.integers(0, 2**63, rng.integers(5, 500), dtype=np.uint64) for _ in range(40)]
        full = minhash_signatures(docs)
        old = mh._BLOCK_SHINGLES
        try:
            mh._BLOCK_SHINGLES = 16  # force many tiny blocks
            chunked = minhash_signatures(docs)
        finally:
            mh._BLOCK_SHINGLES = old
        assert np.array_equal(full, chunked)

    def test_simhash_hamming(self):
        rng = np.random.default_rng(2)
        base = rng.integers(0, 2**63, 3000, dtype=np.uint64)
        near = base.copy()
        near[:60] = rng.integers(0, 2**63, 60, dtype=np.uint64)
        far = rng.integers(0, 2**63, 3000, dtype=np.uint64)
        s = simhash([base, near, far])
        d_near = bin(int(s[0]) ^ int(s[1]) & (2**64 - 1)).count("1")
        d_far = bin((int(s[0]) ^ int(s[2])) & (2**64 - 1)).count("1")
        assert d_near <= 8
        assert d_far > 16


class TestSuffixArray:
    def test_suffix_array_banana(self):
        codes = np.frombuffer("banana".encode("utf-32-le"), dtype="<u4").astype(np.int64)
        sa, levels = suffix_array_with_levels(codes)
        # suffixes sorted: a(5) ana(3) anana(1) banana(0) na(4) nana(2)
        assert sa.tolist() == [5, 3, 1, 0, 4, 2]
        lcp = lcp_adjacent_capped(sa, levels, codes.size)
        assert lcp.tolist() == [1, 3, 0, 0, 2]

    def test_verifier_matches_suffix_array_oracle(self, spark):
        """Differential: the pipeline's winnowed L-gram verifier
        (sa_verify_pairs, with its own fingerprints and with the signature
        stage's fused ones) keeps exactly the pairs the suffix-array oracle
        finds, over ALL pairs of a corpus built around the decision
        boundary: shared spans of L-1, L and L+w chars, docs shorter than
        the winnow gram, boilerplate-wrapped containment, and docs sharing
        only sub-L boilerplate."""
        from itertools import combinations

        from datasketches_postgresql_spark.dedup.minhash import signature_stage
        from datasketches_postgresql_spark.dedup.suffix import (
            fused_winnow_table,
            sa_verify_pairs,
            winnow_params,
        )

        rng = np.random.default_rng(17)
        L = 200
        _, w = winnow_params(L)
        # spans and the two fillers use pairwise disjoint alphabets, so a
        # planted span's match length is exactly its own length
        draw = lambda abc, n: "".join(rng.choice(list(abc), size=n))  # noqa: E731
        span = lambda n: draw("abcdefgh ", n)  # noqa: E731
        fa = lambda n: draw("stuv", n)  # noqa: E731
        fb = lambda n: draw("wxyz", n)  # noqa: E731
        s_short, s_exact, s_long = span(L - 1), span(L), span(L + w)
        body = span(1200)
        header, footer = "site nav home | " + span(60), span(80) + " | copyright"
        texts = [
            fa(300) + s_short + fa(100), s_short + fb(250),
            fa(40) + s_exact + fa(300), fb(500) + s_exact,
            s_long + fa(10), fb(220) + s_long + fb(220),
            f"{header} {body} {footer}", f"{header} {body[300:900]} {footer}",
            f"{header} {fa(900)} {footer}", f"{header} {fb(900)} {footer}",
            "x", "x", fa(120), span(L - w),
            body, fb(700),
        ]
        ids = np.arange(1, len(texts) + 1) * 10
        pairs = [(int(a), int(b)) for a, b in combinations(ids, 2)]
        # the oracle per pair: over a whole group it emits only SA-adjacent
        # edges (connectivity, not every pair)
        text_of = dict(zip(ids.tolist(), texts))
        want = sorted(
            (a, b)
            for a, b in pairs
            if shared_substring_pairs_pandas(np.array([a, b]), [text_of[a], text_of[b]], L)
        )
        assert {(30, 40), (50, 60), (70, 80), (70, 150), (80, 150)} <= set(want)
        assert (10, 20) not in want and (90, 100) not in want

        extracted = spark.createDataFrame(
            [(int(i), t, f"https://h{i}.example/") for i, t in zip(ids, texts)],
            "doc_id long, text string, url string",
        )
        cands = spark.createDataFrame(pairs, "a long, b long")
        fused = fused_winnow_table(signature_stage(extracted, winnow_chars=L), L)
        for tbl in (None, fused):
            got = sorted(
                tuple(r)
                for r in sa_verify_pairs(cands, extracted, L, winnow_tbl=tbl).collect()
            )
            assert got == want, ("fused" if tbl is not None else "unfused", got)

    def test_containment_detection(self):
        container = " ".join(f"tok{i:04d}" for i in range(200))
        contained = " ".join(f"tok{i:04d}" for i in range(50, 150))
        unrelated = " ".join(f"other{i:04d}" for i in range(100))
        pairs = shared_substring_pairs_pandas(
            np.array([10, 20, 30]), [container, contained, unrelated]
        )
        assert (10, 20) in pairs
        assert all(30 not in p for p in pairs)

    def test_boilerplate_wrapped_containment(self):
        # contained text wrapped in (short) boilerplate still detected —
        # the criterion is a shared >=L substring, not full-text containment
        body = " ".join(f"tok{i:04d}" for i in range(200))
        sub = " ".join(f"tok{i:04d}" for i in range(60, 140))
        boiler_a, boiler_b = "site nav home", "copyright footer"
        pairs = shared_substring_pairs_pandas(
            np.array([1, 2]),
            [f"{boiler_a} {body} {boiler_b}", f"{boiler_a} {sub} {boiler_b}"],
        )
        assert (1, 2) in pairs

    def test_exact_dup_detected_as_mutual(self):
        t = "identical document body " * 20
        pairs = shared_substring_pairs_pandas(np.array([1, 2]), [t, t])
        assert (1, 2) in pairs

    def test_no_false_positive_across_sentinel(self):
        # match length is clamped at doc ends: two 100-char docs can never
        # produce a >=150 match even though the concatenation repeats
        pairs = shared_substring_pairs_pandas(
            np.array([1, 2]), ["x" * 100, "x" * 100], min_match_chars=150
        )
        assert pairs == []
        pairs2 = shared_substring_pairs_pandas(
            np.array([1, 2]), ["x" * 100, "x" * 100], min_match_chars=80
        )
        assert (1, 2) in pairs2

    def test_short_boilerplate_not_paired(self):
        a = "site nav home " + " ".join(f"aw{i}" for i in range(300))
        b = "site nav home " + " ".join(f"bw{i}" for i in range(300))
        assert shared_substring_pairs_pandas(np.array([1, 2]), [a, b]) == []


class TestFusedShingleChunks:
    def test_fused_kernel_matches_standalone(self):
        import numpy as np
        import pandas as pd

        from datasketches_postgresql_spark.dedup.chunking import (
            chunk_hashes_batch,
            shingle_and_chunks_batch,
        )
        from datasketches_postgresql_spark.dedup.shingle import shingle_hash_batch

        rng = np.random.default_rng(0)
        cases = [
            "", "a", "ababab", "x" * 8, "y" * 9, "z" * 31, "w" * 32,
            "hello world " * 500, None,
            "".join(rng.choice(list("abcdef "), 70000)),
        ]
        texts = pd.Series(cases)
        sh1 = shingle_hash_batch(texts)
        ch1 = chunk_hashes_batch(texts)
        sh2, ch2 = shingle_and_chunks_batch(texts)
        for a, b in zip(sh1, sh2):
            assert np.array_equal(a, b)
        for a, b in zip(ch1, ch2):
            assert np.array_equal(a, b)

    def test_fused_batching_independence(self):
        # chunk + shingle hashes must not depend on which docs share a batch
        import numpy as np
        import pandas as pd

        from datasketches_postgresql_spark.dedup.chunking import (
            shingle_and_chunks_batch,
        )

        rng = np.random.default_rng(1)
        docs = ["".join(rng.choice(list("abcdefgh "), rng.integers(40, 3000)))
                for _ in range(50)]
        sh_all, ch_all = shingle_and_chunks_batch(pd.Series(docs))
        for i in (0, 7, 23, 49):
            sh_one, ch_one = shingle_and_chunks_batch(pd.Series([docs[i]]))
            assert np.array_equal(sh_all[i], sh_one[0])
            assert np.array_equal(ch_all[i], ch_one[0])


class TestWinnowedVerify:
    """The de-texted substring verify: winnowed prefilter + exact L-gram
    arrays_overlap (suffix.sa_verify_pairs, round-3 rework)."""

    def test_sliding_min_matches_naive(self):
        from datasketches_postgresql_spark.dedup.suffix import _sliding_min_u64

        rng = np.random.default_rng(3)
        for m, w in [(1, 1), (5, 3), (10, 10), (100, 7), (64, 64), (65, 64), (333, 50)]:
            h = rng.integers(0, 2**63, size=m, dtype=np.uint64)
            got = _sliding_min_u64(h, w)
            exp = (
                np.array([h[i : i + w].min() for i in range(m - w + 1)], dtype=np.uint64)
                if m >= w
                else np.array([h.min()], dtype=np.uint64)
            )
            assert np.array_equal(got, exp), (m, w)

    def test_prefilter_never_drops_true_pair(self):
        """Winnowing guarantee: a shared verbatim substring of EXACTLY L chars
        yields overlapping fingerprint sets (one full window fits inside)."""
        from datasketches_postgresql_spark.dedup.suffix import winnowed_fingerprints

        rng = np.random.default_rng(7)
        L = 200
        for trial in range(20):
            shared = "".join(rng.choice(list("abcdefgh "), size=L))
            t1 = "".join(rng.choice(list("uvwxyz"), size=int(rng.integers(0, 400)))) + shared
            t2 = shared + "".join(rng.choice(list("klmnop"), size=int(rng.integers(0, 400))))
            f1 = winnowed_fingerprints(t1, L)
            f2 = winnowed_fingerprints(t2, L)
            assert np.intersect1d(f1, f2).size > 0, f"trial {trial}"

    def test_confirm_tier_guarantee_and_soundness(self):
        """Confirm fingerprints (winnow_pair_fingerprints[1]): a shared
        substring of >= L + w - 1 chars MUST produce overlapping confirm
        sets (guarantee), and any confirm overlap must be a genuine shared
        L-gram hash (soundness vs lgram_hashes) — i.e. a confirm hit is
        proof under the exact phase's own criterion."""
        from datasketches_postgresql_spark.dedup.suffix import (
            lgram_hashes,
            winnow_pair_fingerprints,
            winnow_params,
        )

        rng = np.random.default_rng(13)
        L = 200
        _, w = winnow_params(L)
        for trial in range(10):
            shared = "".join(rng.choice(list("abcdefgh "), size=L + w - 1))
            t1 = "".join(rng.choice(list("uvwxyz"), size=150)) + shared
            t2 = shared + "".join(rng.choice(list("klmnop"), size=150))
            f1, c1 = winnow_pair_fingerprints(t1, L)
            f2, c2 = winnow_pair_fingerprints(t2, L)
            hit = np.intersect1d(c1, c2)
            assert hit.size > 0, f"trial {trial}: confirm guarantee violated"
            assert np.intersect1d(f1, f2).size > 0
            # soundness: every confirm fp is one of the doc's L-gram hashes
            assert np.isin(c1, lgram_hashes(t1, L)).all()
            assert np.isin(c2, lgram_hashes(t2, L)).all()
        # below the confirm threshold the pair may be unconfirmed, but the
        # filter tier still guarantees survival for a >= L match
        shared = "".join(rng.choice(list("abcdefgh "), size=L))
        f1, _c1 = winnow_pair_fingerprints("x" * 300 + shared, L)
        f2, _c2 = winnow_pair_fingerprints(shared + "y" * 300, L)
        assert np.intersect1d(f1, f2).size > 0

    def test_batched_winnow_matches_scalar(self):
        """winnow_pair_fingerprints_batch over a mixed batch (long docs,
        short docs below L, below L', empty) returns, per doc, EXACTLY the
        scalar kernel's (filter, confirm) arrays — the concatenation seams
        and global-offset hashing must be invisible."""
        from datasketches_postgresql_spark.dedup.suffix import (
            winnow_pair_fingerprints,
            winnow_pair_fingerprints_batch,
            winnow_params,
        )

        rng = np.random.default_rng(29)
        L = 200
        Lp, w = winnow_params(L)
        alphabet = list("abcdefghij klmnop")
        texts = []
        for size in [0, 1, Lp - 1, Lp, L - 1, L, L + w - 2, L + w - 1, 500, 3000]:
            texts.append("".join(rng.choice(alphabet, size=size)))
        # duplicated content at different batch positions must hash identically
        texts.append(texts[-1])
        bf, bc = winnow_pair_fingerprints_batch(texts, L)
        assert len(bf) == len(bc) == len(texts)
        for i, t in enumerate(texts):
            sf, sc = winnow_pair_fingerprints(t, L)
            assert np.array_equal(bf[i], sf), f"doc {i} (len {len(t)}) filter tier"
            assert np.array_equal(bc[i], sc), f"doc {i} (len {len(t)}) confirm tier"
        assert np.array_equal(bf[-1], bf[-2]) and np.array_equal(bc[-1], bc[-2])
        # singleton batch == scalar, and empty batch is well-formed
        one_f, one_c = winnow_pair_fingerprints_batch([texts[-1]], L)
        assert np.array_equal(one_f[0], bf[-1]) and np.array_equal(one_c[0], bc[-1])
        assert winnow_pair_fingerprints_batch([], L) == ([], [])

    def test_batched_winnow_block_boundaries(self, monkeypatch):
        """Sub-blocking (the mmap-threshold cap) is invisible: forcing a
        tiny block size so the batch spans many blocks — including a doc
        bigger than the cap, which must get a solo block — yields exactly
        the unblocked output."""
        import datasketches_postgresql_spark.dedup.suffix as sx

        rng = np.random.default_rng(31)
        L = 200
        alphabet = list("abcdefghij klmnop")
        texts = ["".join(rng.choice(alphabet, size=int(s))) for s in rng.integers(150, 900, size=12)]
        texts.append("".join(rng.choice(alphabet, size=5000)))  # > block cap below
        want = sx.winnow_pair_fingerprints_batch(texts, L)
        monkeypatch.setattr(sx, "_WINNOW_BLOCK_CODES", 1000)
        got = sx.winnow_pair_fingerprints_batch(texts, L)
        for a, b in zip(want[0] + want[1], got[0] + got[1]):
            assert np.array_equal(a, b)

    def test_sa_verify_pairs_exact_semantics(self, spark):
        """End-to-end: keeps exactly the pairs sharing >= L verbatim chars;
        a pair sharing L-1 chars is rejected by the exact phase even though
        the winnowed prefilter may pass it."""
        from datasketches_postgresql_spark.dedup.suffix import sa_verify_pairs

        rng = np.random.default_rng(11)
        L = 200
        shared = "".join(rng.choice(list("abcdefgh "), size=L))
        near = shared[:-1]  # L-1 chars: must NOT verify
        mk = lambda n, abc: "".join(rng.choice(list(abc), size=n))
        docs = [
            (1, mk(300, "uvw") + shared + mk(100, "xyz")),
            (2, mk(50, "klm") + shared),
            (3, mk(250, "pqr") + near + mk(250, "stu")),
            (4, near + mk(400, "efg")),
            (5, mk(600, "hij")),
            (6, mk(600, "nop")),
        ]
        extracted = spark.createDataFrame(docs, "doc_id long, text string")
        cands = spark.createDataFrame(
            [(1, 2), (3, 4), (5, 6), (1, 5)], "a long, b long"
        )
        got = sorted(
            tuple(r) for r in sa_verify_pairs(cands, extracted, L).collect()
        )
        assert got == [(1, 2)]


class TestSkewBoundedCandidates:
    """Evidence for the north rule's 'skew handled explicitly' clause: a
    pathological LSH bucket (boilerplate shared by every doc — the web-crawl
    worst case) must cost O(bucket) candidate edges, not O(bucket^2), while
    keeping full connectivity so no true duplicate pair is lost."""

    def test_mega_bucket_emits_linear_star_edges(self, spark):
        from datasketches_postgresql_spark.dedup.lsh import candidate_edges
        from datasketches_postgresql_spark.dedup.minhash import signature_stage

        n = 3000
        rows = [(i, f"https://h/{i}", "common boilerplate page text " * 30) for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id long, url string, text string")
        edges = candidate_edges(signature_stage(df)).collect()
        # identical texts -> identical signatures -> every band bucket holds
        # all n docs; the hybrid path stars each doc to the signature
        # sub-group minimum: exactly n-1 edges (all-pairs would be ~4.5M)
        assert len(edges) == n - 1
        assert all(e["a"] == 0 for e in edges)
        assert sorted(e["b"] for e in edges) == list(range(1, n))

    def test_mega_bucket_clusters_completely(self, spark):
        """The star edges must survive verification (signature-identical =>
        jaccard_est 1.0) and resolve to ONE cluster containing every doc."""
        from datasketches_postgresql_spark.dedup.cc import connected_components
        from datasketches_postgresql_spark.dedup.lsh import candidate_edges
        from datasketches_postgresql_spark.dedup.minhash import signature_stage
        from datasketches_postgresql_spark.dedup.verify import verify_edges

        n = 500
        rows = [(i, f"https://h/{i}", "shared boilerplate body " * 40) for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id long, url string, text string")
        sigs = signature_stage(df)
        verified = verify_edges(candidate_edges(sigs), sigs)
        clusters = connected_components(verified).collect()
        assert len(clusters) == n
        assert len({r["cluster_id"] for r in clusters}) == 1
