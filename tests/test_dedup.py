"""Dedup + similarity operators vs independent pure-Python/numpy oracles on
the real sf0.001 documents/embeddings tables."""

import os

import numpy as np
import pytest

from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark.functions.hashing import h60_py
from spark_ml_spatialjointransformer_spark.operators import dedup, similarity
from spark_ml_spatialjointransformer_spark.sources.tables import load_table

SF = os.environ.get("SJT_TEST_SF_DIR", "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# python oracles (mirror the JVM expression trees bit-for-bit)
# ---------------------------------------------------------------------------

def py_shingles(text: str, n: int = 3) -> set[str]:
    toks = text.lower().split(" ")
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


def py_minhash(text: str, k: int = 64, n: int = 3) -> list[int]:
    hashes = {h60_py(s) % dedup.MINHASH_PRIME for s in py_shingles(text, n)}
    if not hashes:
        return []
    return [
        min((h * a + b) % dedup.MINHASH_PRIME for h in hashes)
        for a, b in dedup.minhash_coefficients(k)
    ]


def py_token_hash60(t: str) -> int:
    return h60_py(t)


def py_simhash(text: str) -> int:
    hashes = {py_token_hash60(t) for t in text.lower().split(" ")}
    out = 0
    for i in range(dedup.SIMHASH_BITS):
        cnt = sum(1 for h in hashes if (h >> i) & 1)
        if 2 * cnt >= len(hashes):
            out |= 1 << i
    return out


@pytest.fixture(scope="module")
def docs_pd(spark):
    return load_table(spark, SF, "documents").select("doc_id", "text").toPandas()


def test_minhash_signature_matches_python(spark, docs_pd):
    df = load_table(spark, SF, "documents").limit(50)
    got = df.select(
        "doc_id", dedup.minhash_signature_col(F.col("text"), k=16).alias("sig")
    ).collect()
    lookup = dict(zip(docs_pd.doc_id, docs_pd.text))
    for row in got:
        assert list(row.sig) == py_minhash(lookup[row.doc_id], k=16), row.doc_id


def test_simhash_matches_python(spark, docs_pd):
    df = load_table(spark, SF, "documents").limit(50)
    got = df.select("doc_id", dedup.simhash_col(F.col("text")).alias("sh")).collect()
    lookup = dict(zip(docs_pd.doc_id, docs_pd.text))
    for row in got:
        assert row.sh == py_simhash(lookup[row.doc_id]), row.doc_id


def test_minhash_lsh_pairs_subset_of_similar(spark, docs_pd):
    """Every emitted pair's estimate must equal the python signature
    agreement; and high-threshold pairs must have real Jaccard > 0."""
    pairs = dedup.minhash_lsh_pairs(
        load_table(spark, SF, "documents"), "doc_id", "text", k=32, bands=16,
        threshold=0.2,
    ).collect()
    lookup = dict(zip(docs_pd.doc_id, docs_pd.text))
    sigs = {d: py_minhash(t, k=32) for d, t in lookup.items()}
    for r in pairs:
        sa, sb = sigs[r.id_a], sigs[r.id_b]
        est = sum(1 for x, y in zip(sa, sb) if x == y) / 32.0
        assert r.est_jaccard_e6 == round(est * 1_000_000)
        ja = py_shingles(lookup[r.id_a])
        jb = py_shingles(lookup[r.id_b])
        assert ja & jb, "estimated-similar pair shares no shingle"


def test_minhash_lsh_pairs_cap_above_buckets_is_uncapped(spark):
    """The capped band join with a cap far above every bucket size drops
    nothing, so it must emit exactly the uncapped set — on each supported
    output flavor (estimate-filtered and candidate-generation with sizes)
    — and the first-match filter must emit every pair once."""
    docs = load_table(spark, SF, "documents")
    for kwargs in (
        {"threshold": 0.2},
        {"threshold": 0.0, "with_sizes": True},
    ):
        uncapped = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=32, bands=16, **kwargs
        ).collect()
        capped = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", k=32, bands=16, max_bucket=10**9, **kwargs
        ).collect()
        assert sorted(map(tuple, uncapped)) == sorted(map(tuple, capped)), kwargs
        assert len({(r[0], r[1]) for r in uncapped}) == len(uncapped), (
            "a candidate pair was emitted more than once"
        )


def test_simhash_pairs_hamming_correct(spark, docs_pd):
    pairs = dedup.simhash_pairs(
        load_table(spark, SF, "documents"), "doc_id", "text", max_hamming=8
    ).collect()
    lookup = dict(zip(docs_pd.doc_id, docs_pd.text))
    found = {(r.id_a, r.id_b): r.hamming for r in pairs}
    # verify every reported hamming, and completeness against brute force
    sims = {d: py_simhash(t) for d, t in lookup.items()}
    ids = sorted(sims)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sims[a] ^ sims[b]).count("1")
            if h <= 8:
                expected[(a, b)] = h
    assert found == expected


def test_shingle_h60_matches_shingles_then_h60(spark, docs_pd):
    """The exact tier's fused shingle-hash kernel equals ``shingles_udf``
    followed by ``h60_py`` — the same tokenization contract, including
    docs shorter than n and non-string docs (both yield no shingles)."""
    import pandas as pd

    texts = list(docs_pd.text[:40]) + [
        "",
        "one",
        "two words",
        "Three Words Here",
        "a  b c",
        None,
        42,
    ]
    for n in (1, 3):
        got = dedup._shingle_h60(n)(pd.Series(texts, dtype=object))
        want = dedup.shingles_udf(n).func(pd.Series(texts, dtype=object))
        for g, w in zip(got, want):
            assert sorted(g) == sorted(h60_py(s) for s in w)


def test_ngram_jaccard_exact(spark, docs_pd):
    got = {
        (r.id_a, r.id_b): r.jaccard_e6
        for r in dedup.ngram_jaccard_pairs(
            load_table(spark, SF, "documents"), "doc_id", "text", threshold=0.15
        ).collect()
    }
    lookup = dict(zip(docs_pd.doc_id, docs_pd.text))
    sh = {d: py_shingles(t) for d, t in lookup.items()}
    ids = sorted(sh)
    expected = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter:
                j = round(inter * 1_000_000.0 / len(sh[a] | sh[b]))
                if j >= 150_000:
                    expected[(a, b)] = j
    assert got == expected
    assert len(got) > 0


def test_dedup_assign_keeper(spark):
    pairs = spark.createDataFrame(
        [(1, 5), (1, 7), (2, 9)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in [1, 2, 5, 7, 9, 11]], "doc_id long")
    out = {
        r.doc_id: (r.keeper, r.is_dup)
        for r in dedup.dedup_assign_keeper(pairs, ids, "doc_id").collect()
    }
    assert out == {
        1: (1, False),
        2: (2, False),
        5: (1, True),
        7: (1, True),
        9: (2, True),
        11: (11, False),
    }


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def emb_np(spark):
    pdf = load_table(spark, SF, "embeddings").select("vec_id", "embedding").toPandas()
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf.embedding])
    return pdf.vec_id.to_numpy(), mat


def test_srp_bucket_matches_numpy(spark, emb_np):
    ids, mat = emb_np
    planes = np.array(similarity.srp_planes(8, mat.shape[1]))
    signs = (mat @ planes.T) > 0
    expected = dict(zip(ids, (signs * (1 << np.arange(8))).sum(axis=1)))
    got = (
        load_table(spark, SF, "embeddings")
        .select(
            "vec_id",
            similarity.srp_bucket_col(
                F.col("embedding").cast("array<double>"), 8, mat.shape[1]
            ).alias("b"),
        )
        .collect()
    )
    for r in got:
        assert r.b == expected[r.vec_id], r.vec_id


def test_lsh_neardup_sound_and_useful(spark, emb_np):
    ids, mat = emb_np
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    cos = norm @ norm.T
    id_to_ix = {v: i for i, v in enumerate(ids)}
    got = similarity.lsh_neardup_pairs(
        load_table(spark, SF, "embeddings"), "vec_id", "embedding",
        dim=mat.shape[1], threshold=0.3, n_planes=6,
    ).collect()
    assert len(got) > 0  # synthetic data has ~900 true pairs at cos>=0.3
    for r in got:
        true_cos = cos[id_to_ix[r.id_a], id_to_ix[r.id_b]]
        assert abs(r.cos_e6 - round(true_cos * 1_000_000)) <= 1
        assert true_cos >= 0.3 - 1e-6


def test_lsh_neardup_bands_raise_recall(spark, emb_np):
    """Multi-band SRP must find a superset of single-band pairs (same plane
    stream prefix), stay duplicate-free, and keep exact cosines."""
    ids, mat = emb_np
    kw = dict(dim=mat.shape[1], threshold=0.3, n_planes=6)
    emb_df = load_table(spark, SF, "embeddings")
    one = {(r.id_a, r.id_b) for r in similarity.lsh_neardup_pairs(
        emb_df, "vec_id", "embedding", bands=1, **kw).collect()}
    rows = similarity.lsh_neardup_pairs(
        emb_df, "vec_id", "embedding", bands=3, **kw).collect()
    three = {(r.id_a, r.id_b) for r in rows}
    assert len(rows) == len(three)  # first-match dedup leaves no duplicates
    assert one <= three
    assert len(three) > len(one)  # extra bands recovered split pairs


def test_brute_force_topk_matches_numpy(spark, emb_np):
    ids, mat = emb_np
    norm = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    emb_df = load_table(spark, SF, "embeddings")
    queries = emb_df.where(F.col("vec_id") % 250 == 0)
    got = similarity.brute_force_topk(
        emb_df, queries, "vec_id", "embedding", "vec_id", "embedding", k=5
    ).collect()
    id_to_ix = {v: i for i, v in enumerate(ids)}
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r.id)
    for qid, neighbors in by_q.items():
        sims = norm @ norm[id_to_ix[qid]]
        order = sorted(
            (v for v in ids if v != qid),
            key=lambda v: (-sims[id_to_ix[v]], v),
        )
        assert neighbors == order[:5], qid


def test_connected_components_chain(spark):
    """A≈B≈C chains collapse to one keeper even when the endpoints are not
    directly paired — the case one-hop assignment gets wrong."""
    pairs = spark.createDataFrame(
        [(5, 7), (7, 9), (2, 3), (9, 11)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in [2, 3, 5, 7, 9, 11, 20]], "doc_id long")
    out = {
        r.doc_id: (r.keeper, r.is_dup)
        for r in dedup.dedup_connected_components(pairs, ids, "doc_id").collect()
    }
    assert out == {
        2: (2, False),
        3: (2, True),
        5: (5, False),
        7: (5, True),
        9: (5, True),
        11: (5, True),
        20: (20, False),
    }


def test_connected_components_deep_chain_log_rounds(spark):
    """A 400-hop path graph (worst case for plain min-propagation, which
    needs a round per hop) must converge within a logarithmic round budget
    thanks to pointer doubling — and must NOT silently return non-converged
    labels (the loop raises if the budget is exhausted)."""
    n = 400
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a long, id_b long"
    )
    ids = spark.createDataFrame([(i,) for i in range(n + 1)], "doc_id long")
    out = {
        r.doc_id: r.keeper
        for r in dedup.dedup_connected_components(
            pairs, ids, "doc_id", max_iters=12
        ).collect()
    }
    assert all(k == 0 for k in out.values())
    assert len(out) == n + 1


def test_connected_components_vs_union_find(spark, docs_pd):
    """Real t5 pair graph at sf0.001 vs an independent python union-find."""
    docs = load_table(spark, SF, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.4)
    pair_rows = [(r.id_a, r.id_b) for r in pairs.collect()]
    got = {
        r.doc_id: r.keeper
        for r in dedup.dedup_connected_components(
            pairs.select("id_a", "id_b"), docs.select("doc_id"), "doc_id"
        ).collect()
    }

    parent: dict[int, int] = {int(d): int(d) for d in docs_pd.doc_id}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pair_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {d: find(d) for d in parent}
    assert got == expected
    assert any(k != d for d, k in got.items())  # non-trivial components exist


class TestHotBandCap:
    """Skew hardening: the max_bucket cap bounds per-(band, key) bucket
    size — the quantity that bounds a self-join task's pair fanout —
    without touching normal-corpus output."""

    def _corpus(self, spark, n_hot=60):
        template = "breaking news boilerplate header repeated across the whole mirror site"
        rows = [(i, template) for i in range(n_hot)]
        rows += [
            (1000, "a genuinely unique document about distributed query planning and shuffles"),
            (1001, "a genuinely unique document about distributed query planning and shuffle"),
            (1002, "nothing in common with anything else here at all whatsoever to see"),
        ]
        return spark.createDataFrame(rows, "doc_id long, text string")

    def test_cap_suppresses_hot_cluster_keeps_cool_pair(self, spark):
        docs = self._corpus(spark)
        capped = dedup.neardup_pairs_lsh_verified(
            docs, "doc_id", "text", threshold=0.6, max_bucket=10
        ).collect()
        got = {(r.id_a, r.id_b) for r in capped}
        # the cool near-dup pair survives; no hot-template pair does
        assert (1000, 1001) in got
        assert all(a >= 1000 and b >= 1000 for a, b in got)
        # uncapped: the hot cluster floods 60*59/2 pairs
        uncapped = dedup.neardup_pairs_lsh_verified(
            docs, "doc_id", "text", threshold=0.6
        ).count()
        assert uncapped >= 60 * 59 // 2

    def test_surviving_buckets_bounded(self, spark):
        """Bounded task skew: after the cap every (band, key) bucket the
        self-join sees holds <= max_bucket rows (verified by replaying
        the banding on the capped candidate generation's own inputs)."""
        docs = self._corpus(spark)
        cap = 10
        # candidate mode (threshold=0): every surviving band collision
        cand = dedup.minhash_lsh_pairs(
            docs, "doc_id", "text", threshold=0.0, max_bucket=cap
        )
        # a bucket of size B contributes <= B*(B-1)/2 pairs in its band;
        # with every surviving bucket <= cap, no (id_a) appears with more
        # than (cap-1)*bands partners
        from collections import Counter

        deg = Counter()
        for r in cand.collect():
            deg[r.id_a] += 1
            deg[r.id_b] += 1
        assert all(v <= (cap - 1) * 16 for v in deg.values())

    def test_high_cap_is_identity_on_normal_data(self, spark):
        docs = load_table(spark, SF, "documents")
        base = sorted(
            (r.id_a, r.id_b, r.jaccard_e6)
            for r in dedup.neardup_pairs_lsh_verified(
                docs, "doc_id", "text", threshold=0.6
            ).collect()
        )
        capped = sorted(
            (r.id_a, r.id_b, r.jaccard_e6)
            for r in dedup.neardup_pairs_lsh_verified(
                docs, "doc_id", "text", threshold=0.6, max_bucket=100_000
            ).collect()
        )
        assert base == capped

    def test_cap_below_pair_size_rejected(self, spark):
        docs = self._corpus(spark, n_hot=3)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="max_bucket"):
            dedup.minhash_lsh_pairs(
                docs, "doc_id", "text", max_bucket=1
            ).count()


class TestHammingPairs:
    """Generic pigeonhole Hamming join over an int hash column."""

    def test_exact_pairs_small(self, spark):
        rows = [
            (1, 0b10110011),
            (2, 0b10110010),  # d(1,2)=1
            (3, 0b10110011),  # d(1,3)=0
            (4, 0b01001100),  # far from all
            (5, 0b10010011),  # d(1,5)=1, d(3,5)=1, d(2,5)=2
        ]
        df = spark.createDataFrame(rows, "id long, h long")
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in dedup.hamming_pairs(df, "id", "h", bits=8, max_hamming=2).collect()
        }
        import itertools

        want = {}
        vals = dict(rows)
        for a, b in itertools.combinations(sorted(vals), 2):
            d = bin(vals[a] ^ vals[b]).count("1")
            if d <= 2:
                want[(a, b)] = d
        assert got == want

    def test_recall_is_exact_within_radius(self, spark):
        """Pigeonhole guarantee: EVERY pair within max_hamming appears
        (bands are exact, not probabilistic) — checked against a python
        brute force on 200 structured hashes."""
        import itertools

        rows = [(i, (i * 2654435761) % (1 << 35)) for i in range(100)]
        rows += [(1000 + i, rows[i][1] ^ (1 << (i % 35))) for i in range(50)]
        df = spark.createDataFrame(rows, "id long, h long")
        got = {
            (r.id_a, r.id_b)
            for r in dedup.hamming_pairs(df, "id", "h", bits=35, max_hamming=3).collect()
        }
        vals = dict(rows)
        want = {
            (a, b)
            for a, b in itertools.combinations(sorted(vals), 2)
            if bin(vals[a] ^ vals[b]).count("1") <= 3
        }
        assert got == want
        assert len(want) >= 50  # the planted neighbors are present

    def test_rejects_bad_params(self, spark):
        import pytest as _pytest

        df = spark.createDataFrame([(1, 2)], "id long, h long")
        with _pytest.raises(ValueError, match="bits"):
            dedup.hamming_pairs(df, "id", "h", bits=0)
        with _pytest.raises(ValueError, match="bands"):
            dedup.hamming_pairs(df, "id", "h", bits=2, max_hamming=5)

    def test_max_bucket_drops_lowest_band_hot_pairs(self, spark):
        """Skew cap on the generic Hamming join: a pair whose LOWEST
        matching band bucket is hot is suppressed even when a later cool
        band also matches; pairs keyed to cool bands survive."""
        # bits=8, max_hamming=1 -> 2 bands: [0,4) and [4,8)
        # ids 1-4: identical hash -> band-0 bucket (and band-1) size 4 > 2
        # ids 10,11: differ in bit 6 only -> lowest matching band = 0,
        #   their band-0 bucket has 2 rows (cool) -> pair survives
        rows = [(i, 0b10100101) for i in (1, 2, 3, 4)]
        rows += [(10, 0b00011010), (11, 0b01011010)]
        df = spark.createDataFrame(rows, "id long, h long")
        got = {
            (r.id_a, r.id_b)
            for r in dedup.hamming_pairs(
                df, "id", "h", bits=8, max_hamming=1, max_bucket=2
            ).collect()
        }
        assert got == {(10, 11)}
        # uncapped: the 4-clique is back
        uncapped = {
            (r.id_a, r.id_b)
            for r in dedup.hamming_pairs(
                df, "id", "h", bits=8, max_hamming=1
            ).collect()
        }
        assert {(1, 2), (1, 3), (3, 4), (10, 11)} <= uncapped
        with pytest.raises(ValueError, match="max_bucket"):
            dedup.hamming_pairs(df, "id", "h", bits=8, max_bucket=1)

    def test_simhash_max_bucket(self, spark):
        """simhash_pairs exposes the same cap: template texts collapsing
        onto one signature are dropped; a cool near-dup pair survives."""
        template = "spark catalyst tungsten adaptive execution shuffle "
        rows = [(i, template) for i in range(1, 6)]  # 5 identical docs
        rows += [
            (20, "completely different content about geodesic joins here"),
            (21, "completely different content about geodesic joins there"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        capped = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_pairs(
                df, "doc_id", "text", max_hamming=5, max_bucket=3
            ).collect()
        }
        uncapped = {
            (r.id_a, r.id_b)
            for r in dedup.simhash_pairs(
                df, "doc_id", "text", max_hamming=5
            ).collect()
        }
        assert (1, 2) in uncapped and (1, 2) not in capped
        assert capped == uncapped - {
            (a, b) for a in range(1, 6) for b in range(1, 6) if a < b
        }

    def test_single_63_bit_band(self, spark):
        """max_hamming=0 with bits=63 makes ONE 63-bit band — the r10 band
        key used `% (1 << width)` whose literal 2**63 overflows LongType
        at plan time; the bitmask form (2**63-1 fits) must plan AND find
        exactly the equal pairs."""
        big = (1 << 62) | 123_456_789
        rows = [(1, big), (2, big), (3, big ^ 1), (4, 7)]
        df = spark.createDataFrame(rows, "id long, h long")
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in dedup.hamming_pairs(
                df, "id", "h", bits=63, max_hamming=0
            ).collect()
        }
        assert got == {(1, 2): 0}

    def test_sign_bit_hash_still_pairs(self, spark):
        """A caller passing full 64-bit hashes (sign bit set) with
        bits=63 must still get every low-63-bit match: arithmetic
        shiftright yields NEGATIVE intermediates whose signed remainder
        (the r10 key) differs between congruent values — the bitmask key
        is sign-agnostic."""
        x = (1 << 40) | 12_345  # positive, low 63 bits = P
        y = x - (1 << 63)  # negative: SAME low 63 bits, sign bit set
        rows = [(1, x), (2, y)]
        df = spark.createDataFrame(rows, "id long, h long")
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in dedup.hamming_pairs(
                df, "id", "h", bits=63, max_hamming=1
            ).collect()
        }
        # full-64-bit xor differs only at the sign bit -> hamming 1; the
        # signed-remainder key would have missed the candidate entirely
        assert got == {(1, 2): 1}
