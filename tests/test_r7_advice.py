"""Round-7 regression tests pinning r6 ADVICE.md fixes 2-5 (fix 1, the
stream flush sentinels of streaming/windowed.py _flushed_events_dir, is
pinned in tests/test_multimodal_streaming.py TestOuterJoinStream):

2. triangles_per_node fails loud on ids that would collide the packed
   (degree, id) orientation key (operators/graph.py);
3. frame_byte_sums walks any netpbm-legal header, not just the byte
   layout encode_ppm writes (operators/multimodal.py);
4. kmeans_int guards the [-1, 1] input range and seeds from the k
   lowest OBSERVED ids (operators/similarity.py);
5. image_ahash / audio_fingerprint grow a strict=False poison-row mode
   (operators/multimodal.py).
"""

import numpy as np
import pytest

from pyspark.sql import functions as F

from spark_ml_spatialjointransformer_spark.operators import multimodal


class TestOrientKeyGuard:
    def test_big_id_fails_loud(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.graph import (
            triangles_per_node,
        )

        # deg=2,id=5 vs deg=1,id=10000005 would pack to the same key;
        # the guard must refuse rather than silently undercount
        pairs = [(10_000_005, 1), (1, 2), (2, 10_000_005)]
        df = spark.createDataFrame(pairs, "a long, b long")
        with pytest.raises(Exception, match="orientation key"):
            triangles_per_node(df, "a", "b").collect()

    def test_max_legal_id_still_counts(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.graph import (
            triangles_per_node,
        )

        hi = 9_999_999  # largest id the packed key supports
        pairs = [(hi, 1), (1, 2), (2, hi)]
        df = spark.createDataFrame(pairs, "a long, b long")
        got = {r.id: r.n_tri for r in triangles_per_node(df, "a", "b").collect()}
        assert got == {1: 1, 2: 1, hi: 1}


class TestFrameWalkerHeaders:
    def test_comment_variant_header_does_not_desync(self, spark):
        img = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
        std = multimodal.encode_ppm(img)
        # netpbm-legal but NOT what encode_ppm writes: comment + padding
        weird = b"P6\n# made elsewhere\n 3  3 \n255\n" + img.tobytes()
        blob = std + weird + std
        df = spark.createDataFrame(
            [(1, bytearray(blob))], "vid long, video binary"
        )
        out = (
            multimodal.frame_byte_sums(df, "video", id_cols=("vid",))
            .orderBy("frame_idx")
            .collect()
        )
        assert [r.frame_idx for r in out] == [0, 1, 2]
        assert all(r.luma == int(img.sum()) for r in out)


class TestKmeansIntGuards:
    def test_out_of_range_component_fails_loud(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.similarity import (
            kmeans_int,
        )

        df = spark.createDataFrame(
            [(0, [0.1, 0.2]), (1, [1.5, 0.0]), (2, [-0.3, 0.4])],
            "vec_id long, embedding array<double>",
        )
        with pytest.raises(Exception, match="kmeans_int"):
            kmeans_int(df, "vec_id", "embedding", dim=2, k=2, iters=1).collect()

    def test_offset_ids_get_k_seeds(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.similarity import (
            kmeans_int,
        )

        # ids start at 100: old "vid < k" init would find ZERO centroids;
        # the fix seeds from the k lowest observed ids and the result must
        # be the exact id-shifted image of the ids-from-0 run
        base = [(i, [0.01 * i, -0.02 * i]) for i in range(12)]
        shifted = [(i + 100, v) for i, v in base]
        k = 3
        r0 = kmeans_int(
            spark.createDataFrame(base, "vec_id long, embedding array<double>"),
            "vec_id", "embedding", dim=2, k=k, iters=2,
        ).collect()
        r1 = kmeans_int(
            spark.createDataFrame(shifted, "vec_id long, embedding array<double>"),
            "vec_id", "embedding", dim=2, k=k, iters=2,
        ).collect()
        m0 = {r.vec_id: (r.cluster, r.d2) for r in r0}
        m1 = {r.vec_id: (r.cluster, r.d2) for r in r1}
        assert len(m1) == len(shifted)
        assert {c for c, _ in m1.values()} <= {100, 101, 102}
        for vid, (c, d2) in m0.items():
            assert m1[vid + 100] == (c + 100, d2)


class TestPoisonRowMode:
    def test_image_ahash_nonstrict_nulls_oversized(self, spark):
        big = multimodal.synth_ppm_images(
            spark.range(1).select(F.col("id").alias("doc_id")), "doc_id", 16, 12
        )
        out = multimodal.image_ahash(big, "img", strict=False).toPandas()
        assert out["ahash"].isna().all()
        # strict default still refuses loudly
        with pytest.raises(Exception, match="63"):
            multimodal.image_ahash(big, "img").collect()

    def test_audio_fingerprint_nonstrict_nulls_indivisible(self, spark):
        odd = np.zeros(10, dtype=np.int64)
        df = spark.createDataFrame(
            [(0, bytearray(multimodal.encode_wav(odd, 8000)))],
            "id long, wav binary",
        )
        out = multimodal.audio_fingerprint(
            df, "wav", n_windows=4, strict=False
        ).toPandas()
        assert out["afp"].isna().all()
        with pytest.raises(Exception, match="equal windows"):
            multimodal.audio_fingerprint(df, "wav", n_windows=4).collect()


class TestGridDbscanFallback:
    def test_distributed_route_matches_union_find(self, spark):
        """VERDICT r6 item 5: crossing the driver union-find bound must
        route through dedup_connected_components and produce IDENTICAL
        cluster labels (cluster = component-min cid on both routes)."""
        from spark_ml_spatialjointransformer_spark.queries import (
            _grid_component_labels,
        )

        # two chains (0-1-2-3, 10-11) + isolates 20, 30
        dense = spark.createDataFrame(
            [(i,) for i in (0, 1, 2, 3, 10, 11, 20, 30)], "cid long"
        )
        pairs = spark.createDataFrame(
            [(0, 1), (1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
        )
        fast = {
            r.cid: r.cluster
            for r in _grid_component_labels(
                spark, dense, pairs, driver_bound=10_000
            ).collect()
        }
        dist = {
            r.cid: r.cluster
            for r in _grid_component_labels(
                spark, dense, pairs, driver_bound=0
            ).collect()
        }
        want = {0: 0, 1: 0, 2: 0, 3: 0, 10: 10, 11: 10, 20: 20, 30: 30}
        assert fast == want
        assert dist == want
