"""Round-9 regression tests.

Covers the r8 ADVICE fixes (f3/f5 numPartitions contract moved out of the
production path, v17 sim quantization) and the r9 additions.
"""

import pytest

from spark_ml_spatialjointransformer_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


class TestTransformerNumPartitionsContract:
    """X1: the numPartitions string param must control the output
    partition count of the Transformer-driven f-queries.  Lives here
    instead of a bare ``assert`` inside the registry functions — that
    form is silently skipped under ``python -O`` and triggers a DF->RDD
    conversion on every production plan build (r8 ADVICE)."""

    @pytest.mark.parametrize(
        "qname, want",
        [("f3_transformer_within_filtered", 7),
         ("f5_transformer_polygon_nearest", 6)],
    )
    def test_output_partitions(self, spark, qname, want):
        out = Q.QUERIES[qname].fn(spark, SF_DIR)
        assert out.rdd.getNumPartitions() == want


class TestT53SpanDedup:
    """t53 must catch a long span duplicated at DIFFERENT offsets inside
    otherwise-distinct documents — the case whole-doc/shingle/chunk/
    prefix dedup miss — and must NOT pair docs with no long shared
    span."""

    def test_embedded_span_at_different_offsets(self, spark):
        import random

        rng = random.Random(53)
        vocab = [f"w{i}" for i in range(1000)]
        span = " ".join(rng.choice(vocab) for _ in range(30))

        def noise(n):
            return " ".join(rng.choice(vocab) for _ in range(n))

        rows = [
            (1, noise(5) + " " + span + " " + noise(40)),   # span at off 5
            (2, noise(25) + " " + span + " " + noise(10)),  # span at off 25
            (3, noise(80)),                                  # unrelated
            (4, noise(80)),                                  # unrelated
        ]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .createOrReplaceTempView("documents_t53")

        from spark_ml_spatialjointransformer_spark import queries as Q

        tmpdir = None  # reuse the registry fn via a temp parquet dir
        import tempfile, os
        tmpdir = tempfile.mkdtemp()
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.mode("overwrite").parquet(os.path.join(tmpdir, "documents.parquet"))
        out = Q.QUERIES["t53_span_dedup"].fn(spark, tmpdir)
        pairs = {(r.id_a, r.id_b) for r in out.collect()}
        assert (1, 2) in pairs
        assert all(p == (1, 2) for p in pairs), pairs


class TestT54SpanCoverage:
    """Coverage must union overlapping spans (no double-count) and report
    zero for docs whose spans match nothing."""

    def test_interval_union_no_double_count(self, spark, tmp_path):
        import os
        import random

        rng = random.Random(54)
        vocab = [f"w{i}" for i in range(1000)]
        # 40-token span duplicated across docs 1 and 2 -> its anchors
        # overlap heavily inside each doc; union must not exceed doc length
        span = " ".join(rng.choice(vocab) for _ in range(40))

        def noise(n):
            return " ".join(rng.choice(vocab) for _ in range(n))

        rows = [
            (1, noise(10) + " " + span + " " + noise(10)),
            (2, span + " " + noise(20)),
            (3, noise(60)),
        ]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.mode("overwrite") \
            .parquet(os.path.join(str(tmp_path), "documents.parquet"))

        from spark_ml_spatialjointransformer_spark import queries as Q

        out = {
            r.doc_id: r
            for r in Q.QUERIES["t54_span_coverage"].fn(spark, str(tmp_path)).collect()
        }
        assert out[3].covered_tokens == 0 and out[3].coverage_e6 == 0
        for d in (1, 2):
            assert 0 < out[d].covered_tokens <= out[d].n_tokens
            # the union of anchored 12-token spans inside one 40-token
            # duplicated region can never exceed the region itself
            assert out[d].covered_tokens <= 40


class TestPersonalizedPagerank:
    """g11's operator must replay the integer recurrence exactly: restart
    mass only on seeds, truncating division, fixed iterations."""

    def test_matches_pure_python_replay(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.graph import (
            personalized_pagerank_int,
        )

        # path 1-2-3-4 plus triangle 4-5-6 (undirected), seeds {1, 5}
        pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6), (4, 6)]
        seeds = {1, 5}
        adj = {}
        for a, b in pairs:
            adj.setdefault(a, []).append(b)
            adj.setdefault(b, []).append(a)
        scale, iters = 1_000_000, 5
        r = {v: scale * (v in seeds) for v in adj}
        for _ in range(iters):
            c = {v: r[v] // len(adj[v]) for v in adj}
            r = {
                v: (15 * scale // 100) * (v in seeds)
                + (85 * sum(c[u] for u in adj[v])) // 100
                for v in adj
            }

        pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
        sdf = spark.createDataFrame([(s,) for s in seeds], "vec_id long")
        got = {
            row.id: row.ppr_e6
            for row in personalized_pagerank_int(
                pdf, "id_a", "id_b", sdf, "vec_id", iters=iters
            ).collect()
        }
        assert got == r

    def test_seed_outside_graph_ignored(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.graph import (
            personalized_pagerank_int,
        )

        pdf = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        sdf = spark.createDataFrame([(99,)], "vec_id long")
        rows = personalized_pagerank_int(
            pdf, "id_a", "id_b", sdf, "vec_id", iters=3
        ).collect()
        assert {row.id for row in rows} == {1, 2}
        assert all(row.ppr_e6 == 0 for row in rows)  # walk never starts


class TestSemDedup:
    """v19's operator invariants on a controlled corpus: exact duplicates
    in one cell evict the later-ranked copy at sim 1e6; every cell's
    rank-1 member is kept."""

    def _emb(self, rng, dim=64):
        return [rng.uniform(-1.0, 1.0) for _ in range(dim)]

    def test_exact_duplicate_evicted(self, spark):
        import random

        from spark_ml_spatialjointransformer_spark.operators.similarity import (
            semdedup,
        )

        rng = random.Random(19)
        dup = self._emb(rng)
        rows = [(0, dup), (1, list(dup))] + [
            (i, self._emb(rng)) for i in range(2, 30)
        ]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = {
            r.id: r
            for r in semdedup(
                df, "vec_id", "embedding", dim=64, n_planes=6, threshold=0.95
            ).collect()
        }
        assert len(out) == 30
        assert out[0].cell == out[1].cell  # identical vectors, same cell
        # identical affinity -> id breaks the tie -> 0 ranks first, 1 evicted
        assert out[0].kept == 1 or out[0].max_sim_e6 == 1_000_000
        assert out[1].kept == 0 and out[1].max_sim_e6 == 1_000_000
        # rank-1 members can never be evicted (nothing ranks before them)
        for r in out.values():
            if r.rank_in_cell == 1:
                assert r.kept == 1

    def test_threshold_one_keeps_everything_distinct(self, spark):
        import random

        from spark_ml_spatialjointransformer_spark.operators.similarity import (
            semdedup,
        )

        rng = random.Random(23)
        rows = [(i, self._emb(rng)) for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = semdedup(
            df, "vec_id", "embedding", dim=64, n_planes=6, threshold=1.01
        ).collect()
        assert all(r.kept == 1 for r in out)


class TestForwardAsofTolerance:
    """d26's building block: forward as-of picks the SMALLEST right time
    >= left time (inclusive), per key, with left-join completeness."""

    def test_forward_semantics(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.temporal import (
            asof_join,
        )

        left = spark.createDataFrame(
            [(1, 7, 100), (2, 7, 250), (3, 7, 400), (4, 8, 100)],
            "event_id long, user_id long, ts long",
        )
        right = spark.createDataFrame(
            [(7, 250, 10), (7, 300, 11), (7, 90, 12)],
            "user_id long, o_ts long, ok long",
        )
        got = {
            r.event_id: r.ok
            for r in asof_join(
                left, right, on=["user_id"], left_time="ts",
                right_time="o_ts", right_cols=(("ok", "ok"),),
                direction="forward",
            ).collect()
        }
        # 100 -> 250 (smallest >=); 250 -> 250 (inclusive); 400 -> none;
        # user 8 -> none (left-join completeness)
        assert got == {1: 10, 2: 10, 3: None, 4: None}


class TestGroupSplit:
    """p13: every member of a prefix cluster must land in the SAME split
    (leakage-safe by construction)."""

    def test_clusters_never_straddle_splits(self, spark, tmp_path):
        import os

        # 40 clusters x 3 members sharing a >=200-char prefix with
        # distinct tails
        pad = "x" * 220
        rows = []
        for c in range(40):
            for m in range(3):
                rows.append(
                    (c * 10 + m, f"cluster{c:03d} {pad} tail-{m}", "en", "web", 240)
                )
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet")
        )

        from spark_ml_spatialjointransformer_spark import queries as Q

        out = Q.QUERIES["p13_group_split"].fn(spark, str(tmp_path)).collect()
        assert len(out) == 120
        by_cluster = {}
        for r in out:
            assert r.cluster_size == 3
            by_cluster.setdefault(r.doc_id // 10, set()).add(r.split)
        assert all(len(s) == 1 for s in by_cluster.values())
        # the hash actually spreads clusters across cells
        assert len({next(iter(s)) for s in by_cluster.values()}) >= 2


class TestStayPoints:
    """j36 segment invariants on real data: stays are per-user
    time-disjoint, dwell-filtered, and centroids stay in range."""

    def test_segments_disjoint_and_filtered(self, spark):
        from spark_ml_spatialjointransformer_spark import queries as Q

        rows = Q.QUERIES["j36_stay_points"].fn(spark, SF_DIR).collect()
        assert rows, "sf0.001 must produce at least one stay"
        by_user = {}
        for r in rows:
            assert r.n_events >= 2 and r.dur_s >= 600
            assert -180_000_000 <= r.c_lon_e6 <= 180_000_000
            assert -60_000_000 <= r.c_lat_e6 <= 60_000_000
            by_user.setdefault(r.user_id, []).append(r)
        for stays in by_user.values():
            stays.sort(key=lambda r: r.stay_seq)
            for a, b in zip(stays, stays[1:]):
                # a later segment starts after the earlier one ends
                assert b.start_ts > a.start_ts + a.dur_s


class TestStreamThrottle:
    """e22's kernel: at most N admits per (user, day), earliest-first,
    rn dense from 1."""

    def test_first_n_by_event_time(self, spark, tmp_path):
        import datetime as dt
        import os

        from spark_ml_spatialjointransformer_spark.streaming.windowed import (
            THROTTLE_N,
            run_to_memory,
            throttled_events_stream,
        )

        base = dt.datetime(2024, 1, 10, 12, 0, 0)
        rows = []
        # user 1: 5 events in one day -> first 3 by ts admitted
        for i in range(5):
            rows.append((100 + i, base + dt.timedelta(minutes=10 * i), 1))
        # user 1, next day: counter resets with the new window key
        rows.append((200, base + dt.timedelta(days=1), 1))
        # user 2: under the cap
        rows.append((300, base, 2))
        src = os.path.join(str(tmp_path), "events.parquet")
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long"
        ).coalesce(1).write.parquet(src)

        out = run_to_memory(
            throttled_events_stream(spark, src),
            "q_e22_unit_test",
            output_mode="append",
        ).collect()
        got = {(r.user_id, r.event_id): r.rn for r in out}
        assert got == {
            (1, 100): 1, (1, 101): 2, (1, 102): 3,  # 103/104 throttled
            (1, 200): 1,                             # new day, fresh quota
            (2, 300): 1,
        }
        assert THROTTLE_N == 3


class TestEdgeCommonNeighbors:
    """g12's operator on a hand graph: triangle edges have support 1,
    the pendant edge is a local bridge (0)."""

    def test_triangle_plus_pendant(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.graph import (
            edge_common_neighbors,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (3, 4)], "id_a long, id_b long"
        )
        got = {
            (r.id_a, r.id_b): r.n_common
            for r in edge_common_neighbors(pairs, "id_a", "id_b").collect()
        }
        assert got == {(1, 2): 1, (1, 3): 1, (2, 3): 1, (3, 4): 0}


class TestQualityKeeper:
    """t55 must elect the HIGHEST-quality cluster member (not min-id),
    tie-break min doc_id, and leave singletons keeping themselves."""

    def test_quality_beats_min_id(self, spark, tmp_path):
        import os
        import random

        rng = random.Random(55)
        vocab = [f"w{i}" for i in range(500)]
        # 20-token base with exactly 2 ' the ' occurrences; doc 2 appends
        # ' the conclusion' -> trigram Jaccard 18/20 = 0.9 (near-dup) and
        # q(doc2) = 3e6//22 = 136363 > q(doc1) = 2e6//20 = 100000, so the
        # election must pick doc 2 over the smaller id
        base = (
            " ".join(rng.choice(vocab) for _ in range(8))
            + " the "
            + " ".join(rng.choice(vocab) for _ in range(4))
            + " the "
            + " ".join(rng.choice(vocab) for _ in range(6))
        )
        rows = [
            (1, base),
            (2, base + " the conclusion"),
            (3, " ".join(rng.choice(vocab) for _ in range(40))),  # singleton
        ]
        spark.createDataFrame(rows, "doc_id long, text string") \
            .write.mode("overwrite") \
            .parquet(os.path.join(str(tmp_path), "documents.parquet"))

        from spark_ml_spatialjointransformer_spark import queries as Q

        out = {
            r.doc_id: r
            for r in Q.QUERIES["t55_quality_keeper"].fn(
                spark, str(tmp_path)
            ).collect()
        }
        assert out[1].cluster == 1 and out[2].cluster == 1
        assert out[1].keeper == 2 and out[2].keeper == 2  # quality won
        assert out[1].kept == 0 and out[2].kept == 1
        assert out[3].keeper == 3 and out[3].kept == 1
        assert out[2].q_e6 > out[1].q_e6


class TestStreamZscore:
    """e23's kernel: integer-exact 3-sigma flag against PRIOR running
    moments; no verdict before ZSCORE_MIN_N prior events."""

    def test_spike_flags_stable_history_does_not(self, spark, tmp_path):
        import datetime as dt
        import os

        from spark_ml_spatialjointransformer_spark.streaming.windowed import (
            ZSCORE_MIN_N,
            run_to_memory,
            zscore_anomaly_stream,
        )

        base = dt.datetime(2024, 3, 1, 9, 0, 0)
        rows = []
        # user 1: five stable 10.00 readings (never judged: n<5 for all),
        # then a 50.00 spike (zero prior variance -> any deviation flags),
        # then 10.00 again (spike inflated sigma -> no flag: lhs 1.6e7
        # vs rhs 7.2e8, hand-computed)
        vals = [10.0, 10.0, 10.0, 10.0, 10.0, 50.0, 10.0]
        for i, v in enumerate(vals):
            rows.append((100 + i, base + dt.timedelta(minutes=i), 1, v))
        # user 2: too little history -> nothing ever flagged
        for i, v in enumerate([1.0, 99.0, 1.0]):
            rows.append((200 + i, base + dt.timedelta(minutes=i), 2, v))
        src = os.path.join(str(tmp_path), "events.parquet")
        spark.createDataFrame(
            rows, "event_id long, ts timestamp, user_id long, value double"
        ).coalesce(1).write.parquet(src)

        out = run_to_memory(
            zscore_anomaly_stream(spark, src),
            "q_e23_unit_test",
            output_mode="append",
        ).collect()
        flagged = {(r.user_id, r.event_id): (r.v_c, r.n_prior) for r in out}
        assert flagged == {(1, 105): (5000, 5)}
        assert ZSCORE_MIN_N == 5


class TestKAnonymity:
    """p14: sub-k quasi-groups suppress, group_n is the GROUP's size,
    and the balance band generalizes on the shifted non-negative
    domain (truncation == floor there)."""

    def test_small_groups_suppressed(self, spark, tmp_path):
        import os

        # region 0 via nations 0/1; band = (cents + 1e5) // 2e5
        cust = [
            # 5 customers in (region 0, AUTO, band 1) -> kept
            *[(i, f"c{i}", 0, 1500.0, "AUTO") for i in range(1, 6)],
            # 1 customer alone in (region 0, AUTO, band 5) -> suppressed
            (6, "c6", 1, 9000.0, "AUTO"),
            # negative balance: cents -50000 -> band (+1e5)//2e5 = 0
            (7, "c7", 0, -500.0, "AUTO"),
        ]
        nat = [(0, "A", 0), (1, "B", 0)]
        spark.createDataFrame(
            cust,
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string",
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "customer.parquet")
        )
        spark.createDataFrame(
            nat, "n_nationkey int, n_name string, n_regionkey int"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "nation.parquet")
        )

        from spark_ml_spatialjointransformer_spark import queries as Q

        out = {
            r.c_custkey: r
            for r in Q.QUERIES["p14_k_anonymity"].fn(
                spark, str(tmp_path)
            ).collect()
        }
        for i in range(1, 6):
            assert out[i].suppressed == 0 and out[i].group_n == 5
        assert out[6].suppressed == 1 and out[6].group_n == 1
        assert out[7].suppressed == 1 and out[7].bal_band == 0


class TestDsirScore:
    """t56: a doc made of target-exclusive bigrams must out-score a doc
    of source-only bigrams, and weights are the smoothed ratio."""

    def test_target_like_doc_scores_higher(self, spark, tmp_path):
        import os

        # 'en' docs repeat one bigram vocabulary; the 'zh' doc another.
        # Target buckets then carry weight ~(n+1)/(n+1)=1e6 while the
        # source-only bucket carries (0+1)*1e6//(n+1).
        rows = [
            (1, "alpha beta alpha beta alpha beta", "en"),
            (2, "alpha beta alpha beta", "en"),
            (3, "kappa lambda kappa lambda kappa lambda", "zh"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet")
        )

        from spark_ml_spatialjointransformer_spark import queries as Q

        out = {
            r.doc_id: r
            for r in Q.QUERIES["t56_dsir_score"].fn(
                spark, str(tmp_path)
            ).collect()
        }
        assert out[1].n_bigrams == 5 and out[3].n_bigrams == 5
        assert out[1].avg_e6 > out[3].avg_e6
        assert out[1].kept == 1 and out[3].kept == 0
        # doc 2 shares doc 1's buckets -> same per-bigram average
        assert out[2].avg_e6 == out[1].avg_e6


class TestGlobalRank:
    """global_rank must equal the single-window row_number for any data,
    including ties that straddle value-range bucket boundaries and
    skewed key distributions."""

    def test_matches_global_window(self, spark):
        import random

        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from spark_ml_spatialjointransformer_spark.operators.sampling import (
            global_rank,
        )

        rng = random.Random(915)
        # heavy ties + skew: keys drawn from a tiny domain plus outliers
        rows = [(i, rng.choice([7, 7, 7, 42, 42, 1000, rng.randint(0, 50)]))
                for i in range(1, 301)]
        df = spark.createDataFrame(rows, "id long, k long")
        got = {
            r.id: r.rank
            for r in global_rank(df, "k", "id", num_partitions=7).collect()
        }
        want = {
            r.id: r.want
            for r in df.withColumn(
                "want", F.row_number().over(Window.orderBy("k", "id"))
            ).collect()
        }
        assert got == want

    def test_empty_input(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.sampling import (
            global_rank,
        )

        df = spark.createDataFrame([], "id long, k long")
        out = global_rank(df, "k", "id")
        assert out.count() == 0 and "rank" in out.columns


class TestCurriculumOrder:
    """p15: phases are contiguous in rank, sizes differ by at most one,
    and harder docs (longer words, fewer stopwords) rank later."""

    def test_phase_partition(self, spark, tmp_path):
        import os

        rows = [
            (1, "the a b the c d", "en"),          # easy: short words, stopwords
            (2, "abcdefghij klmnopqrst uvwxyzabcd", "en"),  # hard: long, no stopwords
            (3, "the x the y the z", "en"),
            (4, "internationalization considerations", "en"),
            (5, "a b c d e f", "en"),
            (6, "supercalifragilistic expialidocious", "en"),
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string"
        ).write.mode("overwrite").parquet(
            os.path.join(str(tmp_path), "documents.parquet")
        )

        from spark_ml_spatialjointransformer_spark import queries as Q

        out = sorted(
            Q.QUERIES["p15_curriculum_order"].fn(spark, str(tmp_path)).collect(),
            key=lambda r: r.curriculum_rank,
        )
        assert [r.curriculum_rank for r in out] == list(range(1, 7))
        # phases non-decreasing along the rank order, all 4 phases hit
        phases = [r.phase for r in out]
        assert phases == sorted(phases) and set(phases) == {1, 2, 3, 4}
        # the stopword-free long-word docs are in the last phase
        hard = {r.doc_id for r in out if r.phase == 4}
        assert hard <= {2, 4, 6} and len(hard) >= 1


class TestLabelPropagation:
    """g13's kernel on a hand-computed graph: two triangles joined by a
    bridge edge must NOT share any community label after 2 rounds, and
    the per-node labels match the deterministic (count DESC, min label)
    adoption exactly."""

    def test_two_triangles_with_bridge(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.graph import (
            label_propagation,
        )

        pairs = spark.createDataFrame(
            [(1, 2), (1, 3), (2, 3), (4, 5), (4, 6), (5, 6), (3, 4)],
            "id_a long, id_b long",
        )
        got = {
            r.node: r.community
            for r in label_propagation(pairs, "id_a", "id_b", rounds=2).collect()
        }
        # hand-unrolled: l1 = {1:2, 2:1, 3:1, 4:3, 5:4, 6:4};
        # l2 = {1:1, 2:1, 3:1, 4:4, 5:3, 6:3}
        assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 3, 6: 3}
        # the two cliques never collapse to one label through the bridge
        labels_a = {got[v] for v in (1, 2, 3)}
        labels_b = {got[v] for v in (4, 5, 6)}
        assert labels_a.isdisjoint(labels_b)


class TestStreamZscoreStateCarry:
    """e23's moments must CARRY across triggers: history folded in
    trigger 1 judges events arriving in trigger 2."""

    def test_cross_trigger_carry(self, spark, tmp_path):
        import datetime as dt
        import os
        import time

        from spark_ml_spatialjointransformer_spark.streaming.windowed import (
            run_to_memory,
            zscore_anomaly_stream,
        )

        base = dt.datetime(2024, 3, 2, 9, 0, 0)
        d = os.path.join(str(tmp_path), "events")
        os.makedirs(d)
        # file 1: five stable 10.00 readings -> state (n=5, S=5000, Q=5e6)
        f1 = [(100 + i, base + dt.timedelta(minutes=i), 1, 10.0)
              for i in range(5)]
        # file 2: a 50.00 spike -> must flag with n_prior=5 USING the
        # carried moments (zero prior variance)
        f2 = [(200, base + dt.timedelta(minutes=10), 1, 50.0)]
        schema = "event_id long, ts timestamp, user_id long, value double"
        spark.createDataFrame(f1, schema).coalesce(1).write.parquet(
            os.path.join(d, "a")
        )
        time.sleep(1.1)  # file-source replays in mtime order: f1 first
        spark.createDataFrame(f2, schema).coalesce(1).write.parquet(
            os.path.join(d, "b")
        )
        for sub in ("a", "b"):
            for fn in os.listdir(os.path.join(d, sub)):
                if fn.endswith(".parquet"):
                    os.rename(
                        os.path.join(d, sub, fn),
                        os.path.join(d, f"{sub}_{fn}"),
                    )

        out = run_to_memory(
            zscore_anomaly_stream(spark, d),
            "q_e23_carry_test",
            output_mode="append",
        ).collect()
        flagged = {(r.user_id, r.event_id): (r.v_c, r.n_prior) for r in out}
        assert flagged == {(1, 200): (5000, 5)}
