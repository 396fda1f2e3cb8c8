"""Round-8 regression tests.

j34's above-broadcast route: the k=2 nearest retrieval must produce the
IDENTICAL margin table whether it rides the broadcast argmin kernel or the
partitioned grid kNN (`operators/knn.partitioned_nearest`), and the
strategy probe must cross to the partitioned path when the supplier side's
Catalyst size estimate exceeds the bound — the same guard-crossing contract
j31 pins for `_grid_component_labels` (tests/test_r7_advice.py).
"""

import pytest

from spark_ml_spatialjointransformer_spark import queries as Q

SF_DIR = "/root/testdata/sf0.001"


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


class TestBenchRepPolicy:
    """bench.py's adaptive rep rule (r9 form, closing the r8 ADVICE gap):
    two best readings within 20% stop the loop only when an INDEPENDENT
    reference confirms them — the committed baseline within 1.3x, or a
    third rep when no baseline exists.  A load spike tainting reps 1-2
    ([8.0, 8.1] on a ~3.5 s query) therefore no longer converges with the
    tainted min; the cap still bounds the loop."""

    def test_convergence_without_baseline_requires_three_reps(self):
        from bench import reps_converged

        assert not reps_converged([])
        assert not reps_converged([3.0])
        assert not reps_converged([3.0, 3.1])       # agreement alone: no
        assert reps_converged([3.0, 3.1, 3.2])      # 3rd rep confirms
        assert not reps_converged([6.0, 3.0])        # JIT-slow rep1
        assert reps_converged([6.0, 3.0, 3.3])       # best two agree at 3
        assert not reps_converged([8.0, 8.1, 3.0])   # spike pair + 1 fast
        assert reps_converged([8.0, 8.1, 3.0, 3.1])  # cap reached
        assert reps_converged([9.0, 5.0, 7.0, 6.5])  # cap bounds the loop

    def test_convergence_with_baseline(self):
        from bench import reps_converged

        # steady state confirmed by baseline: stops at 2
        assert reps_converged([3.0, 3.1], baseline=3.2)
        # the r7 j18 failure mode: spike covers both reps, readings agree
        # but contradict the baseline -> loop must continue
        assert not reps_converged([8.0, 8.1], baseline=3.5)
        # ...and the third rep catching the true value leaves the best
        # pair disagreeing, forcing the confirming fourth
        assert not reps_converged([8.0, 8.1, 3.4], baseline=3.5)
        assert reps_converged([8.0, 8.1, 3.4, 3.5], baseline=3.5)
        # a genuine regression (three agreeing readings above baseline)
        # is accepted after the extra look — and flagged downstream
        assert reps_converged([8.0, 8.1, 7.9], baseline=3.5)

    def test_headline_subset_and_regression_flagging(self):
        from bench import headline_subset

        timings = {f"a{i}_q": float(i) for i in range(1, 15)}
        timings.update({"f1_flag": 0.2, "t9_new": 0.1, "j6_reg": 1.0})
        baseline = {n: v for n, v in timings.items() if n != "t9_new"}
        baseline["j6_reg"] = 0.5  # j6 regressed 2x
        out = headline_subset(timings, baseline)
        assert "f1_flag" in out            # f-family always present
        assert "t9_new" in out             # no baseline -> new this round
        assert "j6_reg" in out             # >1.5x baseline
        assert "a14_q" in out and "a5_q" in out  # 10 slowest
        assert "a1_q" not in out           # fast, baselined, unflagged


class TestMMRSelect:
    """Property tests for the v17 greedy kernel (queries.mmr_select)."""

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    vecs = st.lists(
        st.lists(st.integers(min_value=-3, max_value=3), min_size=4,
                 max_size=4).filter(lambda v: any(v)),
        min_size=1, max_size=8,
    )

    @staticmethod
    def _cands(vec_lists):
        # rel = cosine to a fixed probe direction [1,1,1,1]
        import math

        out = []
        for i, v in enumerate(vec_lists):
            nn = float(sum(x * x for x in v))
            rel = sum(v) / math.sqrt(4.0 * nn)
            out.append((i, rel, [float(x) for x in v], nn))
        return out

    @settings(max_examples=200, deadline=None)
    @given(vecs=vecs)
    def test_greedy_invariants(self, vecs):
        import math

        from spark_ml_spatialjointransformer_spark.queries import mmr_select

        cands = self._cands(vecs)
        sel, scores = mmr_select(cands, k=3, lam=0.5)
        assert len(sel) == min(3, len(cands))
        assert len(set(s[0] for s in sel)) == len(sel)  # no repeats
        # rank 1 is pure relevance with min-id ties
        best_rel = max(c[1] for c in cands)
        tied = [c[0] for c in cands if c[1] == best_rel]
        assert sel[0][0] == min(tied)
        assert scores[0] == best_rel

        def cos(a, b):
            # the r9 kernel contract quantizes pairwise cosines to the e9
            # grid before comparison (oracle-parity fix, r8 ADVICE); the
            # reference implementation here must do the same
            t = 0.0
            for x, y in zip(a[2], b[2]):
                t += x * y
            return math.floor(t / math.sqrt(a[3] * b[3]) * 1e9 + 0.5) / 1e9

        # each later pick maximizes the MMR score among the then-remaining
        for step in (1, 2):
            if step >= len(sel):
                break
            chosen_ids = {s[0] for s in sel[:step]}
            rem = [c for c in cands if c[0] not in chosen_ids]
            best = None
            for c in rem:
                ms = max(cos(c, s) for s in sel[:step])
                sc = 0.5 * c[1] - 0.5 * ms
                if (best is None or sc > best[1]
                        or (sc == best[1] and c[0] < best[0])):
                    best = (c[0], sc)
            assert sel[step][0] == best[0]
            assert scores[step] == best[1]


class TestP11Invariants:
    def test_budget_and_prefix_closure(self, spark):
        from spark_ml_spatialjointransformer_spark import queries as Q

        out = Q.QUERIES["p11_token_budget_fill"].fn(
            spark, "/root/testdata/sf0.001"
        ).collect()
        by_src = {}
        for r in out:
            by_src.setdefault(r.source, []).append(r)
        assert by_src  # non-empty selection
        for src, rows in by_src.items():
            rows.sort(key=lambda r: r.cum_tok)
            # never overshoots, and cum_tok is the running sum of n_tok
            assert rows[-1].cum_tok <= Q._P11_BUDGET
            run = 0
            for r in rows:
                run += r.n_tok
                assert r.cum_tok == run


class TestJ34GuardCrossing:
    def test_both_routes_identical(self, spark):
        bc = _sorted_rows(Q._j34_margin(spark, SF_DIR, "broadcast"))
        pt = _sorted_rows(Q._j34_margin(spark, SF_DIR, "partitioned"))
        assert len(bc) == 150  # one row per customer at sf0.001
        assert bc == pt

    def test_strategy_probe_crosses_bound(self, spark, monkeypatch):
        # patch the DEFINING module: since the registry split (r11) the
        # package namespace re-exports values by copy, so patching Q
        # would not reach _j34_strategy's module global
        from spark_ml_spatialjointransformer_spark.queries import spatial as QS

        assert Q._j34_strategy(spark, SF_DIR) == "broadcast"
        monkeypatch.setattr(QS, "_J34_BROADCAST_BOUND_BYTES", 0)
        assert Q._j34_strategy(spark, SF_DIR) == "partitioned"

    def test_no_estimate_means_partitioned(self, spark, monkeypatch):
        from spark_ml_spatialjointransformer_spark.operators import _guard

        # unknown size must route to the distributed path, never broadcast
        assert _guard.estimated_plan_bytes(None) is None
        monkeypatch.setattr(_guard, "estimated_plan_bytes", lambda df: None)
        assert Q._j34_strategy(spark, SF_DIR) == "partitioned"
