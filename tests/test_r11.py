"""Round-11 pins: the bench load gate, the baseline-merge policy, and a
property-level recall guarantee for the generalized Hamming band join
(bitmask keys + skew cap)."""

from __future__ import annotations

import itertools
import json

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st


class TestBenchLoadGate:
    """wait_for_idle_box: refuse-to-record on a loaded box (r10 verdict
    item 1 — two rounds of committed records carried external load)."""

    def test_disabled_gate_returns_current_load(self, monkeypatch):
        import bench

        monkeypatch.setattr(bench.os, "getloadavg", lambda: (7.3, 7.0, 6.0))
        assert bench.wait_for_idle_box(0.0, 900) == 7.3

    def test_idle_box_passes_immediately(self, monkeypatch):
        import bench

        monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.4, 1.0, 1.0))
        sleeps: list[float] = []
        monkeypatch.setattr(bench.time, "sleep", sleeps.append)
        assert bench.wait_for_idle_box(2.0, 900) == 0.4
        assert sleeps == []  # no waiting when already idle

    def test_loaded_box_waits_then_passes(self, monkeypatch):
        import bench

        loads = iter([5.0, 5.0, 1.2])
        current = {"v": 5.0}

        def getload():
            return (current["v"], 0, 0)

        def sleep(_s):
            current["v"] = next(loads)

        monkeypatch.setattr(bench.os, "getloadavg", getload)
        monkeypatch.setattr(bench.time, "sleep", sleep)
        assert bench.wait_for_idle_box(2.0, 900) == 1.2

    def test_persistent_load_refuses_with_exit_3(self, monkeypatch, capsys):
        import bench

        monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.0, 9.0, 9.0))
        monkeypatch.setattr(bench.time, "sleep", lambda s: None)
        # make the deadline expire immediately after the first check
        t = iter([0.0] + [10_000.0] * 50)
        monkeypatch.setattr(bench.time, "monotonic", lambda: next(t))
        with pytest.raises(SystemExit) as ei:
            bench.wait_for_idle_box(2.0, 900)
        assert ei.value.code == 3
        out = capsys.readouterr().out
        rec = json.loads(out.strip().splitlines()[-1])
        assert rec["error"] == "load_gate_refused"


class TestBaselineMergePolicy:
    """merge_baseline.py: primary-pass mins only, clean records only —
    the retry pass can clear a headline flag but never lower the
    baseline (closes the r10 one-sided-resampling advice)."""

    def _merge(self, tmp_path, record, baseline):
        import importlib
        import sys

        sys.path.insert(0, "/root/repo/examples")
        try:
            mb = importlib.import_module("merge_baseline")
        finally:
            sys.path.pop(0)
        rec_p = tmp_path / "rec.json"
        rec_p.write_text(json.dumps(record))
        base_p = tmp_path / "base.json"
        base_p.write_text(json.dumps(baseline))
        # point the module at the tmp baseline
        orig = mb.BASELINE
        mb.BASELINE = str(base_p)
        try:
            import sys as _sys

            argv = _sys.argv
            _sys.argv = ["merge_baseline.py", str(rec_p)]
            try:
                code = mb.main()
            finally:
                _sys.argv = argv
        finally:
            mb.BASELINE = orig
        return code, json.loads(base_p.read_text())

    def test_retried_min_never_enters_baseline(self, tmp_path):
        record = {
            "sf": 0.1,
            "load_avg": [0.5, 2.0],
            "failed": [],
            # q1 was retried: primary pass min 3.0, retry found 1.0 —
            # timings hold the retry-inclusive min the HEADLINE uses
            "queries": {"q1": 1.0, "q2": 0.8},
            "retried_primary_min": {"q1": 3.0},
        }
        baseline = {"sf": 0.1, "queries": {"q1": 2.5, "q2": 1.0}}
        code, merged = self._merge(tmp_path, record, baseline)
        assert code == 0
        assert merged["queries"]["q1"] == 2.5  # 3.0 primary > 2.5: kept
        assert merged["queries"]["q2"] == 0.8  # un-retried min merges

    def test_dirty_record_refused(self, tmp_path):
        record = {
            "sf": 0.1,
            "load_avg": [5.7, 4.7],
            "failed": [],
            "queries": {"q1": 1.0},
        }
        baseline = {"sf": 0.1, "queries": {"q1": 2.0}}
        code, merged = self._merge(tmp_path, record, baseline)
        assert code == 1
        assert merged["queries"]["q1"] == 2.0  # untouched

    def test_sf_mismatch_refused(self, tmp_path):
        record = {
            "sf": 0.01,
            "load_avg": [0.1, 0.1],
            "failed": [],
            "queries": {"q1": 0.1},
        }
        baseline = {"sf": 0.1, "queries": {"q1": 2.0}}
        code, merged = self._merge(tmp_path, record, baseline)
        assert code == 1
        assert merged["queries"]["q1"] == 2.0


@st.composite
def hamming_corpus(draw):
    bits = draw(st.integers(min_value=4, max_value=63))
    max_h = draw(st.integers(min_value=0, max_value=min(4, bits - 1)))
    base = draw(
        st.lists(
            st.integers(min_value=0, max_value=(1 << bits) - 1),
            min_size=2,
            max_size=8,
            unique=True,
        )
    )
    # plant near neighbors: flip up to max_h random bits of each base hash
    planted = []
    for i, h in enumerate(base):
        flips = draw(
            st.lists(
                st.integers(min_value=0, max_value=bits - 1),
                min_size=0,
                max_size=max_h,
                unique=True,
            )
        )
        v = h
        for b in flips:
            v ^= 1 << b
        planted.append(v)
    return bits, max_h, base + planted


class TestHammingPigeonholeProperty:
    """EVERY pair within max_hamming must appear (bands are exact, not
    probabilistic) — for arbitrary bit widths including the 63-bit
    single-band edge the r10 modulo key could not even plan."""

    @settings(max_examples=8, deadline=None)
    @given(hamming_corpus())
    def test_recall_exact_within_radius(self, spark, case):
        from spark_ml_spatialjointransformer_spark.operators import dedup

        bits, max_h, hashes = case
        rows = [(i, h) for i, h in enumerate(hashes)]
        df = spark.createDataFrame(rows, "id long, h long")
        got = {
            (r.id_a, r.id_b): r.hamming
            for r in dedup.hamming_pairs(
                df, "id", "h", bits=bits, max_hamming=max_h
            ).collect()
        }
        vals = dict(rows)
        want = {}
        for a, b in itertools.combinations(sorted(vals), 2):
            d = bin(vals[a] ^ vals[b]).count("1")
            if d <= max_h:
                want[(a, b)] = d
        assert got == want


class TestHoltPartitionKernel:
    """_d28_holt_partitions: the mapInPandas Holt kernel must equal the
    per-group recurrence REGARDLESS of how Arrow slices the sorted
    partition into batches — including a batch boundary mid-user, where
    the carried (l, b) state is the only thing keeping the recurrence
    exact."""

    @staticmethod
    def _reference(groups):
        out = {}
        for u, vals in groups.items():
            l = b = 0
            acc = []
            for i, x in enumerate(vals):
                if i == 0:
                    l, b = x, 0
                else:
                    nl = (x + l + b) // 2
                    b = (b + (nl - l)) // 2
                    l = nl
                acc.append((l, b, l + b))
            out[u] = acc
        return out

    def _run_kernel(self, rows, batch_sizes):
        import pandas as pd

        from spark_ml_spatialjointransformer_spark.queries.temporal import (
            _d28_holt_partitions,
        )

        batches = []
        i = 0
        for s in batch_sizes:
            chunk = rows[i : i + s]
            i += s
            batches.append(
                pd.DataFrame(
                    {
                        "user_id": [r[0] for r in chunk],
                        "event_id": [r[1] for r in chunk],
                        "v_e4": [r[2] for r in chunk],
                    }
                )
            )
        assert i == len(rows)
        got = {}
        for pdf in _d28_holt_partitions(iter(batches)):
            for r in pdf.itertuples(index=False):
                got.setdefault(r.user_id, []).append(
                    (r.level_e4, r.trend_e4, r.forecast_e4)
                )
        return got

    def test_batch_split_mid_user_matches_unsplit(self):
        groups = {
            1: [100, -250, 30, 7, -1],
            2: [5],
            3: [-9, -9, 40],
            4: [12345678901, -98765, 0, 3],
        }
        rows = [
            (u, 1000 * u + i, x)
            for u in sorted(groups)
            for i, x in enumerate(groups[u])
        ]
        want = self._reference(groups)
        n = len(rows)
        # every split point, including mid-user and a degenerate leading
        # empty batch
        for cut in range(n + 1):
            got = self._run_kernel(rows, [cut, n - cut])
            assert got == want, f"split at {cut}"
        # three-way splits across the user-2/3 boundary region
        got = self._run_kernel(rows, [4, 3, n - 7])
        assert got == want


class TestCdcChunkKernel:
    """r11: the fused CDC chunk kernel must reproduce the former
    higher-order-function formulation bit-for-bit — same boundaries,
    same chunks, same distinct h60 set per document."""

    def _hof_reference(self, spark, rows):
        from pyspark.sql import functions as F

        from spark_ml_spatialjointransformer_spark.functions.hashing import (
            h60_col,
        )

        arr_hash = " + ".join(
            f"CAST(element_at(codes, i - {7 - k}) AS BIGINT) * {31 ** k}"
            for k in range(8)
        )
        d = spark.createDataFrame(rows, "doc_id long, text string").select(
            "doc_id",
            "text",
            F.length("text").alias("n"),
            F.expr("transform(split(text, ''), c -> ascii(c))").alias(
                "codes"
            ),
        )
        ends = d.select(
            "doc_id",
            "text",
            F.expr(
                "array_distinct(concat(CASE WHEN n >= 8 THEN"
                f" filter(sequence(8, n), i -> ({arr_hash}) % 64 = 0)"
                " ELSE CAST(array() AS ARRAY<INT>) END, array(n)))"
            ).alias("ends"),
        )
        ch = ends.select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(ends, (p, k) -> substring(text,"
                    " CASE WHEN k = 0 THEN 1"
                    " ELSE element_at(ends, k) + 1 END,"
                    " p - CASE WHEN k = 0 THEN 0"
                    " ELSE element_at(ends, k) END))"
                )
            ).alias("chunk"),
        )
        u = ch.select("doc_id", h60_col(F.col("chunk")).alias("ch")).distinct()
        return {
            (r["doc_id"], r["ch"]) for r in u.collect()
        }

    def _kernel(self, spark, rows):
        from pyspark.sql import functions as F

        from spark_ml_spatialjointransformer_spark.operators.fingerprint import (
            cdc_chunk_hashes_udf,
        )

        d = spark.createDataFrame(rows, "doc_id long, text string").select(
            "doc_id", F.explode(cdc_chunk_hashes_udf()(F.col("text"))).alias("ch")
        )
        return {(r["doc_id"], r["ch"]) for r in d.collect()}

    def test_matches_hof_on_edge_cases(self, spark):
        import random

        rng = random.Random(44)
        alpha = "abcdefgh XYZ01234."
        rows = [
            (1, ""),
            (2, "short"),
            (3, "exactly8"),
            (4, "a" * 64),
            (5, "the same chunk " * 10),
        ]
        rows += [
            (100 + i, "".join(rng.choice(alpha) for _ in range(rng.randint(0, 300))))
            for i in range(40)
        ]
        assert self._kernel(spark, rows) == self._hof_reference(spark, rows)

    def test_matches_hof_on_testdata(self, spark):
        from spark_ml_spatialjointransformer_spark.sources.tables import (
            load_table,
        )

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
        assert self._kernel(spark, rows) == self._hof_reference(spark, rows)


class TestSpanAnchorKernel:
    """r11: the fused winnowing-anchor kernel must reproduce the former
    per-position SQL formulation exactly — same positions, same verified
    span hashes, including the truncated final k-gram the SQL slice
    produces past the array end."""

    K, W, L = 4, 5, 12

    def _sql_reference(self, spark, rows):
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        from spark_ml_spatialjointransformer_spark.functions.hashing import (
            h60_col,
        )

        K, W, L = self.K, self.W, self.L
        tok = (
            spark.createDataFrame(rows, "doc_id long, text string")
            .select("doc_id", F.split(F.lower("text"), " ").alias("w"))
            .select("doc_id", "w", F.size("w").alias("n"))
            .where(F.col("n") >= W + K - 1)
        )
        pos = tok.select(
            "doc_id", "n", "w",
            F.explode(F.expr(f"sequence(1, n - {K - 2})")).alias("i"),
        )
        hashed = pos.select(
            "doc_id", "n", "i",
            h60_col(F.expr(f"array_join(slice(w, i, {K}), ' ')")).alias("gh"),
            F.when(
                F.col("i") <= F.col("n") - (L - 1),
                h60_col(F.expr(f"array_join(slice(w, i, {L}), ' ')")),
            ).alias("sp"),
        )
        win = (
            Window.partitionBy("doc_id")
            .orderBy("i")
            .rowsBetween(-(W - 1), Window.currentRow)
        )
        ap = (
            hashed.withColumn("m", F.min("gh").over(win))
            .where(
                (F.col("i") >= W)
                & (F.col("gh") == F.col("m"))
                & F.col("sp").isNotNull()
            )
            .select("doc_id", "i", "sp")
        )
        return {(r["doc_id"], r["i"], r["sp"]) for r in ap.collect()}

    def _kernel(self, spark, rows):
        from pyspark.sql import functions as F

        from spark_ml_spatialjointransformer_spark.operators.fingerprint import (
            span_anchor_hashes_udf,
        )

        d = spark.createDataFrame(rows, "doc_id long, text string").select(
            "doc_id",
            F.explode(
                span_anchor_hashes_udf(self.K, self.W, self.L)(F.col("text"))
            ).alias("a"),
        )
        return {
            (r["doc_id"], r["a"]["i"], r["a"]["sp"]) for r in d.collect()
        }

    def test_matches_sql_on_edge_cases(self, spark):
        import random

        rng = random.Random(53)
        words = ["alpha", "beta", "gamma", "delta", "x", "yy", "zzz"]
        rows = [
            (1, ""),
            (2, "one two three"),                       # below the length gate
            (3, " ".join(["w"] * (self.W + self.K - 1))),  # exactly at the gate
            (4, " ".join(["dup"] * 40)),                 # constant k-grams
            (5, ("shared span " * 12).strip()),
        ]
        rows += [
            (100 + i, " ".join(rng.choice(words) for _ in range(rng.randint(0, 80))))
            for i in range(40)
        ]
        assert self._kernel(spark, rows) == self._sql_reference(spark, rows)

    def test_matches_sql_on_testdata(self, spark):
        from spark_ml_spatialjointransformer_spark.sources.tables import (
            load_table,
        )

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        rows = [(r["doc_id"], r["text"]) for r in docs.collect()]
        assert self._kernel(spark, rows) == self._sql_reference(spark, rows)
