"""The vectorized broadcast-kNN fast path with an in-kernel condition mask
(spatial_join.py `_kernel_condition_spec` / `_broadcast_knn(cond_spec=...)`).

A simple `left.<col> op right.<col>` numeric condition rides as a numpy
+inf mask inside the same zero-join kernel the unconditioned nearest uses;
every other condition takes the grid pass of operators/knn.py, which
filters candidates with the SQL expression inside its cell join.  These
tests pin that the masked kernel keeps EXACT grid-pass semantics: inner-join
row drops, SQL NULL-never-matches, both broadcast directions, k>1, the 2^53
precision guard, and the fallback for conditions the parser can't take.
"""

import pytest

from spark_ml_spatialjointransformer_spark.functions.geodesic import haversine_np
from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
    _kernel_condition_spec,
    spatial_join,
)
from spark_ml_spatialjointransformer_spark.plans.config import (
    PointColumns,
    SideConfig,
    SpatialJoinPlan,
)

_POINT = SideConfig(point_columns=PointColumns("lon", "lat"))


def _plan(**kw):
    base = dict(
        predicate="nearest",
        external_side=_POINT,
        input_side=_POINT,
        data_columns=(("eid", "near_id"),),
        distance_column="dist_m",
        broadcast_input=False,
        distance_kernel="haversine",
        tie_break=("eid",),
    )
    base.update(kw)
    return SpatialJoinPlan(**base)


@pytest.fixture()
def frames(spark):
    # external: 3 candidates on a meridian; input: 2 probes.
    ext = spark.createDataFrame(
        [(1, 10, 0.0, 0.0), (2, 20, 0.0, 1.0), (3, 10, 0.0, 2.0)],
        "eid long, grp int, lon double, lat double",
    )
    inp = spark.createDataFrame(
        [(100, 10, 0.0, 0.1), (200, 20, 0.0, 1.9)],
        "iid long, grp int, lon double, lat double",
    )
    return inp, ext


class TestMaskedKernel:
    def test_neq_condition_skips_same_group(self, spark, frames):
        inp, ext = frames
        out = spatial_join(
            inp, ext, _plan(condition="left.grp != right.grp")
        ).select("iid", "near_id").collect()
        got = {r.iid: r.near_id for r in out}
        # iid=100 is nearest eid=1 (same grp 10, masked) -> eid=2
        # iid=200 is nearest eid=3 (grp 10 != 20, allowed)
        assert got == {100: 2, 200: 3}

    def test_row_with_no_valid_candidate_drops(self, spark):
        ext = spark.createDataFrame(
            [(1, 10, 0.0, 0.0)], "eid long, grp int, lon double, lat double"
        )
        inp = spark.createDataFrame(
            [(100, 10, 0.0, 0.1), (200, 20, 0.0, 1.0)],
            "iid long, grp int, lon double, lat double",
        )
        out = spatial_join(
            inp, ext, _plan(condition="left.grp != right.grp")
        ).select("iid", "near_id").collect()
        # iid=100's only candidate shares grp -> the row disappears (inner)
        assert {r.iid: r.near_id for r in out} == {200: 1}

    def test_null_operand_never_matches(self, spark):
        ext = spark.createDataFrame(
            [(1, None, 0.0, 0.0), (2, 20, 0.0, 1.0)],
            "eid long, grp int, lon double, lat double",
        )
        inp = spark.createDataFrame(
            [(100, 10, 0.0, 0.1), (200, None, 0.0, 1.9)],
            "iid long, grp int, lon double, lat double",
        )
        out = spatial_join(
            inp, ext, _plan(condition="left.grp != right.grp")
        ).select("iid", "near_id").collect()
        # eid=1 (NULL grp) matches nothing; iid=200 (NULL grp) matches
        # nothing; iid=100 -> eid=2 (20 != 10)
        assert {r.iid: r.near_id for r in out} == {100: 2}

    def test_matches_grid_pass_exactly(self, spark):
        """Same data through a condition the parser TAKES vs one it must
        REJECT (spelled to defeat the regex, semantically identical) —
        the masked kernel and the grid pass must agree row-for-row."""
        ext = spark.createDataFrame(
            [(i, i % 3, 0.0, float(i)) for i in range(8)],
            "eid long, grp int, lon double, lat double",
        )
        inp = spark.createDataFrame(
            [(100 + i, i % 3, 0.05 * i, 7.0 - i) for i in range(8)],
            "iid long, grp int, lon double, lat double",
        )
        fast = spatial_join(
            inp, ext, _plan(condition="left.grp != right.grp")
        ).select("iid", "near_id", "dist_m").collect()
        slow = spatial_join(
            inp, ext, _plan(condition="(left.grp != right.grp)")
        ).select("iid", "near_id", "dist_m").collect()
        assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))

    def test_knn_k3_with_condition(self, spark, frames):
        inp, ext = frames
        out = spatial_join(
            inp, ext, _plan(condition="left.grp != right.grp", k=3)
        ).select("iid", "near_id").collect()
        got = sorted((r.iid, r.near_id) for r in out)
        # iid=100 (grp 10): only eid=2 allowed; iid=200 (grp 20): eids 1,3
        assert got == [(100, 2), (200, 1), (200, 3)]

    def test_broadcast_input_direction(self, spark, frames):
        """broadcast_input=True iterates the EXTERNAL side; the condition
        operands swap sides in the kernel but not in semantics."""
        inp, ext = frames
        # tie_break names BROADCAST-side columns = the input here
        plan = _plan(
            condition="left.grp != right.grp",
            broadcast_input=True,
            tie_break=("iid",),
        )
        out = spatial_join(inp, ext, plan).collect()
        # cardinality = external rows with >= 1 allowed input candidate;
        # eid=1,3 (grp 10) -> nearest allowed input is iid=200 (grp 20);
        # eid=2 (grp 20) -> iid=100
        got = {r.near_id: r.iid for r in out}
        assert got == {1: 200, 2: 100, 3: 200}

    def test_ordering_ops(self, spark):
        ext = spark.createDataFrame(
            [(1, 5, 0.0, 0.0), (2, 15, 0.0, 0.2)],
            "eid long, rank int, lon double, lat double",
        )
        inp = spark.createDataFrame(
            [(100, 10, 0.0, 0.05)], "iid long, rank int, lon double, lat double"
        )
        lt = spatial_join(
            inp, ext, _plan(condition="left.rank < right.rank")
        ).select("near_id").collect()
        gt = spatial_join(
            inp, ext, _plan(condition="left.rank > right.rank")
        ).select("near_id").collect()
        assert [r.near_id for r in lt] == [1]
        assert [r.near_id for r in gt] == [2]

    def test_precision_guard_beyond_2_53(self, spark):
        """Beyond 2^53 the kernel refuses (float64 would merge distinct
        ids); the rewritten condition its error advises takes the grid
        pass, which compares the longs exactly."""
        big = 1 << 53
        # eid=1 is nearest but shares grp with the probe; eid=2 and eid=3
        # differ from it only in the last bit (equal once cast to float64)
        ext = spark.createDataFrame(
            [(1, big, 0.0, 0.0), (2, big + 1, 0.0, 1.0), (3, big, 0.0, 2.0)],
            "eid long, grp long, lon double, lat double",
        )
        inp = spark.createDataFrame(
            [(100, big, 0.0, 0.1), (200, big + 1, 0.0, 1.9)],
            "iid long, grp long, lon double, lat double",
        )
        with pytest.raises(Exception, match="2\\^53"):
            spatial_join(
                inp, ext, _plan(condition="left.grp != right.grp")
            ).collect()
        got = spatial_join(
            inp, ext, _plan(condition="(left.grp != right.grp)")
        ).select("iid", "near_id", "dist_m").collect()
        # brute force over the exact longs
        expect = []
        for iid, igrp, ilon, ilat in inp.collect():
            d, eid = min(
                (float(haversine_np(ilon, ilat, elon, elat)), eid)
                for eid, egrp, elon, elat in ext.collect()
                if egrp != igrp
            )
            expect.append((iid, eid, int(d + 0.5)))
        assert sorted(map(tuple, got)) == sorted(expect)
        assert [(iid, eid) for iid, eid, _ in sorted(expect)] == [(100, 2), (200, 3)]


class TestParser:
    def _sides(self, spark):
        from spark_ml_spatialjointransformer_spark.operators.spatial_join import (
            prepare_external,
        )

        ext = spark.createDataFrame(
            [(1, 2, "x", 0.0, 0.0)],
            "eid long, grp int, name string, lon double, lat double",
        )
        inp = spark.createDataFrame(
            [(9, 3, "y", 0.0, 0.0)],
            "iid long, grp int, name string, lon double, lat double",
        )
        pext = prepare_external(ext, _plan(condition="left.grp != right.grp"))
        return pext, inp

    def test_takes_simple_numeric(self, spark):
        pext, inp = self._sides(spark)
        assert _kernel_condition_spec("left.grp != right.grp", pext, inp) == (
            "grp", "!=", "grp",
        )
        assert _kernel_condition_spec("left.eid<=right.iid", pext, inp) == (
            "eid", "<=", "iid",
        )

    def test_rejects_everything_else(self, spark):
        pext, inp = self._sides(spark)
        for cond in (
            "left.name != right.name",          # string operands
            "left.grp != right.grp AND left.eid > 0",  # compound
            "left.grp + 1 != right.grp",        # expression
            "left.missing != right.grp",        # unknown column
            "left.grp != right.missing",
            "(left.grp != right.grp)",          # parenthesized
        ):
            assert _kernel_condition_spec(cond, pext, inp) is None

    def test_flipped_spelling_mirrors_op(self, spark):
        pext, inp = self._sides(spark)
        assert _kernel_condition_spec(
            "right.grp != left.grp", pext, inp
        ) == ("grp", "!=", "grp")
        assert _kernel_condition_spec(
            "right.iid < left.eid", pext, inp
        ) == ("eid", ">", "iid")
