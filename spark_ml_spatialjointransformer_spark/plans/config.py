"""Logical-plan config for the spatial join: predicate parsing, geometry
specs, validation.

Behavioral parity notes (reference file:line):
- predicate parsing is substring-based with ``nearest`` as the default
  (SpatialJoin.scala:48-56);
- ``withindist n`` carries a radius in meters; ``extract_radius`` also
  returns the reference's inflated ``n / 35000`` degree window
  (SpatialJoin.scala:62-80) for parse parity, while the engine's prefilter
  bounds the radius in meters itself (operators/spatial_join.py) — the
  exact geodesic re-filter happens post-join;
- geometry spec validation: exactly one of (WKT, point) per side, point spec
  must split into exactly two names (BroadcastSpatialJoin.scala:185-204).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from spark_ml_spatialjointransformer_spark.plans.sqltext import name_parts, sql_ident
from spark_ml_spatialjointransformer_spark.toolbox import extract_number, split_trim

PREDICATES = ("withindist", "within", "contains", "intersects", "overlaps", "nearest")

#: reference's meters-per-degree inflation constant (SpatialJoin.scala:73)
METERS_IN_DEG = 35000.0


def parse_predicate(predicate: str) -> str:
    """Substring-match the predicate name; ``nearest`` by default.
    Parity: SpatialJoin.scala:48-56 (order matters: withindist before within).
    """
    p = (predicate or "").lower()
    for name in ("withindist", "within", "contains", "intersects", "overlaps"):
        if name in p:
            return name
    return "nearest"


def extract_radius(predicate: str) -> tuple[float, float]:
    """Return ``(radius_meters, radius_degrees)``; (0, 0) when absent.
    Parity: SpatialJoin.scala:72-80."""
    meters = extract_number(predicate or "", 1, sep=" ") or 0.0
    return meters, meters / METERS_IN_DEG


@dataclass(frozen=True)
class PointColumns:
    lon: str = ""
    lat: str = ""

    @property
    def is_empty(self) -> bool:
        return not self.lon or not self.lat


@dataclass(frozen=True)
class SideConfig:
    """Geometry source spec for one join side."""

    wkt_column: str = ""
    point_columns: PointColumns = field(default_factory=PointColumns)

    @property
    def is_wkt(self) -> bool:
        return bool(self.wkt_column)


def parse_point_columns(spec: str) -> PointColumns:
    """``"lon, lat"`` → PointColumns; empty on malformed input.
    Parity: BroadcastSpatialJoin.scala:218-221."""
    parts = split_trim(spec, ",")
    if len(parts) == 2:
        return PointColumns(parts[0], parts[1])
    return PointColumns()


def check_geom_params(wkt: str, point: str, side: str) -> None:
    """Parity: checkParams / checkGeomCols (BroadcastSpatialJoin.scala:190-199)."""
    n_nonempty = int(bool(wkt.strip())) + int(bool(point.strip()))
    if n_nonempty != 1:
        raise ValueError(
            f"You must specify one and only one property of ({side}WKT, {side}Point)"
        )
    if point.strip() and len(split_trim(point, ",")) != 2:
        raise ValueError(
            f"{side}Point property should be empty or contain string like 'lon, lat'"
        )


#: ``left.<name>`` / ``right.<name>``: a plain identifier or a
#: backtick-quoted one (``left.`site id` ``, a doubled backtick inside)
_COND_NAME = r"(`(?:[^`]|``)+`|[A-Za-z_][A-Za-z0-9_]*)"
_LEFT_REF = re.compile(r"\bleft\." + _COND_NAME)
_RIGHT_REF = re.compile(r"\bright\." + _COND_NAME)


def _ref_name(m: re.Match) -> str:
    """The exact column name a ``left.``/``right.`` reference names."""
    (name,) = name_parts(m.group(1))
    return name


def _ref_names(ref: re.Pattern, condition: str) -> list[str]:
    return list(dict.fromkeys(_ref_name(m) for m in ref.finditer(condition or "")))


def condition_external_columns(condition: str) -> list[str]:
    """External-dataset columns referenced by the extra condition (``left.X``) —
    these must survive the external-side projection.

    In the reference's condition grammar ``left`` is ALWAYS the external
    dataset and ``right`` ALWAYS the transformer input, regardless of the
    broadcast direction (the swap at BroadcastSpatialJoin.scala:470-477 undoes
    itself).  Parity: extraConditionColumns (BroadcastSpatialJoin.scala:504-506,
    513-529) generalized from the two hardcoded strings to any SQL expression —
    the generalization the reference's own TODO asks for (:509).
    """
    return _ref_names(_LEFT_REF, condition)


def condition_input_columns(condition: str) -> list[str]:
    """Input-side columns referenced by the extra condition (``right.Y`` in
    the reference grammar — the transformer input side)."""
    return _ref_names(_RIGHT_REF, condition)


def rewrite_condition(condition: str, ext_prefix: str) -> str:
    """Rewrite ``left.X`` / ``right.Y`` refs into the joined-plan namespace:
    external columns are internally prefixed, input columns keep their names.

    Returns a Spark SQL boolean expression string usable in ``F.expr``.
    """
    cond = _LEFT_REF.sub(lambda m: sql_ident(ext_prefix + _ref_name(m)), condition)
    cond = _RIGHT_REF.sub(lambda m: sql_ident(_ref_name(m)), cond)
    return cond


@dataclass(frozen=True)
class SpatialJoinPlan:
    """Fully-parsed logical description of one spatial join.

    Mirrors the reference's TransformerConfig (BroadcastSpatialJoin.scala:537-544)
    but carries no DataFrame — the plan is pure data; ``operators.spatial_join``
    compiles it against two DataFrames.
    """

    predicate: str = "nearest"
    external_side: SideConfig = field(default_factory=SideConfig)
    input_side: SideConfig = field(default_factory=SideConfig)
    data_columns: tuple[tuple[str, str], ...] = ()  # (name, alias) pairs
    distance_column: str = ""  # empty = no distance column
    condition: str = ""  # extra SQL condition over left.(external) / right.(input)
    broadcast_input: bool = True  # True: input broadcast, external iterated
    filter: str = ""  # SQL filter on external before join
    num_partitions: int | None = None  # optional repartition of external
    distance_kernel: str = "geodesic"  # 'geodesic' (WGS84, parity) | 'haversine' (pure JVM)
    tie_break: tuple[str, ...] = ()  # input-side cols for deterministic nearest ties
    #: 'broadcast' (reference contract: small side fits in memory) or
    #: 'partitioned'.  withindist and the bbox predicates join on grid-cell
    #: keys either way; 'partitioned' only drops the broadcast hint so both
    #: sides shuffle on them (nearest: one certified grid pass) — lifts
    #: the broadcast memory bound; supported for every predicate
    strategy: str = "broadcast"
    #: for 'nearest': the k nearest broadcast-side rows per iterated row
    #: (k=1 is the reference's semantics; k>1 is a beyond-reference
    #: extension — output cardinality becomes iterated-rows × k)
    k: int = 1

    @property
    def op(self) -> str:
        return parse_predicate(self.predicate)

    @property
    def radius_meters(self) -> float:
        return extract_radius(self.predicate)[0]
