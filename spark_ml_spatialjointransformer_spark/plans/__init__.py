from spark_ml_spatialjointransformer_spark.plans.config import (
    PointColumns,
    SideConfig,
    SpatialJoinPlan,
    PREDICATES,
    parse_predicate,
    extract_radius,
)

__all__ = [
    "PointColumns",
    "SideConfig",
    "SpatialJoinPlan",
    "PREDICATES",
    "parse_predicate",
    "extract_radius",
]
