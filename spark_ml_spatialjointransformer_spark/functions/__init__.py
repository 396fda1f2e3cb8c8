from spark_ml_spatialjointransformer_spark.functions.geodesic import (
    vincenty_np,
    haversine_np,
    geodesic_distance_udf,
)

__all__ = [
    "vincenty_np",
    "haversine_np",
    "geodesic_distance_udf",
]
