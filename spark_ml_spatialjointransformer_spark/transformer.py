"""``BroadcastSpatialJoin`` — a pure-Python ``pyspark.ml.Transformer``.

Drop-in replacement for the reference's py4j wrapper surface
(reference: src/main/python/me/valik/spark/transformer.py:97-219 and the
Scala transformer BroadcastSpatialJoin.scala:69-306): same 12 string params,
same names/defaults/getters/setters, ML-Pipeline composable and persistable
via ``DefaultParamsReadable/Writable`` — but with **no JVM counterpart**: the
transform compiles directly to a DataFrame expression tree
(``operators.spatial_join``), so Catalyst performs column pruning, predicate
pushdown and broadcast planning natively.

Engine extensions beyond the reference surface (defaults preserve parity):

- ``distanceKernel``: ``"geodesic"`` (WGS84 Vincenty — matches the
  reference's GeographicLib goldens) or ``"haversine"`` (pure-JVM columnar
  expression, for at-scale workloads that accept the spherical model);
- ``tieBreak``: CSV of broadcast-side column names used to order equal
  nearest-distances deterministically (the reference leaves ties to spatial
  index traversal order — nondeterministic);
- ``transformSchema`` is computed statically from catalog schemas (pure
  ``StructType`` algebra) instead of the reference's empty-DataFrame
  execution probe (BroadcastSpatialJoin.scala:278-301, and its own TODO
  at :280 asking for exactly this).
"""

from __future__ import annotations

from pyspark import keyword_only
from pyspark.ml import Transformer
from pyspark.ml.param import Param, Params, TypeConverters
from pyspark.ml.util import DefaultParamsReadable, DefaultParamsWritable
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from spark_ml_spatialjointransformer_spark.operators.spatial_join import spatial_join
from spark_ml_spatialjointransformer_spark.plans.config import (
    SideConfig,
    SpatialJoinPlan,
    check_geom_params,
    parse_point_columns,
)
from spark_ml_spatialjointransformer_spark.toolbox import parse_data_columns, split_trim

_DEFAULTS = dict(
    dataColumns="",
    distanceColumnAlias="",
    datasetWKT="",
    datasetPoint="",
    inputWKT="",
    inputPoint="",
    dataset="",
    predicate="nearest",
    broadcast="input",
    numPartitions="",
    filter="",
    condition="",
    distanceKernel="geodesic",
    tieBreak="",
    joinStrategy="broadcast",
    numNeighbors="",
)


def _str_param(name: str, doc: str) -> Param:
    return Param(Params._dummy(), name, doc, typeConverter=TypeConverters.toString)


class BroadcastSpatialJoin(
    Transformer, DefaultParamsReadable, DefaultParamsWritable
):
    """Join the input DataFrame with a catalog-registered external dataset on
    a spatial relation; append selected external columns and an optional
    geodesic distance column.  Inner join only (reference README.md:148).

    >>> poi = spark.createDataFrame([("a", 1.1, 3.1)], ["poi_id", "lon", "lat"])
    >>> poi.createOrReplaceTempView("poi")
    >>> df = spark.createDataFrame([(0, 1.0, 3.0)], ["id", "lon", "lat"])
    >>> trans = BroadcastSpatialJoin(dataset="poi", dataColumns="poi_id",
    ...     datasetPoint="lon, lat", inputPoint="lon, lat")
    >>> trans.transform(df).head()
    Row(id=0, lon=1.0, lat=3.0, poi_id='a')
    """

    dataColumns = _str_param(
        "dataColumns", "external ds column names to join to input, in csv format"
    )
    datasetWKT = _str_param("datasetWKT", "external geometry column name")
    datasetPoint = _str_param(
        "datasetPoint", "external dataset point columns, e.g. `lon, lat`"
    )
    inputWKT = _str_param("inputWKT", "input geometry column name")
    inputPoint = _str_param("inputPoint", "input point columns, e.g. `lon, lat`")
    dataset = _str_param(
        "dataset", "external dataset name, should be registered in sql metastore"
    )
    predicate = _str_param(
        "predicate",
        "spatial op, one of: withindist, within, contains, intersects, overlaps, nearest",
    )
    numPartitions = _str_param(
        "numPartitions", "external dataset repartition parameter, no repartition if empty"
    )
    distanceColumnAlias = _str_param(
        "distanceColumnAlias", "alias for added `distance` column"
    )
    broadcast = _str_param(
        "broadcast", "which DF will be broadcasted: 'input' or 'external' "
    )
    filter = _str_param("filter", "dataset filter")
    condition = _str_param("condition", "extra predicate to push into SpatialJoin")
    distanceKernel = _str_param(
        "distanceKernel", "distance kernel: 'geodesic' (WGS84) or 'haversine'"
    )
    tieBreak = _str_param(
        "tieBreak", "CSV of broadcast-side columns for deterministic nearest ties"
    )
    joinStrategy = _str_param(
        "joinStrategy",
        "'broadcast' (reference contract) or 'partitioned'.  withindist "
        "and the bbox predicates always join on grid-cell equi-keys "
        "(centroid cells / bbox cells); 'partitioned' only drops the "
        "broadcast hint so both sides shuffle on those keys, and runs "
        "nearest as one certified grid pass incl. k>1 and extra "
        "conditions — lifts the broadcast memory bound for big-by-big "
        "joins.  Under 'broadcast', nearest with a condition the kernel "
        "cannot mask (anything but one numeric left.<col> op right.<col> "
        "comparison) takes the same grid pass",
    )
    numNeighbors = _str_param(
        "numNeighbors",
        "for predicate 'nearest': k nearest external rows per input row "
        "(empty/'1' = the reference's top-1 semantics; k>1 is a "
        "beyond-reference extension — output has input-rows x k rows)",
    )

    @keyword_only
    def __init__(self, **kwargs):
        super().__init__()
        self._setDefault(**_DEFAULTS)
        bad = set(kwargs) - set(_DEFAULTS)
        if bad:
            raise TypeError(f"Unknown BroadcastSpatialJoin params: {sorted(bad)}")
        self._set(**kwargs)

    @keyword_only
    def setParams(self, **kwargs):
        bad = set(kwargs) - set(_DEFAULTS)
        if bad:
            raise TypeError(f"Unknown BroadcastSpatialJoin params: {sorted(bad)}")
        return self._set(**kwargs)

    # -- reference-parity setters/getters (transformer.py:149-219) --
    def setJoinCondition(self, value):
        return self._set(condition=value)

    def getJoinCondition(self):
        return self.getOrDefault(self.condition)

    def setDatasetFilter(self, value):
        return self._set(filter=value)

    def getDatasetFilter(self):
        return self.getOrDefault(self.filter)

    def setBroadcast(self, value):
        return self._set(broadcast=value)

    def getBroadcast(self):
        return self.getOrDefault(self.broadcast)

    def setDistColAlias(self, value):
        return self._set(distanceColumnAlias=value)

    def getDistColAlias(self):
        return self.getOrDefault(self.distanceColumnAlias)

    def setNumPartitions(self, value):
        return self._set(numPartitions=value)

    def getNumPartitions(self):
        return self.getOrDefault(self.numPartitions)

    def setDataColumns(self, value):
        return self._set(dataColumns=value)

    def getDataColumns(self):
        return self.getOrDefault(self.dataColumns)

    def setDatasetWKT(self, value):
        return self._set(datasetWKT=value)

    def getDatasetWKT(self):
        return self.getOrDefault(self.datasetWKT)

    def setDatasetPoint(self, value):
        return self._set(datasetPoint=value)

    def getDatasetPoint(self):
        return self.getOrDefault(self.datasetPoint)

    def setInputWKT(self, value):
        return self._set(inputWKT=value)

    def getInputWKT(self):
        return self.getOrDefault(self.inputWKT)

    def setInputPoint(self, value):
        return self._set(inputPoint=value)

    def getInputPoint(self):
        return self.getOrDefault(self.inputPoint)

    def setDataset(self, value):
        return self._set(dataset=value)

    def getDataset(self):
        return self.getOrDefault(self.dataset)

    def setPredicate(self, value):
        return self._set(predicate=value)

    def getPredicate(self):
        return self.getOrDefault(self.predicate)

    def setDistanceKernel(self, value):
        return self._set(distanceKernel=value)

    def getDistanceKernel(self):
        return self.getOrDefault(self.distanceKernel)

    def setJoinStrategy(self, value):
        return self._set(joinStrategy=value)

    def getJoinStrategy(self):
        return self.getOrDefault(self.joinStrategy)

    def setTieBreak(self, value):
        return self._set(tieBreak=value)

    def getTieBreak(self):
        return self.getOrDefault(self.tieBreak)

    def setNumNeighbors(self, value):
        return self._set(numNeighbors=value)

    def getNumNeighbors(self):
        return self.getOrDefault(self.numNeighbors)

    # -- plan construction ---------------------------------------------------

    def _get(self, param: Param) -> str:
        return (self.getOrDefault(param) or "").strip()

    def _make_plan(self) -> SpatialJoinPlan:
        """Validate params and build the logical plan.
        Parity: checkParams + makeConfig (BroadcastSpatialJoin.scala:185-267)."""
        check_geom_params(self._get(self.datasetWKT), self._get(self.datasetPoint), "dataset")
        check_geom_params(self._get(self.inputWKT), self._get(self.inputPoint), "input")
        if not self._get(self.dataset):
            raise ValueError("dataset property must contain table or view name")
        data_columns = tuple(parse_data_columns(self._get(self.dataColumns)))
        if not data_columns:
            raise ValueError("dataColumns property must contain at least one column name")

        try:
            num_partitions: int | None = int(self._get(self.numPartitions))
        except ValueError:
            num_partitions = None

        raw_k = self._get(self.numNeighbors) or "1"
        try:
            k = int(raw_k)
        except ValueError:
            raise ValueError(
                f"numNeighbors must be a positive integer, got {raw_k!r}"
            ) from None
        if k < 1:
            raise ValueError(f"numNeighbors must be >= 1, got {k}")

        broadcast_side = self._get(self.broadcast)
        if broadcast_side not in ("input", "external", "dataset"):
            # the reference treats any non-"input" string as external
            # (BroadcastSpatialJoin.scala:91-93) — a typo like "inpt"
            # silently flips join direction AND result cardinality, so
            # exceed the reference safely and reject it loudly here
            raise ValueError(
                "broadcast must be 'input', 'external' or 'dataset' "
                f"(synonym for external); got {broadcast_side!r}"
            )
        return SpatialJoinPlan(
            predicate=self._get(self.predicate),
            external_side=SideConfig(
                wkt_column=self._get(self.datasetWKT),
                point_columns=parse_point_columns(self._get(self.datasetPoint)),
            ),
            input_side=SideConfig(
                wkt_column=self._get(self.inputWKT),
                point_columns=parse_point_columns(self._get(self.inputPoint)),
            ),
            data_columns=data_columns,
            distance_column=self._get(self.distanceColumnAlias),
            condition=self._get(self.condition),
            broadcast_input=self._get(self.broadcast) == "input",
            filter=self._get(self.filter),
            num_partitions=num_partitions,
            distance_kernel=self._get(self.distanceKernel) or "geodesic",
            tie_break=tuple(split_trim(self._get(self.tieBreak))),
            strategy=self._get(self.joinStrategy) or "broadcast",
            k=k,
        )

    def _load_dataset(self, spark: SparkSession) -> DataFrame:
        """Catalog lookup. Parity: loadDataset (BroadcastSpatialJoin.scala:178-180)."""
        return spark.sql(f"select * from {self._get(self.dataset)}")

    def _transform(self, dataset: DataFrame) -> DataFrame:
        spark = dataset.sparkSession
        plan = self._make_plan()
        return spatial_join(dataset, self._load_dataset(spark), plan)

    def transformSchema(self, schema: T.StructType) -> T.StructType:
        """Static output-schema algebra (no execution):
        input fields ++ selected external fields renamed ++ optional Int
        distance.  Parity with the *result* of the reference's execution
        probe (BroadcastSpatialJoin.scala:414-423)."""
        plan = self._make_plan()
        spark = SparkSession.getActiveSession() or SparkSession.builder.getOrCreate()
        ext_schema = self._load_dataset(spark).schema
        ext_fields = {f.name: f for f in ext_schema.fields}
        fields = list(schema.fields)
        for name, alias in plan.data_columns:
            if name not in ext_fields:
                raise ValueError(f"dataColumns references unknown column `{name}`")
            f = ext_fields[name]
            fields.append(T.StructField(alias, f.dataType, True))
        if plan.distance_column:
            fields.append(T.StructField(plan.distance_column, T.IntegerType(), True))
        return T.StructType(fields)
