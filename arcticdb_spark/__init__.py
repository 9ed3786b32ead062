"""arcticdb_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of man-group/ArcticDB.

Built from scratch on the public PySpark DataFrame/SQL API. The reference
(ArcticDB) is a C++ columnar engine over object storage; this package
re-expresses its data model (versioned symbols, ts-indexed segments) and its
QueryBuilder operator surface (filter / project / groupby-agg / resample /
row+date range / concat / merge-update) as idiomatic Spark plans, plus
Spark-first extensions (joins, windows, dedup, similarity search, text
analysis) the reference lacks.

Layout:
    session.py       shared SparkSession factory tuned for OLAP
    expr.py          ExpressionNode AST -> pyspark Column (ref. type semantics)
    query.py         QueryBuilder: clause list -> DataFrame transformations
    catalog.py       Arctic / Library: symbol manifests (versions,
                     snapshots), write / append / update / delete /
                     stage / finalize, and versioned reads with pruning
                     (date_range, row_range, columns)
    arrowwrite.py    driver-side pyarrow write path for pandas-backed writes
    lazy.py          LazyDataFrame / LazyDataFrameCollection / concat
    normalizers.py   user-registered custom normalizers
    timeframe.py     TimeFrame, the numpy timeseries input kind
    toolbox.py       key-level library introspection and admin surface
    tools.py         runtime configuration registry (env vars)
    exceptions.py    reference exception names and error codes
    functions/       reference-style scalar function surface (col, where)
    plans/           row ids, compaction planning, skew salting, stats pruning
    sources/         table loaders and the metadata filesystem abstraction
    operators/       resample, concat, merge_update (clause kernels)
    extensions/      beyond-reference: joins, dedup, similarity, text, multimodal
    streaming/       structured-streaming ingestion (stage -> finalize)
"""

from arcticdb_spark.session import get_spark
from arcticdb_spark.query import QueryBuilder, col
from arcticdb_spark.expr import where
from arcticdb_spark.catalog import (Arctic, ArcticDbNotYetImplemented,
                                    ArcticException, DataError,
                                    DeleteRequest, EnterpriseLibraryOptions,
                                    LibraryOptions, MergeStrategy,
                                    MissingKeysInStageResultsError,
                                    ModifiableEnterpriseLibraryOption,
                                    ModifiableLibraryOption,
                                    KeyType, OutputFormat, Size,
                                    NoSuchVersionException,
                                    ReadInfoRequest, ReadRequest,
                                    StagedDataFinalizeMethod,
                                    VersionRequestType,
                                    SchemaException, SortingException,
                                    StageResult,
                                    UpdatePayload, WritePayload)
from arcticdb_spark.catalog import (UnsortedDataException, VersionedItem,
                                    WriteMetadataPayload)
from arcticdb_spark.exceptions import ErrorCategory, ErrorCode
from arcticdb_spark import exceptions
from arcticdb_spark.lazy import (LazyDataFrame, LazyDataFrameCollection,
                                 concat)
from arcticdb_spark.timeframe import TimeFrame
from arcticdb_spark.tools import set_config_from_env_vars
from arcticdb_spark import catalog as library  # reference: arcticdb.library
from arcticdb_spark.normalizers import (CustomNormalizer,
                                        CustomNormalizerMeta,
                                        clear_registered_normalizers,
                                        register_normalizer,
                                        registered_normalizers)

__version__ = "0.1.0"

__all__ = ["get_spark", "QueryBuilder", "col", "where", "Arctic",
           "WritePayload", "UpdatePayload", "DataError", "DeleteRequest",
           "MergeStrategy", "ReadRequest", "ReadInfoRequest", "StageResult",
           "VersionRequestType", "StagedDataFinalizeMethod",
           "ArcticException", "ArcticDbNotYetImplemented",
           "NoSuchVersionException", "SortingException",
           "SchemaException", "MissingKeysInStageResultsError",
           "LazyDataFrame", "LazyDataFrameCollection", "concat",
           "TimeFrame", "WriteMetadataPayload",
           "set_config_from_env_vars", "library", "__version__"]
