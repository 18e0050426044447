"""Operator library — importing this package registers every SURVEY.md §2
operator into the catalog (ai_dataingestion_spark.catalog)."""

from ai_dataingestion_spark.operators import (  # noqa: F401
    aggregates,
    analytics,
    events,
    graph,
    joins,
    projections,
    sets,
    sorts,
    sql_clauses,
    windows,
)
from ai_dataingestion_spark import functions  # noqa: F401
from ai_dataingestion_spark import ai  # noqa: F401
from ai_dataingestion_spark import udf  # noqa: F401
from ai_dataingestion_spark import sources  # noqa: F401
from ai_dataingestion_spark import pipeline  # noqa: F401
from ai_dataingestion_spark import streaming  # noqa: F401
from ai_dataingestion_spark import plans  # noqa: F401
from ai_dataingestion_spark.streaming import state_v2  # noqa: F401
from ai_dataingestion_spark.operators import pipe_syntax  # noqa: F401
from ai_dataingestion_spark.udf import udtf_depth  # noqa: F401
from ai_dataingestion_spark.operators import variant_depth  # noqa: F401
from ai_dataingestion_spark.operators import sql_scripting  # noqa: F401
from ai_dataingestion_spark.streaming import statestore_reader  # noqa: F401
from ai_dataingestion_spark.operators import catalog_meta  # noqa: F401
from ai_dataingestion_spark.operators import sql_udf  # noqa: F401
from ai_dataingestion_spark.operators import collation_depth  # noqa: F401
from ai_dataingestion_spark.operators import observability  # noqa: F401
from ai_dataingestion_spark.udf import arrow_native  # noqa: F401
from ai_dataingestion_spark.streaming import statestore_timetravel  # noqa: F401
from ai_dataingestion_spark.sources import python_pushdown  # noqa: F401
from ai_dataingestion_spark.functions import xml_depth  # noqa: F401
from ai_dataingestion_spark.operators import catalog_describe  # noqa: F401
from ai_dataingestion_spark.functions import map_hof  # noqa: F401
from ai_dataingestion_spark.operators import sql_params  # noqa: F401
from ai_dataingestion_spark.functions import csv_depth  # noqa: F401
from ai_dataingestion_spark.operators import generators  # noqa: F401
from ai_dataingestion_spark.functions import ingest_hygiene  # noqa: F401
from ai_dataingestion_spark.functions import regex_depth  # noqa: F401
from ai_dataingestion_spark.streaming import statestore_options  # noqa: F401
from ai_dataingestion_spark.streaming import observe_stream  # noqa: F401
