from stockpulse_spark.plans.registry import REGISTRY, QuerySpec, queries, oracle_sql

# importing the domain modules populates REGISTRY
from stockpulse_spark.plans import relational  # noqa: F401, E402
from stockpulse_spark.plans import timeseries  # noqa: F401, E402
from stockpulse_spark.plans import text_curation  # noqa: F401, E402
from stockpulse_spark.plans import vectors  # noqa: F401, E402
from stockpulse_spark.plans import text_dedup  # noqa: F401, E402
from stockpulse_spark.plans import asof  # noqa: F401, E402
from stockpulse_spark.plans import streaming  # noqa: F401, E402
from stockpulse_spark.plans import multimodal  # noqa: F401, E402
from stockpulse_spark.plans import graph  # noqa: F401, E402
from stockpulse_spark.plans import stats_ml  # noqa: F401, E402
from stockpulse_spark.plans import warehouse  # noqa: F401, E402

__all__ = ["REGISTRY", "QuerySpec", "queries", "oracle_sql"]
