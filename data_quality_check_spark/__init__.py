"""data_quality_check_spark — PySpark-native analytics + quality-filter engine.

A from-scratch, Spark-first reimplementation of the query and data-processing
capabilities of the reference repo `Ybousbih/data_quality_check` (studied read-only;
see SURVEY.md), extended into a web-scale image+caption quality-filter pipeline
(language-ID, perplexity, heuristic validity rules, PII/toxicity scrub) plus the
training-data-pipeline operators (dedup, similarity search, text analysis,
multimodal plumbing) a 100 TB corpus job needs.

Design principles (SURVEY.md §4.2):
  * declare plans with the DataFrame/SQL API; let Catalyst optimize
  * ONE fused aggregation pass replaces the reference's O(cols+rules) jobs
  * UDFs only for model stages, always Arrow-vectorized (pandas_udf / mapInPandas)
  * binary `bytes` columns never enter a shuffle
"""

from data_quality_check_spark.session import get_spark
from data_quality_check_spark.operators.profiler import ProfileConfig, profile
from data_quality_check_spark.operators.detector import detect_config
from data_quality_check_spark.operators.report import write_report
from data_quality_check_spark.operators.scoring import TableScore, ColumnScore, run_scoring
from data_quality_check_spark.operators.suggestions import suggest_rules
from data_quality_check_spark.sources.tables import TableIO

__all__ = [
    "get_spark",
    "ProfileConfig",
    "profile",
    "detect_config",
    "TableScore",
    "ColumnScore",
    "run_scoring",
    "suggest_rules",
    "write_report",
    "TableIO",
]

__version__ = "0.1.0"
