"""waddleml_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of briangu/waddleml, rebuilt Spark-first.

The reference (/root/reference) is an ML experiment tracker embedding DuckDB;
its "engine" is a fixed repertoire of SQL query shapes plus a write path
(run lifecycle, metric append, param/tag upsert, artifact blobs) and a live
streaming path.  This package re-expresses every one of those capabilities as
Catalyst-optimizable DataFrame plans over Parquet storage with a DuckDB
mirror, and extends them with LLM-data-pipeline operators (dedup, similarity
search, text analysis, multimodal columns) designed for 100 TB scale.

Layout:
    session     SparkSession factory (AQE, UTC, arrow, tuned shuffle)
    schemas     the 7 waddle tables' spec; DuckDB DDL, Arrow and Spark schemas
    store       Parquet event-log storage + DuckDB write-through mirror
    api / run   wandb-style init/log/finish lifecycle (ref: waddle/_api.py)
    operators/  read-path query library (SURVEY.md §2.2-2.8)
    functions/  scalar expression helpers (SURVEY.md §2.8)
    llmops/     dedup / similarity / text analysis / multimodal (§2.12)
    streaming/  live metric broadcast + system sampler (§2.10)
"""

__version__ = "0.1.0"

from waddleml_spark.api import (  # noqa: F401
    finish,
    init,
    log,
    log_artifact,
    log_param,
    log_tag,
    serve_dashboard,
)
from waddleml_spark.run import Run  # noqa: F401
from waddleml_spark.session import get_spark  # noqa: F401
from waddleml_spark.store import WaddleStore  # noqa: F401
