"""Custom stateful streaming operator: incremental per-(run,key) metric
statistics via applyInPandasWithState (SURVEY.md §2.10 extension — the
reference has no stateful streaming at all; this is the engine's scale
path for live leaderboards/summaries that must not rescan history).

State per group: (count, sum, min, max, last_step, last_value).  Each
micro-batch updates state in O(batch) and emits one refreshed summary row
per touched group — a downstream sink gets an always-current metric
summary without re-aggregating the append log.
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from waddleml_spark import schemas
from waddleml_spark.store import WaddleStore

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType()),
        T.StructField("key", T.StringType()),
        T.StructField("n", T.LongType()),
        T.StructField("sum_v", T.DoubleType()),
        T.StructField("min_v", T.DoubleType()),
        T.StructField("max_v", T.DoubleType()),
        T.StructField("last_step", T.IntegerType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("sum_v", T.DoubleType()),
        T.StructField("min_v", T.DoubleType()),
        T.StructField("max_v", T.DoubleType()),
        T.StructField("last_step", T.IntegerType()),
        T.StructField("last_value", T.DoubleType()),
    ]
)


def _update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, sum_v, min_v, max_v, last_step, last_value = state.get
    else:
        n, sum_v, min_v, max_v, last_step, last_value = 0, 0.0, None, None, -1, None
    for pdf in pdfs:
        if pdf.empty:
            continue
        # NaN is a legal logged value (loss=nan): pandas sum/min/max
        # SKIP NaN while len() counts it, so the naive form produced an
        # internally inconsistent summary and one all-NaN batch poisoned
        # min/max forever via Python min(NaN, x) (round-6 review find).
        # Stats summarize the NON-NaN values; n counts them; last_value
        # stays the literal latest logged value, NaN included.
        vals = pdf["value"].astype(float)
        vals = vals[vals.notna()]
        n += int(vals.size)
        if vals.size:
            sum_v += float(vals.sum())
            bmin, bmax = float(vals.min()), float(vals.max())
            min_v = bmin if min_v is None else min(min_v, bmin)
            max_v = bmax if max_v is None else max(max_v, bmax)
        # latest by step: the run's step counter is monotonic
        top = pdf.loc[pdf["step"].astype(int).idxmax()]
        if int(top["step"]) >= last_step:
            last_step = int(top["step"])
            last_value = float(top["value"])
    state.update((n, sum_v, min_v, max_v, last_step, last_value))
    yield pd.DataFrame(
        [
            {
                "run_id": key[0],
                "key": key[1],
                "n": n,
                "sum_v": sum_v,
                "min_v": min_v,
                "max_v": max_v,
                "last_step": last_step,
                "last_value": last_value,
            }
        ]
    )


def running_metric_summary(store: WaddleStore) -> DataFrame:
    """Streaming DataFrame of incrementally-maintained per-(run_id, key)
    summaries over the metrics append log; the caller attaches a sink
    (the tests use the memory sink)."""
    from waddleml_spark.session import ensure_shipped

    spark = store.spark
    ensure_shipped(spark)
    src = spark.readStream.schema(schemas.METRICS).parquet(store._dir("metrics"))
    return src.groupBy("run_id", "key").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

