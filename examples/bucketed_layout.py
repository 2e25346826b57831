"""Bucketed fact layout end-to-end: ONE `bucket_facts` call, then the
catalog's revenue join (lineitem ⋈ orders on orderkey) plans with ZERO
exchange below the join — the co-located layout a 100 TB deployment pays
for once at ingest and amortizes over every subsequent same-key query.

At the 100x replica, the r8 history row in SCALING.md's 100× section
records the plain join at 5.34 s vs 0.90 s bucketed (5.93x, quiet-window
interleaved min-of-5, plan-asserted exchange-free); DEPLOY.md maps the
same layout onto a real cluster (persistent metastore + object-store
paths).  This example shows the user-facing flow at smoke scale and
verifies the plan property + value parity rather than re-measuring
(timing at sf0.001 measures the scheduling floor, not the layout).

Run: PYTHONPATH=. python examples/bucketed_layout.py
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from waddleml_spark.catalog import revenue_join
from waddleml_spark.plans.inspect import count_op
from waddleml_spark.session import get_spark
from waddleml_spark.sources.bucketed import bucket_facts, read_bucketed

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

spark = get_spark(app_name="bucketed-layout")
spark.sparkContext.setLogLevel("ERROR")

# 1. ingest-side: write both facts bucketed+sorted by their join key.
#    This is the one-time shuffle the layout trades for every later one.
names = bucket_facts(spark, SF_DIR, n_buckets=8)
print(f"bucketed tables       : {names}")

# 2. query-side: read THROUGH the catalog (a plain parquet read of the
#    same files would drop the bucket spec) and run the catalog's own
#    revenue join.  Broadcast is disabled so the plan shows the
#    merge-join path the layout exists for — at 100 TB neither side
#    broadcasts anyway.
li, o = read_bucketed(spark, names["lineitem"]), read_bucketed(spark, names["orders"])
plain_li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
plain_o = spark.read.parquet(f"{SF_DIR}/orders.parquet")

old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
try:
    bucketed_q = revenue_join(li, o)
    plain_q = revenue_join(plain_li, plain_o)
    # the bucketed plan's ONLY exchange is the final 5-key aggregate;
    # the plain plan shuffles both facts on orderkey first
    n_b, n_p = count_op(bucketed_q, "Exchange"), count_op(plain_q, "Exchange")
    rows_b = {r["o_orderpriority"]: (r["revenue"], r["n_items"])
              for r in bucketed_q.collect()}
    rows_p = {r["o_orderpriority"]: (r["revenue"], r["n_items"])
              for r in plain_q.collect()}
finally:
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)

print(f"exchanges (plain)     : {n_p}")
print(f"exchanges (bucketed)  : {n_b}  (join itself shuffle-free)")
print(f"values match          : {rows_b == rows_p}")
print("measured at 100x      : 5.34 s plain -> 0.90 s bucketed (5.93x)")
assert n_b == 1 and n_b < n_p and rows_b == rows_p

# cleanup: the layout normally persists (that is the point); this demo
# drops its catalog entries so reruns start clean
for t in names.values():
    spark.sql(f"DROP TABLE IF EXISTS {t}")
