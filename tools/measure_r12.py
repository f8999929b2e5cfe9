#!/usr/bin/env python
"""Round-12 focused measurement: time named queries with the noop sink
(cold then warm within one session), reporting wall seconds and the
Spark job count each execution submitted."""
import os, sys, time, json
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

from adt_spark import ADTContext
from adt_spark.queries import load_all

ctx = ADTContext(app_name="adt-r12-measure")
spark = ctx.spark
registry = load_all()

names = sys.argv[1:] or [
    "q_window_groups_frame", "q_window_exclude", "q_window_exclude_minmax",
    "q_window_exclude_range_value", "q_window_exclude_range_date",
    "q_window_exclude_range_month", "q_window_exclude_rows",
    "q_window_exclude_noop", "q_window_unbounded_following",
    "q_sql_running_totals", "q_sql_two_rank_orders", "q_sql_shifted_frames",
]

# warmup
registry["q01_pricing_summary"].spark_fn(spark, sf_dir).count()
st = spark.sparkContext.statusTracker()

def run(name):
    ids0 = set(st.getJobIdsForGroup())
    spark.sparkContext.setJobDescription(f"r12-measure: {name}")
    t0 = time.perf_counter()
    registry[name].spark_fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    dt = time.perf_counter() - t0
    ids1 = set(st.getJobIdsForGroup())
    spark.sparkContext.setJobDescription(None)
    return dt, len(ids1 - ids0)

out = {}
for name in names:
    d1, n1 = run(name)
    d2, n2 = run(name)
    out[name] = {"cold": round(d1, 3), "warm": round(d2, 3), "jobs": n2}
    print(json.dumps({name: out[name]}), flush=True)
print("TOTAL", json.dumps(out))
spark.stop()
