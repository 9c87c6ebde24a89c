# Probe: mimic the DRIVER's session — plain builder, none of our configs.
import os
import sys
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .appName("bare-driver-sim").config("spark.ui.enabled","false").getOrCreate())
import __spark_entry__ as e
df = e.entry(spark)
print("entry rows:", df.count(), "| schema:", df.schema.simpleString())
qs = e.queries()
# events-reading query is the risky one under a bare session (nanos ts)
out = qs["datetime_extract"](spark, "/root/testdata/sf0.01")
print("datetime_extract rows:", out.count(), "| first:", out.orderBy("event_id").first())
o = e.oracle_sql()
print("oracle coverage:", len(o), "/", len(qs), "queries;", sorted(set(qs) - set(o)))
