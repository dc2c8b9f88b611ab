"""End-to-end rollup pipeline on the synthetic token table.

Run: python examples/rollup_pipeline.py
"""
import sys, os, tempfile
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from diive_spark.session import get_spark
from diive_spark import synth
from diive_spark.plans import pipeline

spark = get_spark("example-rollup", master="local[8]")
spark.sparkContext.setLogLevel("ERROR")

raw = synth.inject_gaps(synth.with_event_time(synth.token_table(spark, 20_000)))
out = tempfile.mkdtemp(prefix="rollup_example_")
metrics = pipeline.run_pipeline(spark, raw, out, batch_size=10)
print("rows written per tier:", metrics["rows"])
print("tiers written under:", out)

# resume is a no-op when everything is done
again = pipeline.run_pipeline(spark, raw, out, batch_size=10)
print("pending on rerun:", again["n_partitions_pending"])
