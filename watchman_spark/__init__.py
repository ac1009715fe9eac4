"""watchman_spark — a PySpark-native parse→enrich→route→aggregate log engine.

A from-scratch reimplementation of the capabilities of the watchman class of
parse-and-route log processors (spec: /root/repo/BASELINE.json `north_star` /
`north_rule`), designed Spark-first:

- everything is a ``pyspark.sql.DataFrame`` plan; Catalyst/AQE own physical
  execution (no RDDs, no custom Catalyst rules),
- grok-style parsing is vectorized (JVM ``regexp_extract`` path for built-in
  speed, Arrow ``pandas_udf`` path for generality — never per-row Python),
- dimension enrichment is an explicit broadcast hash join,
- routing is a tag expression + one staged ``partitionBy("sink",
  "conv_bucket")`` write whose per-sink subtrees are committed atomically,
- hot-key (conversation) skew is defused with salted two-stage aggregation,
- runs are resumable from a commit-log checkpoint with per-partition lineage.

Reference provenance: the reference checkout at /root/reference is an empty
directory (see SURVEY.md §0); the behavioral spec lives in BASELINE.json and
is cited from module docstrings as ``BASELINE.json:<line>``.
"""

__version__ = "0.1.0"
