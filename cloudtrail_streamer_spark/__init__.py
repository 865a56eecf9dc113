"""cloudtrail_streamer_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the capability surface of
mozilla-services/cloudtrail-streamer (a ~300-line Go Lambda that streams
gzipped CloudTrail JSON log files from S3 into Kinesis; see SURVEY.md §2.A,
upstream ``main.go`` approx citations therein), generalized into a full
DataFrame/SQL/Structured-Streaming analytics engine per SURVEY.md §2.B,
plus LLM-data-pipeline operators (dedup, similarity search, multimodal
columns, text analysis).

Design rules (SURVEY.md §1.2 / §4):
- DataFrame-first, never RDD; expressions stay JVM-side (whole-stage
  codegen) except the explicitly declared UDF ops (B-51..B-54).
- Catalyst does the optimizing — we declare logical plans and verify the
  physical plans (pushdown, pruning, broadcast) in tests.
- Determinism rules of SURVEY.md §5.3 are enforced by helpers in
  ``functions/``: decimal money math, rounded float outputs, total-order
  tiebreaks.
"""

from cloudtrail_streamer_spark import zipguard
from cloudtrail_streamer_spark.session import get_session, configure
from cloudtrail_streamer_spark.catalog import table, TABLES
from cloudtrail_streamer_spark.registry import (
    QuerySpec,
    query,
    all_queries,
    all_oracles,
    get_spec,
)

# Python workers import this package to unpickle engine closures; from
# then on their per-task importlib.invalidate_caches() skips unchanged zips.
zipguard.install()

__all__ = [
    "get_session",
    "configure",
    "table",
    "TABLES",
    "QuerySpec",
    "query",
    "all_queries",
    "all_oracles",
    "get_spec",
]

__version__ = "0.1.0"
