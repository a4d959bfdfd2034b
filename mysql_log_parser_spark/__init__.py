"""mysql_log_parser_spark — a from-scratch, PySpark-native slow-query-log
analytics engine with the query/data-processing capabilities of the reference
Go pipeline (shiviyer/mysql-log-parser), re-expressed Spark-first:

    tokens table (doc_id, tokens:array<int32>, n_tok, source)
      -> detokenize (Arrow-vectorized)
      -> event assembly/parse (mapInArrow vectorized state machine)
      -> fingerprint + class_id (native Catalyst regex chain)
      -> enrich (broadcast dim joins)
      -> route (per-source sinks)
      -> aggregate (per-class / global pt-query-digest-style stats)

See SURVEY.md for the operator-by-operator mapping to the reference.
"""

from mysql_log_parser_spark.functions.fingerprint import (  # noqa: F401
    checksum,
    fingerprint,
    with_fingerprint,
)

__version__ = "0.1.0"
