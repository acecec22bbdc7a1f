"""distributed_webcrawler_spark — a from-scratch PySpark-native rebuild of the
query/data-processing capabilities of Long2511/distributed-webcrawler.

The reference (/root/reference, snapshot 2025-07-04) is a Java/Spring
master-worker crawler: Redis ZSET frontier + exact seen-set, Kafka work
notification, Mongo result store (see SURVEY.md). This package re-expresses
that engine Spark-first:

- the frontier / seen-set / pages / metrics are append-only Parquet tables
  managed by :mod:`.sources.store` (snapshot manifests -> ACID-ish commits,
  time travel, exact checkpoint resume; swap for Iceberg on a real cluster),
- each crawl round is ONE Spark batch job (rank windows + anti-joins +
  broadcast robots join + fetch join + Arrow-batched decode of each
  distinct payload),
- URL canonicalization / hashing / robots evaluation are vectorized
  (built-in functions where possible, pandas UDFs over Arrow batches else),
- the URL-seen test is a per-partition Bloom filter merged via treeAggregate
  used as a PREFILTER in front of the authoritative exact anti-join.

Nothing here is a port: no line of the reference's Java is translated.
"""

__version__ = "0.1.0"

from .config import CrawlConfig  # noqa: F401
from .session import get_spark  # noqa: F401
