"""mortar_parquet_support_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of gtfierro/mortar-parquet-support.

Built from scratch on the Spark DataFrame API / Catalyst, not ported: the
reference (258 LoC of Python glue over PyArrow + Oxigraph) is a hybrid
metadata+timeseries query system; this package re-expresses every capability
Spark-first and extends it with large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal columns).

Layout
------
- ``session``    SparkSession factory with scale-minded defaults.
- ``sources``    ingest (CSV -> partitioned time-sorted Parquet lake), lake
                 open/scan with pruning, TTL -> RDF triples, sinks.
- ``plans``      SPARQL-subset parser + driver-side pattern matcher, and the
                 transitive closure behind property paths (``*``, ``+``).
- ``operators``  timeseries (rollup/asof/sessionize), dedup, similarity
                 search, text analysis, multimodal columns.
- ``functions``  reusable Column expression helpers.
- ``streaming``  Structured Streaming rollups over the lake.
- ``client``     the reference's ``Client`` API surface
                 (``/root/reference/mortar-parquet-client/client.py:14``).
"""

from mortar_parquet_support_spark.session import get_spark  # noqa: F401


def __getattr__(name):  # lazy: keep `import mortar_parquet_support_spark` light
    if name == "Client":
        from mortar_parquet_support_spark.client import Client

        return Client
    raise AttributeError(name)


__all__ = ["get_spark", "Client"]
__version__ = "0.1.0"
