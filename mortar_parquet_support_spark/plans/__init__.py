"""Query planning: the SPARQL-subset compiler, which matches graph patterns
on the driver and returns DataFrames, and the driver-side transitive
closure (``closure_pairs``) behind its property-path steps."""

from mortar_parquet_support_spark.plans.sparql import SparqlEngine, parse_sparql  # noqa: F401
