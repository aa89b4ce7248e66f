"""Catalog — importing this module registers every query in the registry.

Add one import line per operator module; modules self-register via the
``@query`` decorator. IMPORT ORDER IS REGISTRATION ORDER, and the driver
evaluates queries in registration order with a bounded (~50-row)
correctness window — the registry is consolidated to exactly fit it
(same-family operators register as tagged suite unions;
``tests/test_registry_docs.py`` gates the count). Reference-parity
operators (wordcount / inverted index / UDF plug-in surface) register
first, then the LLM-pipeline families (text, dedup, similarity,
multimodal), then the extended relational surface. ``scale`` leads the
list because its ``salted_token_counts`` has always registered ahead of
``wordcount``.
"""

from gcp_map_reduce_spark.operators import (  # noqa: F401,I001
    scale,
    wordcount,
    udf_plugin,
    text_analysis,
    curation_rules,
    decontam,
    dedup,
    pipeline,
    sampling,
    similarity,
    clustering,
    multimodal,
    relational,
    relational_ext,
    relational_subq,
    timeseries,
)  # noqa: F401
