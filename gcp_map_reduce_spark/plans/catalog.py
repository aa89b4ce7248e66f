"""Catalog — importing this module registers every query in the registry.

Add each operator module to ``MODULES``; modules self-register via the
``@query`` decorator when imported. ``MODULES`` ORDER IS
REGISTRATION ORDER (``registry.load_catalog`` sorts the registry by it,
whatever the process imported first), and the driver
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

from importlib import import_module

MODULES = tuple(
    f"gcp_map_reduce_spark.operators.{name}"
    for name in (
        "scale", "wordcount", "udf_plugin", "text_analysis",
        "curation_rules", "dedup", "decontam", "pipeline", "sampling",
        "similarity", "clustering", "multimodal", "relational",
        "relational_ext", "relational_subq", "timeseries",
    )
)
for _module in MODULES:
    import_module(_module)
