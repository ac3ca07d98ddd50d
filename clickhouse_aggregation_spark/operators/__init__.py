from .registry import REGISTRY, QuerySpec, register  # noqa: F401

# importing the modules populates the registry
from . import (  # noqa: F401,E402
    rollups, queries, tpch, similarity, dedup, text, multimodal,
    abi, entity, sqltext, clustering, asof, windows, pipeline,
    contamination, tpch_suite, streaming_bridge, curation,
)
