from . import aggregates, dedup, multimodal, search, similarity, skew, validate

__all__ = [
    "aggregates",
    "dedup",
    "multimodal",
    "search",
    "similarity",
    "skew",
    "validate",
]
