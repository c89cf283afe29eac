from .mentions import extract_mentions, surviving_span_seqs
from .blocking import block_candidates, entity_names
from .scoring import score_pairs, fit_idf
from .clustering import connected_components

__all__ = [
    "extract_mentions",
    "surviving_span_seqs",
    "block_candidates",
    "entity_names",
    "score_pairs",
    "fit_idf",
    "connected_components",
]
