"""Engine configuration.

Carries the reference's tuned constants so the Spark pipeline reproduces its
ranking / thresholding semantics:

- entity linking: alpha=2, beta=1.6, min_score=8.0, max_results=40
  (reference entity_linking.py:20), ES score normalization /305
  (entity_linking.py:129)
- relation linking: beta=0.72, max_results=33 (relation_linking.py:18)
- fusion: candidate-triple threshold 0.1 (kg_construction.py:74), cap 10
  candidates per triple-set before scorers (kg_construction.py:82-83),
  best-triple threshold 0.1 (kg_construction.py:94)
- rerank survival threshold 0.05 (semantics.py:221)
- known-triple boost x3 (semantics.py:73-76)
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class LinkerConfig:
    """Entity/relation linker ranking constants (entity_linking.py:20,36-58)."""

    alpha: float = 2.0          # label-field boost
    beta: float = 1.6           # log1p(frequency) factor
    min_score: float = 8.0      # raw-score floor before normalization
    max_results: int = 40       # top-k candidates per mention
    score_norm: float = 305.0   # raw -> [0,1]-ish (entity_linking.py:129)
    # closed-form rank surrogate for the ES function_score query:
    # raw = match_quality * base_gain * (beta * log1p(frequency))
    # where match_quality = alpha for an exact label match, 1.0 for an
    # alias (search_key) match — monotone in (label match, frequency),
    # matching the reference's "label^alpha, search_key" field boosts.
    base_gain: float = 10.0


@dataclass(frozen=True)
class FusionConfig:
    candidate_threshold: float = 0.1   # kg_construction.py:74
    candidate_cap: int = 10            # kg_construction.py:82-83
    best_threshold: float = 0.1        # kg_construction.py:94
    rerank_threshold: float = 0.05     # semantics.py:221
    known_triple_boost: float = 3.0    # semantics.py:75
    # scale guard: cap containment-fallback queries per conversation
    # (None = exact reference semantics; set on Zipf-hot corpora)
    max_fallback_queries_per_conv: int | None = None


@dataclass(frozen=True)
class EngineConfig:
    entity_linker: LinkerConfig = field(default_factory=LinkerConfig)
    relation_linker: LinkerConfig = field(
        default_factory=lambda: LinkerConfig(beta=0.72, max_results=33)
    )  # relation_linking.py:18
    fusion: FusionConfig = field(default_factory=FusionConfig)


DEFAULT = EngineConfig()

# NER label sets driving typed-literal URL encoding
# (entity_recognition.py:34-36; semantics.py:95)
DECIMAL_TYPES = ("PERCENT", "MONEY", "QUANTITY", "CARDINAL", "ORDINAL")
DATE_TYPES = ("DATE", "TIME")
LITERAL_TYPES = DECIMAL_TYPES + DATE_TYPES

# RDF literal datatype URIs (entity_recognition.py:27-29)
XSD_DECIMAL = "http://www.w3.org/2001/XMLSchema#decimal"
XSD_DATETIME = "http://www.w3.org/2001/XMLSchema#dateTime"
