"""The reference's hardcoded 26-word stop list.

Verbatim from search-engin/src/main/java/indexer/StopWordFilter.java:12-21.
NOT a standard stopword list — do not substitute nltk/spark defaults.
"""

from __future__ import annotations

STOP_WORDS = frozenset(
    [
        "a", "an", "and", "are", "as", "at", "be", "by", "for",
        "from", "has", "he", "in", "is", "it", "its", "of", "on",
        "that", "the", "to", "was", "were", "will", "with", "this",
    ]
)
