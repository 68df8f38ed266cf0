"""Stable hashes replacing Python's salted hash() (SURVEY.md §7.4 risk 1).

The reference derives external-entity ids with ``abs(hash(text)) % 100000``
(entity_extractor.py:292), which is salt-randomized per process. We use
md5-derived 64-bit ints so ids are stable across executors, runs and machines.
"""

from __future__ import annotations

import hashlib


def stable_hash64(s: str) -> int:
    """First 8 md5 bytes as an unsigned big-endian int."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")


def external_entity_id(entity_text: str, label: str) -> str:
    """Deterministic ExternalEntity id; reference: entity_extractor.py:292
    (``ext_{label.lower()}_{abs(hash(text)) % 100000:05d}``) with the salted
    hash replaced by stable_hash64."""
    return f"ext_{label.lower()}_{stable_hash64(entity_text) % 100000:05d}"
