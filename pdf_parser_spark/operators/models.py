"""Frozen model artifacts (sf0.01-trained LM + BPE; tools/freeze_models.py).

Loading reconstructs exactly the in-memory shapes the trainers return, so
`lm_quality_flags(df, load_frozen_lm())` scores identically to a fresh
train — asserted by tests — while staying constant across engines (the
DuckDB oracles embed the same frozen counts) and across benchmark runs.
"""

from __future__ import annotations

import json
import os
import pkgutil
from typing import Dict, List, Tuple

from .lm import trigram_model

_HERE = os.path.dirname(os.path.abspath(__file__))
LM_PATH = os.path.join(_HERE, "frozen_lm_sf001.json")
BPE_PATH = os.path.join(_HERE, "frozen_bpe_sf001.json")

__all__ = ["LM_PATH", "BPE_PATH", "load_frozen_lm", "load_frozen_bpe"]


def _load(path: str) -> dict:
    """Read an artifact through the package loader, not the filesystem: from
    a spark-submit zip the package directory is not a directory."""
    return json.loads(pkgutil.get_data(__package__, os.path.basename(path)))


def load_frozen_lm() -> Tuple[Dict[str, int], Dict[str, int], int]:
    """(tri_counts, bi_counts, vocab) exactly as train_char_trigram_lm builds
    them: both pass the trigram table through lm.trigram_model."""
    return trigram_model(_load(LM_PATH)["tri"])


def load_frozen_bpe() -> List[Tuple[str, str]]:
    return [tuple(p) for p in _load(BPE_PATH)["merges"]]
