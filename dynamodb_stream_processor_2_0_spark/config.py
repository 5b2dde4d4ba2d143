"""Engine configuration (reference analog: env-var config block,
index.js:11-23, 662-673).

The reference folds env vars into constants at module load
(MIN_MATCHES_FOR_EMAIL, MAX_RETRIES, ...). Here the same knobs are a
frozen dataclass injected into plans as literals so Catalyst
constant-folds them.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


def _env_float(name: str, default: float) -> float:
    try:
        return float(os.environ.get(name, default))
    except ValueError:
        return default


@dataclass(frozen=True)
class EngineConfig:
    """Knobs for the disposition pipeline.

    Mirrors the reference's config surface (index.js:11-23):
    - ``min_value_for_trigger`` ~ MIN_MATCHES_FOR_EMAIL (index.js:18)
    - ``high_priority_threshold`` ~ the totalMatches >= 10 priority rule
      (index.js:563)
    - ``already_sent_mod`` / ``blocklist_mod``: the D1 already-sent and
      F10 blocklist key-mod predicates
    """

    min_value_for_trigger: float = field(
        default_factory=lambda: _env_float("ENGINE_MIN_VALUE_FOR_TRIGGER", 1.0)
    )
    high_priority_threshold: float = field(
        default_factory=lambda: _env_float("ENGINE_HIGH_PRIORITY_THRESHOLD", 100.0)
    )
    already_sent_mod: int = 10
    blocklist_mod: int = 13


DEFAULT_CONFIG = EngineConfig()
