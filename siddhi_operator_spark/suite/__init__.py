"""The registered query suite — one entry per implemented operator from
SURVEY.md §3, each with (where SQL-expressible) a DuckDB oracle.

``__spark_entry__.queries()`` / ``oracle_sql()`` are thin views over
this registry. Importing this package registers everything.
"""

from __future__ import annotations

import json
import re
from collections.abc import Iterable
from pathlib import Path

from .registry import REGISTRY, QuerySpec, register  # noqa: F401

# registration side effects
from . import core  # noqa: E402,F401
from . import windows  # noqa: E402,F401
from . import joins  # noqa: E402,F401
from . import aggs  # noqa: E402,F401
from . import patterns  # noqa: E402,F401
from . import ratelimit  # noqa: E402,F401
from . import incremental  # noqa: E402,F401
from . import tables  # noqa: E402,F401
from . import pipeline  # noqa: E402,F401
from . import streaming_suite  # noqa: E402,F401
from . import siddhiql_suite  # noqa: E402,F401
from . import collections  # noqa: E402,F401
from . import sketches  # noqa: E402,F401
from . import cdc  # noqa: E402,F401
from . import ml_suite  # noqa: E402,F401
from . import sources_suite  # noqa: E402,F401

# ---------------------------------------------------------------------------
# Driver window.  The driver's per-round correctness gate records only
# the FIRST 50 registry entries, so the registry is ordered by what the
# ledger of those gates (the repo-root CORRECTNESS_r<N>.json files)
# says needs checking most.
# ---------------------------------------------------------------------------
LEDGER_DIR = Path(__file__).resolve().parents[2]
_LEDGER_RE = re.compile(r"CORRECTNESS_r(\d+)\.json")
_MATCH_KEYS = ("rows_match", "schema_match", "hash_match")


def driver_window_order(
    names: Iterable[str], ledger_dir: Path = LEDGER_DIR
) -> list[str]:
    """``names`` reordered by their LATEST ledger record, folding the
    CORRECTNESS files in numeric round order (r9 before r10): red rows
    first (a false match flag or a non-null ``err``), then rows never
    checked, then checked rows oldest round first.  Ties keep the order
    of ``names``; with no ledger files that is the whole order."""
    rounds = []
    for path in Path(ledger_dir).glob("CORRECTNESS_r*.json"):
        m = _LEDGER_RE.fullmatch(path.name)
        if m:
            rounds.append((int(m.group(1)), path))
    latest: dict[str, tuple[int, bool]] = {}
    for rnd, path in sorted(rounds):
        for name, rec in json.loads(path.read_text()).items():
            red = rec.get("err") is not None or any(
                rec.get(k) is False for k in _MATCH_KEYS
            )
            latest[name] = (rnd, red)

    def key(name: str) -> tuple[int, int]:
        if name not in latest:
            return (1, 0)
        rnd, red = latest[name]
        return (0, 0) if red else (2, rnd)

    return sorted(names, key=key)  # stable: ties keep the given order


_ordered = {name: REGISTRY[name] for name in driver_window_order(REGISTRY)}
REGISTRY.clear()
REGISTRY.update(_ordered)
