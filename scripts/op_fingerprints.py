#!/usr/bin/env python
"""Per-op change fingerprints for the incremental (delta) sweeps.

The r10 full-registry sf0.1 parity sweep found all seven of that round's
display bugs, but costs ~2.5 h wall (dominated by six quadratic
exact-audit DuckDB oracles), so it only ran when someone remembered.
The r10 verdict (item 4) asks for a DELTA mode: sweep only ops whose
source or oracle changed since the last recorded sweep.  This module
defines what "changed" means.

An op's fingerprint is sha256 over:

- the op function's own source (``inspect.getsource``), which includes
  its ``@register`` decorator line, and
- its oracle SQL string (or the empty string for rows-only ops), and
- a GLOBAL SALT: the bytes of the shared numeric/compare infrastructure
  every op's semantics route through (``carpet_spark/exprs.py``,
  ``carpet_spark/testing.py``, ``carpet_spark/session.py``).  A change
  there invalidates ALL fingerprints, forcing a full sweep.

Known limitation (documented, accepted): a module-internal helper
shared by several ops inside one ops/ file is not part of any op's own
source, so editing only the helper does not change those ops'
fingerprints.  The round gate (full sf0.01 parity over all hash ops)
still covers such edits every run; the delta sweep is the sf0.1
ESCALATION layer, and every round's window ops are force-included
regardless of fingerprint.
"""

from __future__ import annotations

import hashlib
import inspect
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SALT_FILES = (
    "carpet_spark/exprs.py",
    "carpet_spark/testing.py",
    "carpet_spark/session.py",
)


def global_salt() -> str:
    h = hashlib.sha256()
    for rel in _SALT_FILES:
        with open(os.path.join(REPO, rel), "rb") as f:
            h.update(f.read())
        h.update(b"\x00")
    return h.hexdigest()


def op_fingerprint(op, salt: str) -> str:
    """sha256 over the op's own source + oracle + the global salt."""
    try:
        src = inspect.getsource(op.fn)
    except (OSError, TypeError):  # builtins/partials: fall back to repr
        src = repr(op.fn)
    h = hashlib.sha256()
    h.update(src.encode())
    h.update(b"\x00")
    h.update((op.oracle or "").encode())
    h.update(b"\x00")
    h.update(salt.encode())
    return h.hexdigest()


def current_fingerprints() -> dict[str, str]:
    """Fingerprints for every registered op, plus the '_salt' meta key."""
    from carpet_spark.registry import REGISTRY

    salt = global_salt()
    out = {name: op_fingerprint(op, salt) for name, op in REGISTRY.items()}
    out["_salt"] = salt
    return out
