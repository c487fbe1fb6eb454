"""Output verification against the committed expectations in ``expected.json``.

An id's output is reduced to its sorted column names, its row count and a
digest of its rows in the canonical, order-insensitive form that the
repository's DuckDB differential (``tools/check.py``) compares. Oracle-tier
ids carry the digest of the DuckDB oracle's output; rows-tier ids carry a
row count only.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_check_module():
    """Import the repository's ``tools/check.py`` (canon, compare, duck_con)."""
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("perfbench_check", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def summarize(pdf, canon) -> dict:
    """Row count, sorted columns and row digest of a pandas DataFrame."""
    rows = canon(pdf)
    blob = json.dumps(rows, separators=(",", ":")).encode()
    return {
        "rows": len(pdf),
        "columns": sorted(str(c) for c in pdf.columns),
        "digest": hashlib.sha256(blob).hexdigest(),
    }


def mismatch(got: dict, expected: dict) -> str | None:
    """Why ``got`` does not match ``expected``, or None when it does.

    A ``None`` expected digest (rows-tier id) checks the row count only.
    """
    if got["rows"] != expected["rows"]:
        return f"rows {got['rows']} != expected {expected['rows']}"
    if expected["digest"] is None:
        return None
    if got["columns"] != expected["columns"]:
        return f"columns {got['columns']} != expected {expected['columns']}"
    if got["digest"] != expected["digest"]:
        return "row digest differs from the oracle's"
    return None
