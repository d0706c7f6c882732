"""Result comparison for the correctness gates (no Spark needed)."""

from __future__ import annotations

import math


def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, then rows sorted; values spelled exactly."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_cell(r[i]) for i in idx) for r in rows)
    return [cols[i] for i in idx], out


def same_rows(got_cols, got_rows, want_cols, want_rows) -> tuple[bool, str]:
    """Order-insensitive equality of two relations, floats compared
    bit for bit (both sides round where the query says so)."""
    if sorted(got_cols) != sorted(want_cols):
        return False, f"columns {sorted(got_cols)} != {sorted(want_cols)}"
    if len(got_rows) != len(want_rows):
        return False, f"{len(got_rows)} rows != {len(want_rows)}"
    _, a = normalize(list(got_cols), got_rows)
    _, b = normalize(list(want_cols), want_rows)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return False, f"values differ, first: {diff}"
    return True, ""


def close_rows(got: dict, want: dict, rel: float = 1e-9) -> tuple[bool, str]:
    """``{key: tuple of numbers}`` equal up to a relative tolerance (for
    floating sums whose addition order differs between engines)."""
    if set(got) != set(want):
        return False, f"keys {sorted(got)} != {sorted(want)}"
    for k in want:
        for a, b in zip(got[k], want[k]):
            if not math.isclose(float(a), float(b), rel_tol=rel, abs_tol=0.0):
                return False, f"{k}: {got[k]} != {want[k]}"
    return True, ""
