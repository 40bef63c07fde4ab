"""Answer comparison in the canonical form of tools/check.py, whose `canon`
and `cell_eq` it imports: columns sorted by name, rows sorted by every
column, exact cell equality (floats bit for bit, NaN equal to NaN)."""
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from check import canon, cell_eq  # noqa: E402,F401


def frames_equal(got, exp):
    """None when equal, else the first difference as text."""
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not cell_eq(a, b):
                return f"value mismatch col={c} row={i}: {a!r} != {b!r}"
    return None
