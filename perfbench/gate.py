"""Correctness gate: a row count plus an order-insensitive value hash
per distinct operation, compared with pinned expected values.

Expected values live in ``expected.json`` beside this file, each with
its ``source``.  Catalog entries are pinned from the catalog's own
DuckDB oracle over the benchmark's tables (``oracle``); viewer
operations, which have no oracle, and entries whose oracle does not
finish in time, from a reference run (``reference``).
``record_expected.py`` regenerates the file.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import json
import math
import os

EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def _canon(v) -> str:
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        # 12 significant digits: equal across engines and summation orders
        return format(0.0 if f == 0 else f, ".12g")
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day).isoformat(sep=" ")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def digest(table) -> dict:
    """``{"rows": n, "hash": hex}`` of a ``pyarrow.Table``: columns taken
    in name order, each row rendered canonically, rows sorted."""
    names = sorted(table.column_names)
    cols = [table.column(n).to_pylist() for n in names]
    rows = sorted("\x1f".join(_canon(c[i]) for c in cols) for i in range(table.num_rows))
    h = hashlib.sha256()
    h.update("\x1e".join(names).encode())
    for r in rows:
        h.update(b"\n")
        h.update(r.encode())
    return {"rows": table.num_rows, "hash": h.hexdigest()[:24]}


class Gate:
    """Checks each operation key once; remembers the verdict."""

    def __init__(self, expected: dict[str, dict]) -> None:
        self.expected = expected
        self.verdicts: dict[str, str | None] = {}  # key -> None (ok) or reason

    @classmethod
    def load(cls, path: str = EXPECTED_PATH) -> Gate:
        with open(path) as fh:
            return cls(json.load(fh))

    def checked(self, key: str) -> bool:
        return key in self.verdicts

    def failed(self, key: str) -> bool:
        return self.verdicts.get(key) is not None

    def fail(self, key: str, reason: str) -> None:
        self.verdicts[key] = reason

    def check(self, key: str, got: dict) -> bool:
        want = self.expected.get(key)
        if want is None:
            reason = "no pinned expected value"
        elif want["rows"] != got["rows"]:
            reason = f"rows {got['rows']} != expected {want['rows']}"
        elif want["hash"] != got["hash"]:
            reason = f"hash {got['hash']} != expected {want['hash']}"
        else:
            reason = None
        self.verdicts[key] = reason
        return reason is None
