"""The reference's own execution model as a single-threaded Python
loop: decode → validate → cast, one message at a time, with the same
drop / DLQ / sentinel rules the engine implements. It is the
single-thread baseline for the ingest rate, and the independent judge
of each message's fate in the correctness check."""

from __future__ import annotations

import datetime as dt
import json

VALID, DLQ, DROP = "valid", "dlq", "drop"


def make_twin(schema):
    """``classify(raw) -> VALID | DLQ | DROP`` for ``schema`` (the
    engine's :class:`TableSchema`); valid messages are also cast."""
    cols = [(c, c.json_type) for c in schema.columns]
    required = list(schema.required)

    def invalid(obj: dict) -> bool:
        if any(r not in obj for r in required):
            return True
        for c, jtype in cols:
            v = obj.get(c.name)
            if v is None:
                continue  # absent or null: the sentinel default applies
            if isinstance(v, bool):
                return True
            if jtype == "integer" and not isinstance(v, int):
                return True
            if jtype == "number" and not isinstance(v, (int, float)):
                return True
            if jtype == "enum" and not isinstance(v, (str, int)):
                return True
            if jtype == "string" and not isinstance(v, str):
                return True
        return False

    def cast(obj: dict) -> list:
        out = []
        for c, jtype in cols:
            v = obj.get(c.name)
            if c.is_datetime:
                parsed = c.default
                for fmt in ("%Y-%m-%d %H:%M:%S", "%Y-%m-%d"):
                    try:
                        parsed = dt.datetime.strptime(v, fmt)
                        break
                    except (ValueError, TypeError):
                        pass
                out.append(parsed)
            elif c.is_string_enum:
                out.append("DEFAULT" if v is None else str(v))
            elif v is None:
                out.append(c.default)
            elif jtype == "integer":
                out.append(int(v))
            elif jtype == "number":
                out.append(float(v))
            else:
                out.append(str(v))
        return out

    def classify(raw: str | None) -> str:
        if raw is None or raw.strip() == "":
            return DROP  # tombstone
        try:
            obj = json.loads(raw)
        except (ValueError, RecursionError):
            return DROP  # malformed
        if not isinstance(obj, dict):
            return DROP
        if invalid(obj):
            return DLQ
        cast(obj)
        return VALID

    return classify
