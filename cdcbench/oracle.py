"""Independent oracle: the target a correct pipeline must produce, computed
in pure Python from the generated events.

- ``mask_image`` re-derives the masked row from a source row image with
  ``hashlib`` (salted sha1) and ``re``, following the mask rules' documented
  semantics (FIXTURES.md F1, MASKING.md), not the engine's Column code;
- ``Replay`` applies events last-write-wins per key in offset order (a
  delete removes the row) and can be advanced batch by batch, so reads
  taken at a given target version can be checked against the state of
  exactly the batches that version committed.
"""

from __future__ import annotations

import hashlib
import re

from gen import COLUMNS, MASK_RULES, SALT, Event

OFFSET_COL = "kafkaoffset"


def _as_string(v) -> str | None:
    """The engine casts every source value to string before masking; the
    generator's values already are in that form (ids and epoch ms as
    integers, dates as ISO strings, decimals with exactly four places)."""
    return None if v is None else str(v)


def _normalized(s: str | None) -> str | None:
    # whitespace-only → NULL; Spark's trim strips the space character only
    return None if s is None or s.strip(" ") == "" else s


def _sha1(s: str | None) -> str | None:
    return None if s is None else hashlib.sha1((s + SALT).encode("utf-8")).hexdigest()


def _like(pattern: str) -> re.Pattern:
    return re.compile("^" + pattern.replace("%", ".*") + "$")


_COND = {c: [_like(p) for p in pats] for c, pats in MASK_RULES["conditional_non_pii_keys"].items()}
_BOOL = {
    c: [(name, re.compile(p, re.IGNORECASE)) for name, p in rules.items()]
    for c, rules in MASK_RULES["regex_pattern_boolean_keys"].items()
}


def mask_image(image: dict, offset: int) -> dict:
    """Target row for one source row image (extra columns, masked table
    columns, then the stored offset)."""
    out: dict = {}
    extras: dict = {}
    for name, _, _ in COLUMNS:
        raw = _as_string(image.get(name))
        value = _normalized(raw)
        if name in MASK_RULES["length_keys"]:
            extras[f"{name}_length"] = 0 if raw is None else len(raw)
        if name in MASK_RULES["mobile_keys"]:
            extras[f"{name}_init5"] = None if raw is None else raw[:5]
        for flag, rx in _BOOL.get(name, []):
            extras[f"{name}_{flag}"] = raw is not None and rx.search(raw) is not None
        if name in MASK_RULES["non_pii_keys"]:
            out[name] = value
        elif name in _COND:
            clear = value is not None and any(p.search(value) for p in _COND[name])
            out[name] = value if clear else _sha1(value)
        elif name in MASK_RULES["dependent_non_pii_keys"]:
            clear = any(
                _normalized(_as_string(image.get(provider))) in allowed
                for provider, allowed in MASK_RULES["dependent_non_pii_keys"][name].items()
            )
            out[name] = value if clear else _sha1(value)
        else:
            out[name] = _sha1(value)
    row = {k: extras[k] for k in sorted(extras)}
    row.update(out)
    row[OFFSET_COL] = offset
    return row


class Replay:
    """Last-write-wins state keyed by the (masked, string) primary key."""

    def __init__(self):
        self.state: dict[str, tuple[int, dict]] = {}

    def apply(self, events: list[Event]) -> None:
        for ev in events:
            if ev.op == "t":
                continue  # tombstones carry no row
            key = str(ev.key)
            prior = self.state.get(key)
            if prior is not None and prior[0] > ev.offset:
                continue  # a key lives in one partition: older offset never wins
            if ev.op == "d":
                self.state.pop(key, None)
            else:
                row = mask_image(ev.after, ev.offset)
                self.state[key] = (ev.offset, row)

    def rows(self) -> dict[str, dict]:
        return {k: r for k, (_, r) in self.state.items()}

    def point(self, key: str) -> list[dict]:
        hit = self.state.get(key)
        return [] if hit is None else [hit[1]]

    def range(self, col: str, lo: str, hi: str) -> list[dict]:
        return [r for _, r in self.state.values() if r[col] is not None and lo <= r[col] <= hi]


def row_key(row: dict) -> tuple:
    return tuple(sorted(row.items()))


def diff_rows(actual: list[dict], expected: list[dict]) -> int:
    """Number of rows present on one side but not identically on the
    other (a changed row counts once per side)."""
    a = {}
    for r in actual:
        a[row_key(r)] = a.get(row_key(r), 0) + 1
    e = {}
    for r in expected:
        e[row_key(r)] = e.get(row_key(r), 0) + 1
    return sum(abs(a.get(k, 0) - e.get(k, 0)) for k in set(a) | set(e))
