"""Seeded upload documents in the reference's upload formats.

Every generated record carries a unique ``rid`` token, so a check can
compare the set of record ids in the pipeline's output CSV with the set
the generator wrote, whatever duplicate rows the extraction semantics
add (a strict-JSON array is also re-read by the embedded-block scanners).

Kinds:

- ``json_flat``: strict JSON array of flat records (fixture F1 shape).
- ``json_nested``: ``{"users": [...], "metadata": {...}}`` with
  heterogeneous user keys, nested objects and explicit nulls (F2 shape).
- ``kv_text``: ``key: value`` records separated by blank lines (YAML).
- ``mixed_text``: prose, an inline JSON object, log lines, a
  ``key: value`` block and a CSV block (F3 shape).
- ``csv``: a ``.csv`` upload with a header row.
"""

from __future__ import annotations

import io
import json
from dataclasses import dataclass

import numpy as np

FIRST = ["ada", "grace", "alan", "edsger", "barbara", "donald", "john", "frances"]
LAST = ["lovelace", "hopper", "turing", "dijkstra", "liskov", "knuth", "backus", "allen"]
CITIES = ["paris", "lagos", "lima", "osaka", "oslo", "delhi", "quito", "perth"]
THEMES = ["dark", "light", "solarized"]

# The documents of one upload cycle, in order: (kind, records). Sizes run
# from 10 to 20,000 records; the seed changes the contents, never the
# kinds or sizes. The first document, a mixed text, pays the server's
# first-upload costs (JIT, code generation) and runs every block scanner:
# an inline JSON object, log lines, a key:value block and a CSV block.
# Standalone ``json_nested`` and ``kv_text`` documents are generated but
# not in the cycle: each further upload takes 6-25 s, more than the
# benchmark's time budget leaves. The CSV upload comes last and sits just
# under a known defect: the CSV block scanner's regex recurses once per
# line and overflows the executor thread stack, killing the JVM, at about
# 2,200 lines after a CSV header, or 2,000 while the JVM is still cold.
DOCS = [
    ("mixed_text", 10),
    ("json_flat", 20_000),
    ("csv", 2000),
]


@dataclass
class Upload:
    filename: str
    payload: bytes
    kind: str
    rids: frozenset[str]
    log_lines: int = 0


def _rid(doc: int, i: int) -> str:
    return f"d{doc}r{i:06d}"


def _person(rng: np.random.Generator) -> tuple[str, str]:
    return FIRST[rng.integers(len(FIRST))], LAST[rng.integers(len(LAST))]


def _json_flat(rng, doc: int, n: int) -> Upload:
    recs = []
    for i in range(n):
        first, last = _person(rng)
        recs.append(
            {
                "rid": _rid(doc, i),
                "name": f"{first} {last}",
                "score": int(rng.integers(0, 100)),
                "city": CITIES[rng.integers(len(CITIES))],
            }
        )
    body = "[\n" + ",\n".join(json.dumps(r) for r in recs) + "\n]\n"
    return Upload(f"doc{doc}.json", body.encode(), "json_flat", frozenset(r["rid"] for r in recs))


def _json_nested(rng, doc: int, n: int) -> Upload:
    users = []
    for i in range(n):
        first, last = _person(rng)
        u: dict = {"rid": _rid(doc, i)}
        shape = int(rng.integers(3))
        if shape == 0:
            u["id"] = i
            u["name"] = f"{first} {last}"
            u["age"] = int(rng.integers(18, 90))
            u["preferences"] = {
                "theme": THEMES[rng.integers(len(THEMES))],
                "notifications": bool(rng.integers(2)),
            }
            u["active"] = True
        elif shape == 1:
            u["user_id"] = f"u{i}"
            u["full_name"] = f"{first} {last}"
            u["preferences"] = None
            u["contact"] = {"email": f"{first}.{last}{i}@example.com"}
            u["points"] = int(rng.integers(0, 5000))
            u["isActive"] = False
        else:
            u["id"] = i
            u["username"] = f"{first}{i}"
            u["stats"] = {"gamesPlayed": int(rng.integers(0, 500)), "highestScore": int(rng.integers(0, 10**6))}
            u["active"] = bool(rng.integers(2))
        users.append(u)
    doc_obj = {"users": users, "metadata": {"generator": "perfbench", "count": n}}
    body = json.dumps(doc_obj, indent=2) + "\n"
    return Upload(f"doc{doc}.json", body.encode(), "json_nested", frozenset(u["rid"] for u in users))


def _kv_block(rng, rid: str) -> str:
    first, last = _person(rng)
    return (
        f"rid: {rid}\n"
        f"name: {first} {last}\n"
        f"city: {CITIES[rng.integers(len(CITIES))]}\n"
        f"score: {int(rng.integers(0, 100))}\n"
        f"active: {'yes' if rng.integers(2) else 'no'}\n"
    )


def _kv_text(rng, doc: int, n: int) -> Upload:
    rids = [_rid(doc, i) for i in range(n)]
    body = "\n".join(_kv_block(rng, r) for r in rids)
    return Upload(f"doc{doc}.txt", body.encode(), "kv_text", frozenset(rids))


def _csv_rows(rng, rids: list[str]) -> str:
    out = io.StringIO()
    out.write("rid,name,city,qty\n")
    for r in rids:
        first, _ = _person(rng)
        out.write(f"{r},{first},{CITIES[rng.integers(len(CITIES))]},{int(rng.integers(1, 99))}\n")
    return out.getvalue()


def _mixed_text(rng, doc: int, n: int) -> Upload:
    n_logs = 3 + int(rng.integers(5))
    rid_json, rid_kv = _rid(doc, 0), _rid(doc, 1)
    csv_rids = [_rid(doc, i) for i in range(2, n + 2)]
    logs = "".join(
        f"[2025-01-{1 + k % 28:02d} 12:{k % 60:02d}:00] service event {k} handled\n"
        for k in range(n_logs)
    )
    body = (
        "Quarterly report preamble text.\n\n"
        + json.dumps({"rid": rid_json, "kind": "inline", "value": int(rng.integers(100))})
        + "\n\n"
        + logs
        + "\n"
        + _kv_block(rng, rid_kv)
        + "\n"
        + _csv_rows(rng, csv_rids)
    )
    return Upload(
        f"doc{doc}.txt",
        body.encode(),
        "mixed_text",
        frozenset([rid_json, rid_kv, *csv_rids]),
        log_lines=n_logs,
    )


def _csv(rng, doc: int, n: int) -> Upload:
    rids = [_rid(doc, i) for i in range(n)]
    return Upload(f"doc{doc}.csv", _csv_rows(rng, rids).encode(), "csv", frozenset(rids))


_MAKERS = {
    "json_flat": _json_flat,
    "json_nested": _json_nested,
    "kv_text": _kv_text,
    "mixed_text": _mixed_text,
    "csv": _csv,
}


def make_upload(seed: int, index: int) -> Upload:
    """The ``index``-th upload of a run with workload seed ``seed``."""
    kind, n = DOCS[index % len(DOCS)]
    rng = np.random.default_rng([seed, index])
    return _MAKERS[kind](rng, index, n)
