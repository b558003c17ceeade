"""Output checks: the DuckDB oracle comparison for registered queries and
plain-Python references for the generated workloads.

Every check returns ``None`` when the output is right and a one-line
mismatch description otherwise, so a failed check is counted, not raised.
"""

from __future__ import annotations

import datetime
import json
import math
import os
from collections import Counter

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


# --- registered queries vs DuckDB -----------------------------------------
# The typed, order-insensitive comparison below mirrors the one the
# repository's tier-1 oracle tests use (tests/conftest.py), kept here so the
# benchmark does not import test code.


def duck_con(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def dtype_class(t: str) -> str:
    t = t.strip().lower()
    if t.startswith(("array", "struct", "map")) or t.endswith("[]"):
        return "nested"
    if t.startswith("decimal"):
        return "dec"
    first = t.split("(")[0]
    return {
        "tinyint": "int", "smallint": "int",
        "int": "int", "integer": "int",
        "bigint": "int", "long": "int", "ubigint": "int",
        "hugeint": "i128", "uhugeint": "i128",
        "float": "f32", "real": "f32",
        "double": "f64",
        "string": "str", "varchar": "str",
        "boolean": "bool",
        "timestamp": "ts", "timestamp_ntz": "ts",
        "timestamp_ns": "ts", "timestamp_ms": "ts", "timestamp_s": "ts",
        "timestamp with time zone": "tstz", "timestamptz": "tstz",
        "date": "date",
    }.get(first, first)


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(v)
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    return v


def canon(rows, colnames) -> list[tuple]:
    """Columns sorted by name, values normalized, rows sorted."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    return sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr
    )


class Oracle:
    """DuckDB answers for registered queries over one fixture directory,
    each computed once and kept as canonical rows."""

    def __init__(self, sf_dir: str, sql: dict[str, str]):
        self.sf_dir = sf_dir
        self.sql = sql
        self._answers: dict[str, tuple[dict[str, str], list[tuple]]] = {}

    def answer(self, name: str) -> tuple[dict[str, str], list[tuple]]:
        if name not in self._answers:
            con = duck_con(self.sf_dir)
            try:
                res = con.sql(self.sql[name])
                types = {
                    c: dtype_class(str(t)) for c, t in zip(res.columns, res.types)
                }
                self._answers[name] = (types, canon(res.fetchall(), res.columns))
            finally:
                con.close()
        return self._answers[name]


def compare_typed(
    name: str,
    dtypes: list[tuple[str, str]],
    rows: list,
    want_types: dict[str, str],
    want_rows: list[tuple],
) -> str | None:
    """Mismatch of a query's output (``df.dtypes``, collected rows) against
    canonical oracle rows, or ``None``."""
    got_types = {c: dtype_class(t) for c, t in dtypes}
    if got_types != want_types:
        return f"{name}: columns/dtypes {got_types} != oracle {want_types}"
    if len(rows) != len(want_rows):
        return f"{name}: {len(rows)} rows != oracle {len(want_rows)}"
    got = canon(rows, [c for c, _ in dtypes])
    for i, (a, b) in enumerate(zip(got, want_rows)):
        if a != b:
            return f"{name}: row {i} {a!r} != oracle {b!r}"
    return None


# --- mapreduce_text references ---------------------------------------------
# This module is shipped by value to Python workers (it holds the map
# functions' helpers), so it imports nothing of the benchmark's own.

# the punctuation the reference's word count strips
PUNCT = ".,?:;!\""
_STRIP = str.maketrans("", "", PUNCT)


def tokens(line: str) -> list[str]:
    """wordcount.py map semantics: fold case, strip punctuation, split."""
    return line.lower().translate(_STRIP).split()


def route(word: str) -> str:
    """User-directed partition routing of the reference's word count."""
    return "a2e" if "a" <= word[:1] <= "e" else "f2z"


def read_corpus(root) -> dict[str, list[str]]:
    return {
        p.name: p.read_text().splitlines() for p in sorted(root.iterdir())
    }


def wordcount_ref(corpus: dict[str, list[str]]) -> dict[str, int]:
    return dict(Counter(w for lines in corpus.values() for ln in lines for w in tokens(ln)))


def postings_ref(corpus: dict[str, list[str]]) -> dict[str, list[str]]:
    docs: dict[str, set[str]] = {}
    for doc, lines in corpus.items():
        for ln in lines:
            for w in tokens(ln):
                docs.setdefault(w, set()).add(doc)
    return {w: sorted(d) for w, d in docs.items()}


def last_word(k2: str) -> str:
    """Secondary-sort key: the record's last token."""
    toks = tokens(k2)
    return toks[-1] if toks else ""


def secondary_sort_ref(corpus: dict[str, list[str]]) -> Counter:
    """The ``(partition, k2, v2)`` records: every line with a token, keyed
    by the route of its first token, with its file name as the value."""
    return Counter(
        (route(tokens(ln)[0]), ln, json.dumps(doc))
        for doc, lines in corpus.items()
        for ln in lines
        if tokens(ln)
    )


def check_wordcount(rows, want: dict[str, int]) -> str | None:
    got: dict[str, int] = {}
    for k3, v3 in rows:
        if k3 in got:
            return f"wordcount: key {k3!r} emitted twice"
        got[k3] = json.loads(v3)
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:3]
        return f"wordcount: {len(got)} keys vs {len(want)} expected; first diffs {diff}"
    return None


def check_postings(rows, want: dict[str, list[str]]) -> str | None:
    got = {k3: json.loads(v3) for k3, v3 in rows}
    if len(got) != len(rows):
        return "inverted_index: duplicate terms"
    for w, docs in want.items():
        if got.get(w) != docs:
            return f"inverted_index: postings of {w!r} {got.get(w)!r} != {docs!r}"
    if len(got) != len(want):
        return f"inverted_index: {len(got)} terms vs {len(want)} expected"
    return None


def check_secondary_sort(parts: list[list[tuple]], want: Counter) -> str | None:
    """``parts``: the collected ``(partition, k2, v2)`` rows of each Spark
    partition in order. The rows must be ``want`` and each Spark partition
    must be ordered by (partition, last word)."""
    got = Counter(r for rows in parts for r in rows)
    if got != want:
        return f"secondary_sort: {sum(got.values())} rows vs {sum(want.values())}, multisets differ"
    for i, rows in enumerate(parts):
        keys = [(p, last_word(k2)) for p, k2, _ in rows]
        if any(a > b for a, b in zip(keys, keys[1:])):
            return f"secondary_sort: Spark partition {i} is not sorted by (partition, sort_key)"
    return None
