"""The md5-to-integer rule (`functions/exact.py::hex_int`/`md5_int`).

Every md5-derived integer (hash buckets, sampling thresholds, bootstrap
weights, sketch positions) is rendered by one function in both
dialects. These tests pin the rendering to Python's own hex decode in
each engine separately, and keep any other spelling of the decode out
of the package.
"""

from __future__ import annotations

import hashlib
import os
import re

import duckdb
import pytest

import flink_rc_spark
from flink_rc_spark.functions.exact import hex_int, md5_int

_N_KEYS = 2000
_CASES = [(start, n) for start in (1, 3, 18) for n in (1, 2, 5, 10, 15)]
_KEY = "'u' || CAST(id AS STRING)"


def _expected() -> dict[str, list[int]]:
    out = {}
    for start, n in _CASES:
        out[f"h_{start}_{n}"] = [
            int(hashlib.md5(f"u{i}".encode()).hexdigest()[start - 1 : start - 1 + n], 16)
            for i in range(_N_KEYS)
        ]
    return out


def test_hex_int_matches_python_in_both_engines(spark):
    want = _expected()
    cols = [f"{md5_int(_KEY, s, n)} AS h_{s}_{n}" for s, n in _CASES]
    rows = spark.range(_N_KEYS).selectExpr("id", *cols).orderBy("id").collect()
    for c, vals in want.items():
        assert [r[c] for r in rows] == vals, f"spark {c}"
    assert dict(
        spark.range(1).selectExpr(f"{md5_int(_KEY, 1, 15)} AS h").dtypes
    )["h"] == "bigint"

    con = duckdb.connect()
    cols = [f"{md5_int(_KEY, s, n, duck=True)} AS h_{s}_{n}" for s, n in _CASES]
    rel = con.execute(
        f"SELECT {', '.join(cols)} FROM range({_N_KEYS}) t(id) ORDER BY id"
    )
    names = [d[0] for d in rel.description]
    got = rel.fetchall()
    for c, vals in want.items():
        assert [r[names.index(c)] for r in got] == vals, f"duckdb {c}"
    one = md5_int("'u1'", 1, 15, duck=True)
    assert con.execute(f"SELECT typeof({one})").fetchone()[0] == "BIGINT"


def test_hex_int_start_may_be_an_expression():
    # the DuckDB lambda form: byte i of md5(text) read at 2*i-1
    con = duckdb.connect()
    byte_i = md5_int("'abc'", "2*i-1", 2, duck=True)
    got = con.execute(
        f"SELECT list_transform(range(1, 17), i -> {byte_i})"
    ).fetchone()[0]
    assert got == list(hashlib.md5(b"abc").digest())


@pytest.mark.parametrize("n", [0, 16, 2.0])
def test_hex_int_rejects_digit_counts_outside_bigint(n):
    with pytest.raises(ValueError):
        hex_int("h", 1, n)


# The lookup string of the unrolled instr/strpos decode, and the two
# decodes hex_int renders: any of them outside functions/exact.py is a
# second spelling of the rule.
_TWIN_SPELLINGS = re.compile(r"'0123456789abcdef'|conv\(substr|'0x' \|\|")


def test_no_hex_decode_outside_exact():
    root = os.path.dirname(os.path.abspath(flink_rc_spark.__file__))
    found = []
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "functions/exact.py":
                continue
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    if _TWIN_SPELLINGS.search(line):
                        found.append(f"{rel}:{lineno}: {line.strip()}")
    assert not found, (
        "md5 hex decode spelled outside functions/exact.py — use "
        "md5_int/hex_int:\n" + "\n".join(found)
    )
