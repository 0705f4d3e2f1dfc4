"""The embedding-vector renderer (`functions/vectors.py`).

Every embedding key reads its vectors as double or on the 1e6 integer
grid and folds dot products, norms and squared distances left to right
in index order, through one renderer per engine. These tests run each
rendering in Spark and in DuckDB over the sf0.001 embeddings and
compare it bit for bit with a pure-Python reference that depends on
neither engine, and keep any other spelling of the cast or the folds
out of the package.
"""

from __future__ import annotations

import hashlib
import math
import os
import re
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import pyarrow.parquet as pq
import pytest

import flink_rc_spark
from flink_rc_spark.functions.vectors import (
    DIM,
    as_double,
    dot,
    md5_dot,
    norm,
    on_grid,
    plane_bit,
    sq_dist,
)

_N_VEC = 60  # all pairs of the first 60 vectors: 1770 pairs


def _fold(terms, zero):
    """Left fold from ``zero`` in index order."""
    acc = zero
    for t in terms:
        acc = acc + t
    return acc


def _grid(x: float, offset: int) -> int:
    # the double (x + offset) * 1e6, rounded half away from zero on its
    # exact value, as both engines do
    return int(Decimal((float(x) + offset) * 1000000).quantize(Decimal(1), ROUND_HALF_UP))


def _md5_weight(key: str) -> float:
    return int(hashlib.md5(key.encode()).hexdigest()[0], 16) - 7.5


@pytest.fixture(scope="module")
def emb(sf_dir):
    t = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"))
    rows = sorted(zip(t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()))
    return rows[:_N_VEC]


# column -> (rendering, reference(a, b, s) over Python floats/ints). The
# pair columns are ea/eb (double) and ma/mb (grid, offset 2); s in 0..7
# picks a subspace slice.
def _cases(duck: bool):
    return {
        "dot": (dot("ea", "eb", duck=duck),
                lambda a, b, s: _fold((x * y for x, y in zip(a["e"], b["e"])), 0.0)),
        "sq": (sq_dist("ea", "eb", duck=duck),
               lambda a, b, s: _fold(((x - y) * (x - y) for x, y in zip(a["e"], b["e"])), 0.0)),
        "nrm": (norm("ea", duck=duck),
                lambda a, b, s: math.sqrt(_fold((x * x for x in a["e"]), 0.0))),
        "pdot": (dot("ea", "eb", 32, duck=duck),
                 lambda a, b, s: _fold((x * y for x, y in zip(a["e"][:32], b["e"][:32])), 0.0)),
        "pnrm": (norm("ea", 32, duck=duck),
                 lambda a, b, s: math.sqrt(_fold((x * x for x in a["e"][:32]), 0.0))),
        "slice_sq": (sq_dist("ea", "eb", 8, "s * 8", duck=duck),
                     lambda a, b, s: _fold(((x - y) * (x - y) for x, y in zip(
                         a["e"][8 * s: 8 * s + 8], b["e"][8 * s: 8 * s + 8])), 0.0)),
        "tok_dot": (dot("ma", "mb", 16, (16, 32), grid=True, duck=duck),
                    lambda a, b, s: _fold(
                        (x * y for x, y in zip(a["m"][16:32], b["m"][32:48])), 0)),
        "grid_sq": (sq_dist("ma", "mb", grid=True, duck=duck),
                    lambda a, b, s: _fold(((x - y) * (x - y) for x, y in zip(a["m"], b["m"])), 0)),
        "grid_slice_sq": (sq_dist("ma", "mb", 8, "s * 8", grid=True, duck=duck),
                          lambda a, b, s: _fold(((x - y) * (x - y) for x, y in zip(
                              a["m"][8 * s: 8 * s + 8], b["m"][8 * s: 8 * s + 8])), 0)),
    }


def _pairs(emb):
    vecs = {
        vid: {"e": [float(x) for x in e], "m": [_grid(x, 2) for x in e]}
        for vid, e in emb
    }
    ids = sorted(vecs)
    return vecs, [(i, j, (i + j) % 8) for i in ids for j in ids if i < j]


def _expected(emb):
    vecs, pairs = _pairs(emb)
    cases = _cases(False)
    return {
        (i, j): {c: ref(vecs[i], vecs[j], s) for c, (_, ref) in cases.items()}
        for i, j, s in pairs
    }


def _check(got_rows, want, engine):
    assert len(got_rows) == len(want)
    for (i, j), vals in got_rows.items():
        for c, v in vals.items():
            w = want[(i, j)][c]
            assert v == w and type(v) is type(w), f"{engine} {c} ({i}, {j}): {v!r} != {w!r}"


def test_cast_and_grid_match_python(spark, sf_dir, emb):
    want = {
        vid: ([float(x) for x in e], [_grid(x, 2) for x in e], [_grid(x, 0) for x in e])
        for vid, e in emb
    }
    from flink_rc_spark.sources.tables import load

    rows = (
        load(spark, sf_dir, "embeddings")
        .filter(f"vec_id IN ({', '.join(str(v) for v in want)})")
        .selectExpr("vec_id", f"{as_double()} AS e", f"{on_grid(2)} AS m2",
                    f"{on_grid(0)} AS m0")
        .collect()
    )
    got = {r.vec_id: (list(r.e), list(r.m2), list(r.m0)) for r in rows}
    assert got == want, "spark"

    con = duckdb.connect()
    path = os.path.join(sf_dir, "embeddings.parquet")
    rows = con.execute(
        f"SELECT vec_id, {as_double(duck=True)}, {on_grid(2, duck=True)},"
        f" {on_grid(0, duck=True)} FROM read_parquet('{path}')"
        f" WHERE vec_id IN ({', '.join(str(v) for v in want)})"
    ).fetchall()
    assert {r[0]: tuple(r[1:]) for r in rows} == want, "duckdb"
    types = con.execute(
        f"SELECT typeof({as_double(duck=True)}), typeof({on_grid(2, duck=True)})"
        f" FROM read_parquet('{path}') LIMIT 1"
    ).fetchone()
    assert types == ("DOUBLE[]", "BIGINT[]")


def test_folds_match_python_in_both_engines(spark, emb):
    from pyspark.sql import functions as F

    want = _expected(emb)

    # the pair rows read the raw float arrays through as_double/on_grid,
    # as every consumer does
    v = spark.createDataFrame(emb, "vec_id bigint, embedding array<float>").selectExpr(
        "vec_id", f"{as_double()} AS e", f"{on_grid(2)} AS m"
    )
    a = v.selectExpr("vec_id AS i", "e AS ea", "m AS ma")
    b = v.selectExpr("vec_id AS j", "e AS eb", "m AS mb")
    cases = _cases(False)
    rows = (
        a.join(b, F.col("i") < F.col("j"))
        .withColumn("s", ((F.col("i") + F.col("j")) % 8).cast("int"))
        .selectExpr("i", "j", *[f"{sql} AS {c}" for c, (sql, _) in cases.items()])
        .collect()
    )
    _check({(r.i, r.j): {c: r[c] for c in cases} for r in rows}, want, "spark")

    con = duckdb.connect()
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO emb VALUES (?, ?)", emb)
    cases = _cases(True)
    rel = con.execute(f"""
        WITH v AS (SELECT vec_id, {as_double(duck=True)} AS e,
                          {on_grid(2, duck=True)} AS m FROM emb)
        SELECT i, j, {', '.join(f'{sql} AS {c}' for c, (sql, _) in cases.items())}
        FROM (SELECT a.vec_id AS i, b.vec_id AS j,
                     CAST((a.vec_id + b.vec_id) % 8 AS INTEGER) AS s,
                     a.e AS ea, b.e AS eb, a.m AS ma, b.m AS mb
              FROM v a JOIN v b ON a.vec_id < b.vec_id)""")
    names = [d[0] for d in rel.description]
    got = {}
    for r in rel.fetchall():
        vals = dict(zip(names, r))
        # list_sum returns HUGEINT, which the oracles cast; Python sees int
        got[(vals.pop("i"), vals.pop("j"))] = vals
    _check(got, want, "duckdb")


def test_md5_weight_dots_match_python(spark, emb):
    weights = {p: [_md5_weight(f"{p}{i}") for i in range(1, DIM + 1)] for p in ("rrf_", "3_")}
    want = {
        vid: (
            _fold((w * float(x) for w, x in zip(weights["rrf_"], e)), 0.0),
            1 if _fold((w * float(x) for w, x in zip(weights["3_"], e)), 0.0) >= 0 else 0,
        )
        for vid, e in emb
    }
    rows = (
        spark.createDataFrame(emb, "vec_id bigint, embedding array<float>")
        .selectExpr("vec_id", f"{as_double()} AS e")
        .selectExpr("vec_id", f"{md5_dot('rrf_')} AS d", f"{plane_bit(3)} AS b")
        .collect()
    )
    assert {r.vec_id: (r.d, r.b) for r in rows} == want, "spark"

    con = duckdb.connect()
    con.execute("CREATE TABLE emb (vec_id BIGINT, embedding FLOAT[])")
    con.executemany("INSERT INTO emb VALUES (?, ?)", emb)
    rrf = md5_dot("'rrf_'", duck=True)
    rows = con.execute(
        f"SELECT vec_id, {rrf}, {plane_bit('j', duck=True)}"
        f" FROM (SELECT vec_id, 3 AS j, {as_double(duck=True)} AS e FROM emb)"
    ).fetchall()
    assert {r[0]: (r[1], r[2]) for r in rows} == want, "duckdb"


def test_spark_fold_forms_follow_the_arguments():
    # whole array: one higher-order fold; a prefix or slice: flat terms
    assert dot("ea", "eb").startswith("aggregate(zip_with(ea, eb,")
    assert norm("e") == "sqrt(aggregate(transform(e, x -> x * x), 0d, (acc, x) -> acc + x))"
    assert sq_dist("m", "cm", grid=True).endswith("0L, (acc, x) -> acc + x)")
    assert dot("ea", "eb", 32).count("element_at(ea,") == 32
    assert "element_at(e, s * 8 + 8)" in sq_dist("e", "ce", 8, "s * 8")
    assert "element_at(qm, 17)" in dot("qm", "m", 16, (16, 0), grid=True)
    assert "element_at(m, td * 16 + 16)" in dot("qm", "m", 16, (0, "td * 16"), grid=True)
    assert dot("a.e", "b.e", duck=True).startswith("list_reduce(")
    assert dot("a.m", "b.m", grid=True, duck=True).startswith("list_sum(")


# Spellings of the rule that belong to functions/vectors.py alone: the
# embedding cast to double or onto the 1e6 grid, a DuckDB lambda that
# multiplies vector elements read at index i, a one-column norm, and a
# Spark fold or element read over the vector columns.
_TWIN_SPELLINGS = re.compile(
    r"transform\(embedding, x -> CAST\(x AS DOUBLE\)\)"
    r"|CAST\(x AS DOUBLE\)(?: \+ [\d.]+D?\))? \* 1000000"
    r"|\b(?:e|ce|r|cr|m|cm)\[(?:[^\]]*[ (])?i\]\)? \*"
    r"|\* (?:\w+\.)?e\[i\]"
    r"|transform\(e, x -> x ?\* ?x\)"
    r"|aggregate\((?:zip_with|transform)\((?:e|ea|eb|ce|r|cr|m|cm|qm)\s*,"
    r"|element_at\((?:e|ea|eb|ce|r|cr|m|cm|qm|ms|cs)\s*,"
    r"|\b(?:ms|cs)\[\d"
)


def test_no_vector_fold_outside_vectors():
    root = os.path.dirname(os.path.abspath(flink_rc_spark.__file__))
    found = []
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            if rel == "functions/vectors.py":
                continue
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    if _TWIN_SPELLINGS.search(line):
                        found.append(f"{rel}:{lineno}: {line.strip()}")
    assert not found, (
        "embedding cast or vector fold spelled outside functions/vectors.py — "
        "use as_double/on_grid/dot/sq_dist/norm:\n" + "\n".join(found)
    )
