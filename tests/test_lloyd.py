"""The integer fixed-point Lloyd fit (`llm/cluster.py::lloyd` for
Spark, `lloyd_cte` for DuckDB).

Both engines are checked against a pure-Python reference of the
protocol on a constructed fixture that exercises each rule the oracles
depend on: a duplicated seed vector (its cluster stays empty and keeps
its centroid), a point equidistant from two centroids (the lower c_id
wins), round-half-up re-centering, and two ``by`` groups fitted
independently. A static audit keeps the re-center formula — and so
the round body — in `cluster.py` alone.
"""

from __future__ import annotations

import os
import re

import duckdb
import pytest

import flink_rc_spark
from flink_rc_spark.llm.cluster import _assign, lloyd, lloyd_cte

K, ROUNDS, DIM = 3, 2, 2

# (vec_id, g, m); seeds are the first K points of each group by vec_id
POINTS = [
    # g=0: v0 and v1 are the same vector, so seeds c0 and c1 coincide;
    # every tie goes to c0 and c1 never receives a point
    (0, 0, [10, 10]),
    (1, 0, [10, 10]),
    (2, 0, [50, 50]),
    (3, 0, [52, 48]),
    (4, 0, [61, 61]),
    (5, 0, [11, 12]),
    # g=1: v13 and v14 sit exactly between seeds c0=(20,20) and
    # c1=(40,20) in round one; c0's mean (80/3, 66/3) rounds half up
    (10, 1, [20, 20]),
    (11, 1, [40, 20]),
    (12, 1, [100, 100]),
    (13, 1, [30, 20]),
    (14, 1, [30, 26]),
    (15, 1, [97, 99]),
]


def _reference(by: bool):
    """Pure-Python Lloyd: returns (centroids {(key, c_id): cm},
    assignment {vec_id: (key, c_id, dist)}, ties, empties) where ties
    counts argmins decided on c_id and empties counts (round, cluster)
    pairs with no member."""
    groups: dict = {}
    for vid, g, m in sorted(POINTS):
        groups.setdefault(g if by else None, []).append((vid, m))
    cent = {
        (key, c): list(pts[c][1]) for key, pts in groups.items() for c in range(K)
    }
    ties = empties = 0

    def assign():
        nonlocal ties
        out = {}
        for key, pts in groups.items():
            for vid, m in pts:
                ds = sorted(
                    (sum((a - b) ** 2 for a, b in zip(m, cent[(key, c)])), c)
                    for c in range(K)
                )
                ties += ds[0][0] == ds[1][0]
                out[vid] = (key, ds[0][1], ds[0][0])
        return out

    for _ in range(ROUNDS):
        asg = assign()
        for (key, c), cm in list(cent.items()):
            members = [
                m for vid, m in groups[key] if asg[vid][:2] == (key, c)
            ]
            if not members:
                empties += 1
                continue
            n = len(members)
            cent[(key, c)] = [
                (2 * sum(col) + n) // (2 * n) for col in zip(*members)
            ]
    return cent, assign(), ties, empties


def _seeds(by: bool) -> dict:
    """{(key, c_id): cm}: the first K points of each group by vec_id."""
    groups: dict = {}
    for vid, g, m in sorted(POINTS):
        groups.setdefault(g if by else None, []).append(m)
    return {(key, c): pts[c] for key, pts in groups.items() for c in range(K)}


@pytest.mark.parametrize("by", [(), ("g",)], ids=["one_group", "by_g"])
def test_lloyd_engines_match_python_reference(spark, by):
    cent_ref, asg_ref, ties, empties = _reference(bool(by))
    assert ties > 0 and empties > 0, "fixture no longer exercises the rules"
    grp = "g" if by else "NULL"

    # Spark: lloyd from the same seeds, then the final assignment
    points = spark.createDataFrame(POINTS, "vec_id bigint, g int, m array<bigint>")
    if not by:
        points = points.drop("g")
    seeds = spark.createDataFrame(
        [(*([g] if by else []), c, cm) for (g, c), cm in _seeds(bool(by)).items()],
        ("g int, " if by else "") + "c_id bigint, cm array<bigint>",
    )
    cent = lloyd(points, seeds, ROUNDS, by)
    assert {(r[0] if by else None, r[-2]): list(r[-1]) for r in cent} == cent_ref
    asg = _assign(points, cent, by).collect()
    assert {
        r.vec_id: (r.g if by else None, r.c_id, r.dist) for r in asg
    } == asg_ref

    # DuckDB: lloyd_cte seeds itself from the same order
    rows = ", ".join(f"({v}, {g}, {m}::BIGINT[])" for v, g, m in POINTS)
    sql = f"""WITH pts AS (SELECT * FROM (VALUES {rows}) t(vec_id, g, m)),
    {lloyd_cte('t', 'pts', 'vec_id', K, ROUNDS, DIM, by)}"""
    con = duckdb.connect()
    try:
        dcent = con.execute(
            f"{sql} SELECT {grp}, c_id, cm FROM tcent{ROUNDS}"
        ).fetchall()
        dasg = con.execute(
            f"{sql} SELECT vec_id, {grp}, c_id, dist FROM tasg"
        ).fetchall()
    finally:
        con.close()
    assert {(g, c): list(cm) for g, c, cm in dcent} == cent_ref
    assert {v: (g, c, d) for v, g, c, d in dasg} == asg_ref


_RECENTER = re.compile(r"(DIV|//)\s*\(\s*2\s*\*\s*COUNT\(\*\)\s*\)", re.IGNORECASE)


def test_one_lloyd_round_body_per_engine():
    root = os.path.dirname(os.path.abspath(flink_rc_spark.__file__))
    found, own = [], []
    for d, _, files in os.walk(root):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(d, f)
            rel = os.path.relpath(path, root).replace(os.sep, "/")
            with open(path, encoding="utf-8") as fh:
                for lineno, line in enumerate(fh, 1):
                    for m in _RECENTER.finditer(line):
                        (own if rel == "llm/cluster.py" else found).append(
                            (f"{rel}:{lineno}: {line.strip()}", m.group(1).upper())
                        )
    assert not found, (
        "Lloyd re-center spelled outside llm/cluster.py — call lloyd/"
        "lloyd_cte:\n" + "\n".join(loc for loc, _ in found)
    )
    assert sorted(op for _, op in own) == ["//", "DIV"], own
