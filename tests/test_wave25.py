"""Semantic checks for the r7 graph/symbolic/cluster-quality wave:
local clustering coefficient and neighbor Jaccard recomputed from the
collected candidate-pair list with plain Python sets, SAX symbols
against a numpy recomputation, and the silhouette against a Python
fold over the collected (vector, centroid) state."""

from __future__ import annotations

import datetime

import numpy as np
import pytest

from flink_rc_spark.registry import REGISTRY, get_queries
from flink_rc_spark.sources.tables import load


@pytest.fixture(scope="module", autouse=True)
def _load():
    get_queries()


def _adj(spark, sf_dir):
    pairs = REGISTRY["q_dedup_minhash"].builder(spark, sf_dir).collect()
    adj = {}
    for r in pairs:
        adj.setdefault(r.doc_a, set()).add(r.doc_b)
        adj.setdefault(r.doc_b, set()).add(r.doc_a)
    return adj


def test_graph_cluster_coeff_matches_python(spark, sf_dir):
    rows = REGISTRY["q_graph_cluster_coeff"].builder(spark, sf_dir).collect()
    adj = _adj(spark, sf_dir)
    got = {r.doc_id: r for r in rows}
    expect = {v for v, ns in adj.items() if len(ns) >= 2}
    assert set(got) == expect
    for v in expect:
        ns = adj[v]
        d = len(ns)
        tri = sum(1 for u in ns for w in ns if u < w and w in adj[u])
        r = got[v]
        assert r.degree == d
        assert r.n_triangles == tri
        assert abs(r.lcc - 2.0 * tri / (d * (d - 1))) < 1e-5
        assert 0.0 <= r.lcc <= 1.0


def test_graph_jaccard_neighbors_matches_python(spark, sf_dir):
    rows = REGISTRY["q_graph_jaccard_neighbors"].builder(spark, sf_dir).collect()
    adj = _adj(spark, sf_dir)
    scores = {}
    nodes = sorted(adj)
    for x, ns in adj.items():
        for u in ns:
            for v in ns:
                if u < v:
                    scores[(u, v)] = scores.get((u, v), 0) + 1
    ref = []
    for (u, v), cn in scores.items():
        union = len(adj[u]) + len(adj[v]) - cn
        ref.append((cn * 1000000 // union, u, v, cn, union))
    ref.sort(key=lambda t: (-t[0], t[1], t[2]))
    assert len(rows) == min(20, len(ref))
    for row, (jm, u, v, cn, union) in zip(rows, ref[:20]):
        assert (row.doc_a, row.doc_b) == (u, v)
        assert (row.n_common, row.n_union) == (cn, union)
        assert abs(row.jaccard - jm / 1e6) < 1e-9
    assert nodes  # graph non-empty


def test_ts_sax_matches_numpy(spark, sf_dir):
    rows = REGISTRY["q_ts_sax"].builder(spark, sf_dir).collect()
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "value").collect()
    daily = {}
    for r in ev:
        d = (r.ts.date() - datetime.date(1970, 1, 1)).days
        k = (r.event_type, d)
        daily[k] = daily.get(k, 0) + round(r.value * 100)
    types = sorted({k[0] for k in daily})
    got = {}
    for r in rows:
        got.setdefault(r.event_type, {})[r.seg] = r
    w = 8
    for t in types:
        xs = np.array(
            [daily[(t, d)] for d in sorted(d for tt, d in daily if tt == t)],
            dtype=np.float64,
        )
        n = len(xs)
        if n < w:
            assert t not in got
            continue
        mu = xs.sum() / n
        sigma = np.sqrt(((xs * xs).sum() - xs.sum() ** 2 / n) / n)
        segs = {}
        for i, x in enumerate(xs):
            segs.setdefault(i * w // n, []).append(x)
        assert set(got[t]) == set(segs)
        for s, vals in segs.items():
            z = (sum(vals) / len(vals) - mu) / sigma
            r = got[t][s]
            assert r.n_days == len(vals)
            assert abs(r.paa_z - z) < 1e-3
            sym = "a" if z < -0.6745 else "b" if z < 0 else "c" if z < 0.6745 else "d"
            assert r.symbol == sym, (t, s, z, r.symbol)


def test_silhouette_matches_python_fold(spark, sf_dir):
    from flink_rc_spark.llm.cluster import kmeans_rounds

    rows = REGISTRY["q_silhouette"].builder(spark, sf_dir).collect()
    vec, cent, _ = kmeans_rounds(spark, sf_dir)
    vecs = {r.vec_id: np.array(r.m, dtype=object) for r in vec.collect()}
    cents = {cid: np.array(cm, dtype=object) for cid, cm in cent}
    agg = {}
    for vid, m in vecs.items():
        ds = sorted(
            (int(sum((int(a) - int(b)) ** 2 for a, b in zip(m, cm))), cid)
            for cid, cm in cents.items()
        )
        (a, own), (b, _) = ds[0], ds[1]
        s_micro = (1000000 * (b - a)) // b if b > 0 else 0
        n, tot = agg.get(own, (0, 0))
        agg[own] = (n + 1, tot + s_micro)
    got = {r.c_id: r for r in rows}
    assert set(got) == set(agg)
    for cid, (n, tot) in agg.items():
        r = got[cid]
        assert r.n_members == n
        assert abs(r.avg_silhouette - tot / n / 1e6) < 1e-5
        assert 0.0 <= r.avg_silhouette <= 1.0
