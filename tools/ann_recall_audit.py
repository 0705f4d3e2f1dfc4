"""ANN recall audit at an arbitrary SF dir (VERDICT r6 item 4): the
recall numbers the small-sf tests assert, re-measured on demand against
a larger corpus (sf1's decorrelated vectors), recorded in BASELINE.md.

    python tools/ann_recall_audit.py [sf_dir]     # default .localdata/sf1

Prints ONE JSON line: banded-LSH recall@50 at (4,16) and (8,16), the
composed IVF-PQ end recall@5 (q_ivf_pq_search), and the
Matryoshka funnel recall@5 — each vs exact brute force (the O(n^2)
ground truth runs here only; it is the measurement harness, not a
shipped plan).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402

from flink_rc_spark.registry import REGISTRY, load_all  # noqa: E402
from flink_rc_spark.session import get_spark  # noqa: E402


def _embeddings(spark, sf_dir):
    rows = spark.read.parquet(f"{sf_dir.rstrip('/')}/embeddings.parquet").collect()
    return {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}


def ivf_pq_recall5(spark, sf_dir, emb) -> float:
    rows = REGISTRY["q_ivf_pq_search"].builder(spark, sf_dir).collect()
    ids = sorted(emb)
    X = np.stack([emb[i] for i in ids])
    recalls = []
    for q in range(10):
        d = ((X - emb[q]) ** 2).sum(axis=1)
        d[ids.index(q)] = np.inf
        order = np.lexsort((np.array(ids), d))
        true5 = {ids[j] for j in order[:5]}
        got5 = {r.cand_id for r in rows if r.vec_id == q}
        recalls.append(len(true5 & got5) / 5)
    return sum(recalls) / len(recalls)


def matryoshka_recall5(spark, sf_dir, emb) -> float:
    rows = REGISTRY["q_sim_matryoshka"].builder(spark, sf_dir).collect()
    unit = {k: v / np.linalg.norm(v) for k, v in emb.items()}
    ids = sorted(unit)
    recalls = []
    for q in range(10):
        sims = {c: float(unit[q] @ unit[c]) for c in ids if c != q}
        true5 = {c for c, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]}
        got5 = {r.cand_id for r in rows if r.vec_id == q}
        recalls.append(len(true5 & got5) / 5)
    return sum(recalls) / len(recalls)


def semantic_block_recall(emb: dict) -> dict:
    """Pair recall of q_dedup_semantic's AND-over-planes LSH blocking
    (llm/dedup.py semantic_candidates) vs brute-force cosine ground
    truth, at the candidate floor (0.30) and the near-dup band (0.90),
    with the corpus-scaled plane count the formula picks for THIS
    corpus — the r11 verdict's re-pin whenever the formula or floor
    moves. Measurement harness only: the O(n^2) truth runs here, never
    in a shipped plan."""
    import numpy as np

    from flink_rc_spark.llm.dedup import _semantic_planes
    from flink_rc_spark.llm.similarity import _plane_weight

    ids = sorted(emb)
    X = np.stack([emb[i] for i in ids])
    nrm = np.sqrt((X * X).sum(axis=1))
    planes = _semantic_planes(len(ids))
    W = np.array(
        [[_plane_weight(j, i) for i in range(1, X.shape[1] + 1)]
         for j in range(planes)]
    )
    buckets = (((X @ W.T) >= 0) * (1 << np.arange(planes))).sum(axis=1)
    n = len(ids)
    tot = {0.30: 0, 0.90: 0}
    hit = {0.30: 0, 0.90: 0}
    blk = 2048
    for s in range(0, n, blk):
        e = min(s + blk, n)
        cos = (X[s:e] @ X.T) / np.outer(nrm[s:e], nrm)
        same = buckets[s:e, None] == buckets[None, :]
        upper = np.arange(n)[None, :] > np.arange(s, e)[:, None]
        for thr in tot:
            m = upper & (cos >= thr)
            tot[thr] += int(m.sum())
            hit[thr] += int((m & same).sum())
    return {
        "planes": int(planes),
        "true_pairs_030": tot[0.30],
        "recall_030": round(hit[0.30] / max(tot[0.30], 1), 4),
        "true_pairs_090": tot[0.90],
        "recall_090": round(hit[0.90] / max(tot[0.90], 1), 4),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".localdata", "sf1",
    )
    load_all()
    spark = get_spark(app="ann_recall_audit")
    from flink_rc_spark.llm.similarity import ann_recall

    t0 = time.time()
    emb = _embeddings(spark, sf_dir)
    from flink_rc_spark.llm.similarity import brute_topk

    # ONE brute ground-truth pass (O(n^2)) shared by both LSH configs
    gt = {(r.vec_a, r.vec_b) for r in brute_topk(spark, sf_dir, 50).collect()}
    out = {
        "sf_dir": sf_dir,
        "n_vectors": len(emb),
        "ann_recall50_p4b16": round(ann_recall(spark, sf_dir, 50, 4, 16, gt=gt), 4),
        "ann_recall50_p8b16": round(ann_recall(spark, sf_dir, 50, 8, 16, gt=gt), 4),
        "ivf_pq_recall5": round(ivf_pq_recall5(spark, sf_dir, emb), 4),
        "matryoshka_recall5": round(matryoshka_recall5(spark, sf_dir, emb), 4),
        "semantic_block_recall": semantic_block_recall(emb),
        "wall_sec": round(time.time() - t0, 1),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
