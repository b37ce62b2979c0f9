"""Independent NumPy twins of the results the workloads check.

Detection: greedy matching (detections in descending confidence each
take the still-free groundtruth of highest IoU, first maximum on ties,
accepted when IoU > 0), the reference-protocol precision/recall curve
and AP at curve-time IoU thresholds, and the confusion counts. IoUs
come from ``tests/cocoeval_ref.py`` (imported read-only).

Text: the heuristic quality score, word-shingle Jaccard and a
union-find over pair edges.
"""

from __future__ import annotations

import re
from collections import defaultdict

import numpy as np
import pandas as pd

from tests.cocoeval_ref import xywh_iou_matrix

BOX = ["box_x_min", "box_y_min", "box_width", "box_height"]


def greedy_matches(gt: pd.DataFrame, pred: pd.DataFrame, by_category: bool) -> pd.DataFrame:
    """One row per matched (groundtruth_id, prediction_id, iou)."""

    def key(df):
        k = df["image_id"].to_numpy().astype(np.int64)
        return k * 1000 + df["category_id"].to_numpy() if by_category else k

    gk = key(gt)
    g_order = np.lexsort((gt["id"].to_numpy(), gk))
    gk, g_ids, g_box = gk[g_order], gt["id"].to_numpy()[g_order], gt[BOX].to_numpy()[g_order]
    dk = key(pred)
    d_order = np.lexsort((pred["id"].to_numpy(), -pred["confidence"].to_numpy(), dk))
    dk, d_ids, d_box = dk[d_order], pred["id"].to_numpy()[d_order], pred[BOX].to_numpy()[d_order]
    d_cells = np.flatnonzero(np.r_[True, dk[1:] != dk[:-1], True])
    out_g, out_p, out_iou = [], [], []
    for a, b in zip(d_cells[:-1], d_cells[1:]):
        lo, hi = np.searchsorted(gk, dk[a], "left"), np.searchsorted(gk, dk[a], "right")
        if lo == hi:
            continue
        ious = xywh_iou_matrix(g_box[lo:hi], d_box[a:b])
        free = np.ones(hi - lo, dtype=bool)
        for j in range(b - a):
            col = np.where(free, ious[:, j], -1.0)
            best = int(np.argmax(col))
            if col[best] > 0.0:
                free[best] = False
                out_g.append(g_ids[lo + best])
                out_p.append(d_ids[a + j])
                out_iou.append(col[best])
    return pd.DataFrame({"groundtruth_id": out_g, "prediction_id": out_p, "iou": out_iou})


def reference_ap(
    gt: pd.DataFrame, pred: pd.DataFrame, matches: pd.DataFrame, ious: list[float]
) -> dict[tuple[int, float], float]:
    """AP per (category, iou threshold) under the reference protocol:
    one match pass, a pair is a true positive at threshold t when its
    IoU > t; result rows are every groundtruth (its match's confidence,
    0 if unmatched) plus every unmatched prediction; the curve keeps one
    point per distinct confidence; AP is the right Riemann sum of the
    precision envelope over recall, with a (recall 0, precision 1) head
    point and a (last recall, precision 0) tail point."""
    conf_of = dict(zip(pred["id"], pred["confidence"]))
    m_by_gt = {g: (p, i) for g, p, i in matches.itertuples(index=False)}
    matched_preds = set(matches["prediction_id"])
    rows = []  # (category, confidence, iou, is_gt)
    for gid, cat in zip(gt["id"], gt["category_id"]):
        p, i = m_by_gt.get(gid, (None, 0.0))
        rows.append((cat, conf_of[p] if p is not None else 0.0, i, True))
    for pid, cat, c in zip(pred["id"], pred["category_id"], pred["confidence"]):
        if pid not in matched_preds:
            rows.append((cat, c, 0.0, False))
    res = pd.DataFrame(rows, columns=["category_id", "confidence", "iou", "is_gt"])
    out = {}
    for cat, r in res.groupby("category_id"):
        n_gt = int(r["is_gt"].sum())
        for t in ious:
            if n_gt == 0:
                continue
            agg = (
                r.assign(tp=(r["is_gt"] & (r["iou"] > t)).astype(np.int64))
                .groupby("confidence")
                .agg(tp=("tp", "sum"), n=("tp", "size"))
                .sort_index(ascending=False)
            )
            tp = agg["tp"].cumsum().to_numpy()
            n = agg["n"].cumsum().to_numpy()
            precision = tp / n
            recall = tp / n_gt
            # envelope: max precision over points of lower or equal confidence
            env = np.maximum.accumulate(precision[::-1])[::-1]
            r_pts = np.concatenate([[0.0], recall, [recall[-1]]])
            e_pts = np.concatenate([[1.0], env, [0.0]])
            out[(int(cat), float(t))] = float(np.sum(np.diff(r_pts) * e_pts[1:]))
    return out


def confusion_counts(
    gt: pd.DataFrame, pred: pd.DataFrame, matches: pd.DataFrame, label
) -> dict[tuple, int]:
    """(groundtruth_label, prediction_label) → count; a miss on either
    side is labelled ``"None"``, as the engine's long-form output does."""
    g_lab = dict(zip(gt["id"], gt["category_id"].map(label)))
    p_lab = dict(zip(pred["id"], pred["category_id"].map(label)))
    counts: dict[tuple, int] = defaultdict(int)
    for g, p in zip(matches["groundtruth_id"], matches["prediction_id"]):
        counts[(g_lab.pop(g), p_lab.pop(p))] += 1
    for lab in g_lab.values():
        counts[(lab, "None")] += 1
    for lab in p_lab.values():
        counts[("None", lab)] += 1
    return dict(counts)


#: English stopwords of ``lours_spark.functions.text.quality_score``.
EN_STOPWORDS = {"the", "and", "of", "to", "in", "is", "that", "for", "with", "it"}


def quality_score(text: str) -> float:
    """Mean of three 0/1 signals: 100–20000 characters, at most 20% of
    characters outside ``[A-Za-z0-9_\s]``, at least one English
    stopword among the whitespace tokens."""
    n = len(text)
    punct = len(re.findall(r"[^\w\s]", text, flags=re.ASCII))
    len_ok = 100 <= n <= 20000
    punct_ok = n > 0 and punct / n <= 0.2
    stop_ok = bool(set(text.lower().split()) & EN_STOPWORDS)
    return (len_ok + punct_ok + stop_ok) / 3.0


def shingles(text: str, k: int = 3) -> set[str]:
    toks = text.lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def components(edges) -> dict[int, int]:
    """node → smallest node id of its connected component."""
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}
