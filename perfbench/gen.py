"""Seeded input generators for the benchmark's pipelines.

Every generator takes a ``numpy.random.Generator`` built from the
``--seed`` argument and returns plain numpy / pandas / Python data; the
runner writes it to files (COCO JSON, parquet) that the program reads.
The distributions are fixed from the corpus properties they model
(long-tailed classes, heavy-tailed boxes per image, Zipf word
frequencies, bounded near-duplicate families) and are never tuned
against timings. Only the sizes in ``SIZES`` scale a workload.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np
import pandas as pd

#: Input sizes per workload (the one place a workload is scaled).
SIZES = {
    "det_eval": {"images": 600},
    "dataset_edit": {"images": 600},
    "text_curation": {"docs": 1000, "second_batch_frac": 0.10},
}

N_CLASSES = 20
BOXES_PER_IMAGE = 8
MAX_BOXES_PER_IMAGE = 300
BOX_COLS = ["box_x_min", "box_y_min", "box_width", "box_height"]


def digest(*parts) -> str:
    """Short sha256 over reprs / bytes of the given parts."""
    h = hashlib.sha256()
    for p in parts:
        if isinstance(p, np.ndarray):
            h.update(np.ascontiguousarray(p).tobytes())
        elif isinstance(p, pd.DataFrame):
            h.update(pd.util.hash_pandas_object(p, index=False).values.tobytes())
        else:
            h.update(repr(p).encode())
    return h.hexdigest()[:16]


# ------------------------------------------------------------ detection
def _class_probs(n: int = N_CLASSES, s: float = 1.2) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


def _iou_xywh(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise IoU of two (n, 4) XYWH arrays."""
    ix = np.clip(
        np.minimum(a[:, 0] + a[:, 2], b[:, 0] + b[:, 2]) - np.maximum(a[:, 0], b[:, 0]),
        0, None,
    )
    iy = np.clip(
        np.minimum(a[:, 1] + a[:, 3], b[:, 1] + b[:, 3]) - np.maximum(a[:, 1], b[:, 1]),
        0, None,
    )
    inter = ix * iy
    union = a[:, 2] * a[:, 3] + b[:, 2] * b[:, 3] - inter
    return np.where(union > 0, inter / union, 0.0)


def _boxes_per_image(rng: np.random.Generator, n_images: int, total: int) -> np.ndarray:
    """Heavy-tailed boxes-per-image counts (Lomax weights, each image at
    least 1, at most ``MAX_BOXES_PER_IMAGE``) that sum to exactly
    ``total``, so every seed yields the same number of boxes."""
    weights = rng.pareto(1.5, n_images) + 1e-3
    counts = 1 + rng.multinomial(total - n_images, weights / weights.sum())
    while counts.max() > MAX_BOXES_PER_IMAGE:
        excess = int(np.sum(np.maximum(counts - MAX_BOXES_PER_IMAGE, 0)))
        counts = np.minimum(counts, MAX_BOXES_PER_IMAGE)
        room = (counts < MAX_BOXES_PER_IMAGE).astype(float)
        counts = counts + rng.multinomial(excess, room / room.sum())
    return counts


def detection_groundtruth(
    rng: np.random.Generator, n_images: int, id_offset: int = 0
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(images, annotations) of a crowd-style detection dataset.

    Boxes per image are heavy-tailed (Lomax weights, capped at 300,
    8 per image on average, the total fixed): most images hold a
    handful of boxes, a few are crowd scenes with hundreds of small
    ones. Classes follow a Zipf law over 20 ids
    (1..20). About 3% of boxes poke past the image border.
    """
    img_ids = np.arange(n_images, dtype=np.int64) + id_offset
    widths = rng.choice(np.array([640, 800, 1024, 1280]), n_images)
    heights = (widths * 3) // 4
    per_img = _boxes_per_image(rng, n_images, BOXES_PER_IMAGE * n_images)
    images = pd.DataFrame(
        {
            "id": img_ids,
            "width": widths.astype(np.int64),
            "height": heights.astype(np.int64),
            "file_name": [f"img_{i:08d}.jpg" for i in img_ids],
        }
    )
    n = int(per_img.sum())
    owner = np.repeat(np.arange(n_images), per_img)
    W = widths[owner].astype(float)
    H = heights[owner].astype(float)
    crowd_scale = np.sqrt(np.minimum(1.0, 30.0 / per_img[owner]))
    bw = np.clip(W * np.exp(rng.normal(np.log(0.12), 0.6, n)) * crowd_scale, 3.0, W)
    bh = np.clip(bw * np.exp(rng.normal(0.0, 0.35, n)), 3.0, H)
    x = rng.uniform(0, 1, n) * (W - 0.9 * bw)
    y = rng.uniform(0, 1, n) * (H - 0.9 * bh)
    cats = rng.choice(np.arange(1, N_CLASSES + 1), n, p=_class_probs())
    annotations = pd.DataFrame(
        {
            "id": np.arange(n, dtype=np.int64) + id_offset,
            "image_id": img_ids[owner],
            "category_id": cats.astype(np.int32),
            "box_x_min": x,
            "box_y_min": y,
            "box_width": bw,
            "box_height": bh,
        }
    )
    return images, annotations


def detection_predictions(
    rng: np.random.Generator,
    images: pd.DataFrame,
    gt: pd.DataFrame,
    recall: float,
    jitter: float,
    fp_share: float = 0.2,
) -> pd.DataFrame:
    """One model's detections: jittered copies of ~``recall`` of the
    groundtruth (7% with a confused class) plus ``fp_share`` × |gt|
    false positives. Confidence rises with the IoU to the source box."""
    hit = gt.iloc[np.sort(rng.choice(len(gt), int(round(recall * len(gt))), replace=False))]
    n_hit = len(hit)
    src = hit[BOX_COLS].to_numpy()
    w = src[:, 2] * np.exp(rng.normal(0, jitter, n_hit))
    h = src[:, 3] * np.exp(rng.normal(0, jitter, n_hit))
    x = src[:, 0] + rng.normal(0, jitter, n_hit) * src[:, 2]
    y = src[:, 1] + rng.normal(0, jitter, n_hit) * src[:, 3]
    box = np.stack([x, y, w, h], axis=1)
    iou = _iou_xywh(src, box)
    conf = 1.0 / (1.0 + np.exp(-(6.0 * (iou - 0.55) + rng.normal(0, 0.8, n_hit))))
    cats = hit["category_id"].to_numpy().copy()
    confused = np.zeros(n_hit, dtype=bool)
    confused[rng.choice(n_hit, int(0.07 * n_hit), replace=False)] = True
    cats[confused] = rng.choice(np.arange(1, N_CLASSES + 1), int(confused.sum()), p=_class_probs())
    n_fp = int(fp_share * len(gt))
    img_idx = rng.integers(0, len(images), n_fp)
    W = images["width"].to_numpy()[img_idx].astype(float)
    H = images["height"].to_numpy()[img_idx].astype(float)
    fw = np.clip(W * np.exp(rng.normal(np.log(0.08), 0.7, n_fp)), 3.0, W)
    fh = np.clip(fw * np.exp(rng.normal(0.0, 0.35, n_fp)), 3.0, H)
    fp = pd.DataFrame(
        {
            "image_id": images["id"].to_numpy()[img_idx],
            "category_id": rng.choice(np.arange(1, N_CLASSES + 1), n_fp, p=_class_probs()).astype(np.int32),
            "box_x_min": rng.uniform(0, 1, n_fp) * (W - fw),
            "box_y_min": rng.uniform(0, 1, n_fp) * (H - fh),
            "box_width": fw,
            "box_height": fh,
            "confidence": 1.0 / (1.0 + np.exp(-rng.normal(-1.2, 1.0, n_fp))),
        }
    )
    tp = pd.DataFrame(
        {
            "image_id": hit["image_id"].to_numpy(),
            "category_id": cats.astype(np.int32),
            "box_x_min": box[:, 0],
            "box_y_min": box[:, 1],
            "box_width": box[:, 2],
            "box_height": box[:, 3],
            "confidence": conf,
        }
    )
    pred = pd.concat([tp, fp], ignore_index=True)
    pred = pred.sample(frac=1.0, random_state=rng.integers(1 << 31)).reset_index(drop=True)
    pred.insert(0, "id", np.arange(len(pred), dtype=np.int64))
    return pred


def coco_document(
    rng: np.random.Generator, images: pd.DataFrame, ann: pd.DataFrame, crowd_share: float = 0.01
) -> tuple[dict, np.ndarray]:
    """COCO JSON document for (images, annotations); ``crowd_share`` of
    the boxes are flagged ``iscrowd``. Returns (doc, crowd mask)."""
    crowd = np.zeros(len(ann), dtype=bool)
    crowd[rng.choice(len(ann), int(crowd_share * len(ann)), replace=False)] = True
    doc = {
        "images": [
            {"id": int(i), "width": int(w), "height": int(h), "file_name": f}
            for i, w, h, f in images[["id", "width", "height", "file_name"]].itertuples(index=False)
        ],
        "annotations": [
            {
                "id": int(r[0]),
                "image_id": int(r[1]),
                "category_id": int(r[2]),
                "bbox": [float(r[3]), float(r[4]), float(r[5]), float(r[6])],
                "iscrowd": int(c),
            }
            for r, c in zip(ann[["id", "image_id", "category_id", *BOX_COLS]].itertuples(index=False), crowd)
        ],
        "categories": [{"id": c, "name": f"class_{c:02d}"} for c in range(1, N_CLASSES + 1)],
    }
    return doc, crowd


def write_json(path: str, doc: dict) -> None:
    with open(path, "w") as f:
        json.dump(doc, f)


# ------------------------------------------------------------ documents
LANGS = ["en", "de", "fr", "es", "it"]
SOURCES = ["web", "books", "code"]
VOCAB_SIZE = 50_000
DOC_WORDS = 150
BOILERPLATE = [
    "cookie policy accept all cookies to continue browsing this site",
    "subscribe to our newsletter for the latest updates and offers",
    "all rights reserved terms of service privacy notice contact us",
]


def _vocabulary(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct lowercase pseudo-words of 2–9 letters."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        lens = rng.integers(2, 10, n)
        chars = rng.choice(letters, (n, 9))
        for row, k in zip(chars, lens):
            words.add("".join(row[:k]))
            if len(words) == n:
                break
    return np.array(sorted(words))


def documents(rng: np.random.Generator, n_docs: int, id_offset: int = 0, vocab=None) -> dict:
    """A seeded web-like corpus.

    - word frequencies: Zipf law, s = 1, over a 50k-word vocabulary;
    - ~150 words per document in 1–3 paragraphs;
    - near-duplicate families of 2–20 members on ~15% of documents,
      each member a copy of the family root with ~10% of its words
      replaced; 1 in 4 family members is an exact copy of the root;
    - a boilerplate paragraph on ~20% of documents;
    - PII-like tokens (e-mail addresses, phone numbers) on ~10%;
    - 5 languages, 3 sources.

    Returns a dict with the ``frame`` (doc_id, text, lang, source),
    ``family`` ids (-1 for singletons), the ids of ``exact_dups``
    (exact copies that are not the lowest id of their text) and the
    ``vocab``.
    """
    if vocab is None:
        vocab = _vocabulary(rng, VOCAB_SIZE)
    cdf = np.cumsum(1.0 / np.arange(1, len(vocab) + 1))
    cdf /= cdf[-1]

    def draw(k: int) -> np.ndarray:
        return vocab[np.minimum(np.searchsorted(cdf, rng.random(k)), len(vocab) - 1)]

    texts: list[str] = []
    family = np.full(n_docs, -1, dtype=np.int64)
    exact = np.zeros(n_docs, dtype=bool)
    i = 0
    fam_id = 0
    while i < n_docs:
        words = draw(DOC_WORDS + int(rng.integers(-30, 31)))
        cut = sorted(rng.choice(np.arange(20, len(words) - 20), int(rng.integers(0, 3)), replace=False))
        paras = [" ".join(part) for part in np.split(words, cut)]
        if rng.random() < 0.2:
            paras.insert(int(rng.integers(0, len(paras) + 1)), BOILERPLATE[int(rng.integers(0, len(BOILERPLATE)))])
        if rng.random() < 0.1:
            paras[-1] += f" contact {vocab[int(rng.integers(0, 500))]}.{int(rng.integers(100, 999))}@example.com or call 555-{int(rng.integers(1000, 9999))}"
        root = "\n\n".join(paras)
        texts.append(root)
        # families: planted on ~15% of documents (size 2-20, bounded)
        if rng.random() < 0.15 / 5.0 and i + 1 < n_docs:
            size = int(min(20, max(2, rng.geometric(0.18))))
            size = min(size, n_docs - i)
            family[i] = fam_id
            for _ in range(size - 1):
                i += 1
                family[i] = fam_id
                if rng.random() < 0.25:
                    texts.append(root)
                    exact[i] = True
                    continue
                toks = root.split(" ")
                n_edit = max(1, int(0.1 * len(toks)))
                for pos, word in zip(rng.choice(len(toks), n_edit, replace=False), draw(n_edit)):
                    if "\n" not in toks[pos]:
                        toks[pos] = word
                texts.append(" ".join(toks))
            fam_id += 1
        i += 1
    ids = np.arange(n_docs, dtype=np.int64) + id_offset
    frame = pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=[0.5, 0.15, 0.15, 0.1, 0.1]),
            "source": rng.choice(SOURCES, n_docs, p=[0.7, 0.2, 0.1]),
        }
    )
    return {
        "frame": frame,
        "family": family,
        "exact_dups": ids[exact],
        "vocab": vocab,
    }
