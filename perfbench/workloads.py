"""The benchmark's user pipelines, run as closed loops over seeded
inputs: ``detection`` (``dataset_edit`` then ``det_eval``) and
``text_curation``.

Each workload has

- ``prepare(rng, workdir)``: generate the inputs at the sizes in
  ``gen.SIZES``, write them as files, and compute the expected results
  (NumPy / pandas twins). Runs before set-up and outside every timed
  region.
- ``run(h, spark, inp, deep)``: one pass, issuing every public call
  through ``h.call(name, build, force)``, where ``name`` is
  ``<layer>.<function>``, ``build`` issues the call and ``force``
  forces its result (count, collect or write). After each call, with
  the clock stopped, the pass checks the result with ``h.check`` and
  records a digest with ``h.digest``. The first (``deep``) pass also
  compares against the full NumPy twins; later passes are checked by
  digest against it.
- ``items(inp)``: the items one pass processes.
"""

from __future__ import annotations

import glob
import gzip
import os
import shutil
import sys

import numpy as np

import gen
import oracle

IOUS = [0.5, 0.75]


def _rows(df, *cols, digits: int = 9) -> list[tuple]:
    """Sorted, rounded rows of a collected frame (a stable digest input)."""
    out = []
    for r in df.collect():
        out.append(tuple(round(v, digits) if isinstance(v, float) else v for v in (r[c] for c in cols)))
    return sorted(out, key=repr)


# ================================================================ det_eval
class DetEval:
    """Evaluate two detection models against crowd-style groundtruth:
    matches and AP for both, then the first model's confusion matrix
    and count error."""

    name = "det_eval"

    def prepare(self, rng, workdir: str) -> dict:
        sizes = gen.SIZES[self.name]
        images, gt = gen.detection_groundtruth(rng, sizes["images"])
        preds = {
            "model_a": gen.detection_predictions(rng, images, gt, recall=0.85, jitter=0.08),
            "model_b": gen.detection_predictions(rng, images, gt, recall=0.80, jitter=0.14),
        }
        paths = {"images": os.path.join(workdir, "images.parquet"), "gt": os.path.join(workdir, "gt.parquet")}
        images.rename(columns={"file_name": "relative_path"}).to_parquet(paths["images"])
        gt.to_parquet(paths["gt"])
        for m, p in preds.items():
            paths[m] = os.path.join(workdir, f"{m}.parquet")
            p.to_parquet(paths[m])
        label = {c: f"class_{c:02d}" for c in range(1, gen.N_CLASSES + 1)}
        expect = {}
        for m, p in preds.items():
            by_cat = oracle.greedy_matches(gt, p, by_category=True)
            agnostic = oracle.greedy_matches(gt, p, by_category=False)
            expect[m] = {
                "pairs": set(zip(by_cat["groundtruth_id"], by_cat["prediction_id"])),
                "ap": oracle.reference_ap(gt, p, by_cat, IOUS),
                "confusion": oracle.confusion_counts(gt, p, agnostic, label.get),
                "n_pred": len(p),
            }
        return {
            "paths": paths,
            "label_map": label,
            "expect": expect,
            "n_gt": len(gt),
            "items": len(gt) + sum(len(p) for p in preds.values()),
            "digest": gen.digest(images, gt, *preds.values()),
            "rows": {"images": len(images), "gt": len(gt), **{m: len(p) for m, p in preds.items()}},
        }

    def items(self, inp) -> int:
        return inp["items"]

    def run(self, h, spark, inp, deep: bool) -> None:
        from lours_spark import SparkDataset
        from lours_spark.evaluation.detection_evaluator import CrowdDetectionEvaluator
        from pyspark.sql import functions as F

        p = inp["paths"]
        images = spark.read.parquet(p["images"])

        def dataset(path):
            return SparkDataset(
                images=images, annotations=spark.read.parquet(path), label_map=inp["label_map"]
            ).denormalize()

        models = ["model_a", "model_b"]
        ev = CrowdDetectionEvaluator(dataset(p["gt"]), **{m: dataset(p[m]) for m in models})
        exp = inp["expect"]
        _, pairs = h.call(
            "evaluation.compute_matches",
            ev.compute_matches,
            lambda out: {
                m: _rows(
                    df.filter(F.col("groundtruth_id").isNotNull() & F.col("prediction_id").isNotNull()),
                    "groundtruth_id", "prediction_id",
                )
                for m, df in out.items()
            },
        )
        h.digest("matches", pairs)
        if deep:
            h.check("evaluation.compute_matches", all(set(pairs[m]) == exp[m]["pairs"] for m in models))
        _, aps = h.call(
            "evaluation.compute_precision_recall",
            lambda: ev.compute_precision_recall(ious=IOUS)[1],
            lambda df: _rows(df, "model", "category_id", "iou_threshold", "average_precision"),
        )
        h.digest("ap", aps)
        if deep:
            got = {(m, c, t): a for m, c, t, a in aps if a is not None}
            want = {(m, *k): v for m in models for k, v in exp[m]["ap"].items()}
            h.check(
                "evaluation.compute_precision_recall",
                set(got) == set(want) and all(abs(got[k] - want[k]) < 1e-7 for k in want),
            )
        # then inspect the first model: confusion matrix and count error
        best = models[0]
        _, cm = h.call(
            "evaluation.compute_confusion_matrix",
            lambda: ev.compute_confusion_matrix(best, normalize=False),
            lambda df: _rows(df, "model", "groundtruth_label", "prediction_label", "count"),
        )
        h.digest("confusion", cm)
        if deep:
            got = {(m, g, pr): c for m, g, pr, c in cm}
            want = {(best, *k): v for k, v in exp[best]["confusion"].items()}
            if got != want:
                bad = sorted(set(got.items()) ^ set(want.items()), key=repr)[:6]
                print("confusion mismatch (got ^ want):", bad, file=sys.stderr)
            h.check("evaluation.compute_confusion_matrix", got == want)
        out, stats = h.call(
            "evaluation.compute_count_error",
            lambda: ev.compute_count_error(best),
            lambda out: _rows(out[0], *out[0].columns),
        )
        h.digest("count_error", stats)
        ok = len(stats) > 0
        if deep:
            sums = _rows(
                out[1].groupBy("model").agg(F.sum("gt_count").alias("g"), F.sum("pred_count").alias("p")),
                "model", "g", "p",
            )
            ok = ok and sums == [(best, inp["n_gt"], exp[best]["n_pred"])]
        h.check("evaluation.compute_count_error", ok)
        ev.clear_cache()


# ============================================================ dataset_edit
class DatasetEdit:
    """An interactive editing session on one detection dataset."""

    name = "dataset_edit"
    MIN_WIDTH = 800
    MIN_SIDE = 8.0
    KEEP = list(range(1, 16))

    def prepare(self, rng, workdir: str) -> dict:
        imgs1, ann1 = gen.detection_groundtruth(rng, gen.SIZES[self.name]["images"])
        doc1, crowd1 = gen.coco_document(rng, imgs1, ann1)
        paths = {"coco": os.path.join(workdir, "main_train.json")}
        gen.write_json(paths["coco"], doc1)
        # pandas twins of every edit
        a = ann1[~crowd1]
        e = {"from_coco": (len(imgs1), len(a))}
        im = imgs1[imgs1["width"] >= self.MIN_WIDTH]
        an = a[a["image_id"].isin(im["id"])]
        e["filter_images"] = (len(im), len(an))
        an2 = an[(an["box_width"] >= self.MIN_SIDE) & (an["box_height"] >= self.MIN_SIDE)]
        im2 = im[im["id"].isin(an2["image_id"]) | ~im["id"].isin(an["image_id"])]
        e["filter_annotations"] = (len(im2), len(an2))
        e["remap_classes"] = e["filter_annotations"]
        an3 = an2[np.minimum(an2["category_id"], 18).isin(self.KEEP)]
        e["keep_classes"] = (len(im2), len(an3))
        e["cap_bounding_box_coordinates"] = e["keep_classes"]
        e["bbox_roundtrip"] = e["keep_classes"]
        e["split"] = e["keep_classes"]
        return {
            "paths": paths,
            "workdir": workdir,
            "expect": e,
            "items": len(a),
            "digest": gen.digest(imgs1, ann1, crowd1),
            "rows": {"images": len(imgs1), "annotations": len(ann1), "crowd": int(crowd1.sum())},
        }

    def items(self, inp) -> int:
        return inp["items"]

    @staticmethod
    def _with_sequence(ds):
        """Benchmark-side column: a sequence id (16 consecutive frames),
        the group ``split`` keeps together."""
        from pyspark.sql import functions as F

        ann = ds.annotations.withColumn("sequence", (F.col("image_id") / 16).cast("long"))
        return ds.from_template(annotations=ann)

    def run(self, h, spark, inp, deep: bool) -> None:
        from lours_spark import SparkDataset
        from lours_spark.functions.bbox import export_bbox, import_bbox
        from lours_spark.io.coco import from_coco

        e = inp["expect"]
        out_dir = os.path.join(inp["workdir"], "out")
        shutil.rmtree(out_dir, ignore_errors=True)

        def step(name, key, build, images_change=False):
            """A call returning a dataset, forced by counting its
            annotations; deep passes also count its images where the
            call can change them."""
            ds, n_ann = h.call(name, build, lambda d: d.annotations.count())
            images_ok = not (deep and images_change) or ds.images.count() == e[key][0]
            h.check(name, n_ann == e[key][1] and images_ok)
            h.digest(key, n_ann)
            return ds

        # convert the COCO file to parquet once, then edit from parquet
        ds = step("io.from_coco", "from_coco", lambda: from_coco(spark, inp["paths"]["coco"]), images_change=True)
        pq = os.path.join(out_dir, "main.parquet")
        h.call("io.to_parquet", lambda: ds, lambda d: d.to_parquet(pq))
        h.written(pq)
        ds = self._with_sequence(step("io.from_parquet", "from_coco", lambda: SparkDataset.from_parquet(spark, pq)))
        _, report = h.call("dataset.check", lambda: ds, lambda d: d.check())
        h.check("dataset.check", not any(report.values()))
        h.digest("check", sorted(report.items()))
        ds = step(
            "dataset.filter_images", "filter_images",
            lambda: ds.filter_images(f"width >= {self.MIN_WIDTH}"), images_change=True,
        )
        ds = step(
            "dataset.filter_annotations", "filter_annotations",
            lambda: ds.filter_annotations(
                f"box_width >= {self.MIN_SIDE} AND box_height >= {self.MIN_SIDE}", remove_emptied_images=True
            ),
            images_change=True,
        )
        mapping = {c: min(c, 18) for c in range(1, gen.N_CLASSES + 1)}
        ds = step("dataset.remap_classes", "remap_classes", lambda: ds.remap_classes(mapping))
        ds = step("dataset.keep_classes", "keep_classes", lambda: ds.keep_classes(self.KEEP))
        ds = step("dataset.cap_bounding_box_coordinates", "cap_bounding_box_coordinates", ds.cap_bounding_box_coordinates)
        corners = ["x1", "y1", "x2", "y2"]
        ds = step(
            "functions.export_bbox", "bbox_roundtrip",
            lambda: ds.from_template(annotations=export_bbox(ds.annotations, "XYXY", corners, drop_canonical=True)),
        )
        ds = step(
            "functions.import_bbox", "bbox_roundtrip",
            lambda: ds.from_template(annotations=import_bbox(ds.annotations, "XYXY", corners)),
        )
        ds = step(
            "split.split", "split",
            lambda: ds.split(
                input_seed=7, split_names=("train", "valid", "test"), target_split_shares=(0.7, 0.2, 0.1),
                keep_separate_groups=["sequence"], keep_balanced_groups=["category_id"],
            ),
        )
        if deep:
            from pyspark.sql import functions as F

            per_seq = ds.annotations.groupBy("sequence").agg(F.countDistinct("split").alias("n"))
            h.check("split.split", per_seq.filter("n > 1").count() == 0 and ds.images.filter("split IS NULL").count() == 0)


# =========================================================== text_curation
class TextCuration:
    """A corpus curation batch: curate, near-dup mine, cluster, keep the
    best of each cluster, mine a second batch incrementally against the
    corpus index, write the result."""

    name = "text_curation"
    THRESHOLD = 0.5

    def prepare(self, rng, workdir: str) -> dict:
        sizes = gen.SIZES[self.name]
        n = sizes["docs"]
        corpus = gen.documents(rng, n)
        batch = gen.documents(rng, max(2, int(n * sizes["second_batch_frac"])), id_offset=10**8, vocab=corpus["vocab"])
        # the second batch re-crawls some first-batch documents
        re_crawl = rng.choice(n, len(batch["frame"]) // 5, replace=False)
        bf = batch["frame"].copy()
        bf.loc[: len(re_crawl) - 1, "text"] = corpus["frame"]["text"].to_numpy()[re_crawl]
        paths = {
            "docs": os.path.join(workdir, "docs.parquet"),
            "batch": os.path.join(workdir, "batch.parquet"),
        }
        corpus["frame"].to_parquet(paths["docs"])
        bf.to_parquet(paths["batch"])
        texts = dict(zip(corpus["frame"]["doc_id"], corpus["frame"]["text"]))
        texts.update(zip(bf["doc_id"], bf["text"]))
        return {
            "paths": paths,
            "workdir": workdir,
            "n_docs": n,
            "texts": texts,
            "exact_dups": set(corpus["exact_dups"].tolist()),
            "quality_sum": sum(oracle.quality_score(t) for t in corpus["frame"]["text"]),
            "items": n + len(bf),
            "digest": gen.digest(corpus["frame"], bf),
            "rows": {"docs": n, "second_batch": len(bf), "families": int(corpus["family"].max() + 1), "exact_dups": len(corpus["exact_dups"])},
        }

    def items(self, inp) -> int:
        return inp["items"]

    def _pairs_ok(self, inp, pairs, new_side=False) -> bool:
        sh = {}

        def s(i):
            if i not in sh:
                sh[i] = oracle.shingles(inp["texts"][i])
            return sh[i]

        for a, b, j in pairs:
            exact = oracle.jaccard(s(a), s(b))
            if exact < self.THRESHOLD or abs(exact - j) > 1e-9 or a >= b:
                return False
            if new_side and max(a, b) < 10**8:
                return False
        return True

    def run(self, h, spark, inp, deep: bool) -> None:
        from lours_spark.functions.text import quality_score
        from lours_spark.io.jsonl import write_jsonl
        from lours_spark.operators.dedup import (
            build_minhash_index,
            cluster_representatives,
            minhash_lsh_pairs,
            minhash_lsh_pairs_incremental,
        )
        from lours_spark.pipeline import CurationConfig, curate_documents
        from lours_spark.split.chunks import connected_components
        from pyspark.sql import functions as F

        p = inp["paths"]
        docs = spark.read.parquet(p["docs"])
        cfg = CurationConfig(
            quality_min_pct=0.2,
            redact_pii=True,
            mixture_targets={"en": 0.4, "de": 0.15, "fr": 0.15, "es": 0.15, "it": 0.15},
            pack_budget=2048,
            seed=3,
        )
        _, kept = h.call(
            "pipeline.curate_documents",
            lambda: curate_documents(docs, cfg),
            lambda df: sorted(r[0] for r in df.select("doc_id").distinct().collect()),
        )
        h.check("pipeline.curate_documents", bool(kept) and not (set(kept) & inp["exact_dups"]))
        h.digest("curate", kept)

        pairs_df, pairs = h.call(
            "operators.minhash_lsh_pairs",
            lambda: minhash_lsh_pairs(docs, jaccard_threshold=self.THRESHOLD),
            lambda df: _rows(df, "id_a", "id_b", "jaccard", digits=12),
        )
        h.digest("pairs", pairs)
        if deep:
            h.check("operators.minhash_lsh_pairs", bool(pairs) and self._pairs_ok(inp, pairs))

        comp_df, comp = h.call(
            "split.connected_components",
            lambda: connected_components(pairs_df),
            lambda df: dict(df.select("node_id", "component_id").collect()),
        )
        want = oracle.components((a, b) for a, b, _ in pairs)
        h.check("split.connected_components", comp == want)
        h.digest("components", sorted(comp.items()))

        scored, q = h.call(
            "functions.quality_score",
            lambda: docs.withColumn("quality", quality_score(F.col("text"))),
            lambda df: df.agg(F.count("*"), F.round(F.sum("quality"), 9)).first(),
        )
        h.check("functions.quality_score", q[0] == inp["n_docs"] and abs(q[1] - inp["quality_sum"]) < 1e-6)
        h.digest("quality", tuple(q))

        clusters = comp_df.select(F.col("node_id").alias("doc_id"), F.col("component_id").alias("cluster_id"))
        reps_df, n_reps = h.call(
            "operators.cluster_representatives",
            lambda: cluster_representatives(scored, clusters),
            lambda df: df.filter("is_representative").count(),
        )
        h.check(
            "operators.cluster_representatives",
            n_reps == inp["n_docs"] - len(want) + len(set(want.values())),
        )
        h.digest("representatives", n_reps)

        index, n_index = h.call("operators.build_minhash_index", lambda: build_minhash_index(docs), lambda df: df.count())
        h.check("operators.build_minhash_index", n_index == inp["n_docs"])
        batch = spark.read.parquet(p["batch"])
        _, inc = h.call(
            "operators.minhash_lsh_pairs_incremental",
            lambda: minhash_lsh_pairs_incremental(batch, index, jaccard_threshold=self.THRESHOLD),
            lambda out: _rows(out[0], "id_a", "id_b", "jaccard", digits=12),
        )
        h.digest("incremental", inc)
        if deep:
            h.check("operators.minhash_lsh_pairs_incremental", bool(inc) and self._pairs_ok(inp, inc, new_side=True))

        out = os.path.join(inp["workdir"], "out", "curated")
        shutil.rmtree(out, ignore_errors=True)
        h.call(
            "io.write_jsonl",
            lambda: reps_df.filter("is_representative").select("doc_id", "text", "lang", "source"),
            lambda df: write_jsonl(df, out, mode="overwrite"),
        )
        lines = 0
        for f in glob.glob(os.path.join(out, "part-*")):
            with gzip.open(f, "rt") as fh:
                lines += sum(1 for _ in fh)
        h.check("io.write_jsonl", lines == n_reps)
        h.digest("jsonl", lines)
        h.written(out)


# ============================================================== detection
class Detection:
    """A detection user's session: edit the groundtruth dataset
    (``dataset_edit``), then evaluate two models (``det_eval``), in one
    session. Each part also runs alone under its own name."""

    name = "detection"
    parts = (DatasetEdit(), DetEval())

    def prepare(self, rng, workdir: str) -> dict:
        inp = {}
        for p in self.parts:
            os.makedirs(os.path.join(workdir, p.name))
            inp[p.name] = p.prepare(rng, os.path.join(workdir, p.name))
        inp["rows"] = {p.name: inp[p.name]["rows"] for p in self.parts}
        inp["digest"] = gen.digest(*(inp[p.name]["digest"] for p in self.parts))
        return inp

    def items(self, inp) -> int:
        return sum(p.items(inp[p.name]) for p in self.parts)

    def run(self, h, spark, inp, deep: bool) -> None:
        for p in self.parts:
            p.run(h, spark, inp[p.name], deep)


WORKLOADS = {w.name: w for w in (Detection(), TextCuration(), DetEval(), DatasetEdit())}
#: The workloads the benchmark reports (``--workload all``).
BENCHMARK_WORKLOADS = ("detection", "text_curation")
