"""Per-partition lineage + metrics, and the sha256 row invariant.

North rule: "resumable from checkpoint with per-partition lineage +
metrics".  The reference is stateless per request (SURVEY §4: no
checkpoint/resume), so this design is Spark-native:

* every stage writes its output to a stage directory (parquet `_SUCCESS`
  marks stage completion — the coarse checkpoint);
* a **lineage table** per stage records one row per work partition (we key
  by ``repo`` — the ingest range-partitioning key): input docs, emitted
  triples, parse errors, sha-invariant violations;
* resume = skip stages whose `_SUCCESS` exists (:func:`stage_complete`);
  with ``run_pipeline(extract_buckets=B)`` extraction runs as B
  ``raw_triples/bucket=<b>`` jobs, each with its own `_SUCCESS`, so a
  crashed run re-does only the unfinished bucket directories.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, functions as F


def sha_invariant_violations(docs: DataFrame) -> DataFrame:
    """Rows whose recomputed sha256(content) differs from the recorded
    ``content_sha256`` (north_star per-row invariant). Empty ⇒ healthy."""
    if "content_sha256" not in docs.columns:
        return docs.limit(0).select("repo", "path", "commit")
    return docs.filter(F.sha2(F.col("content"), 256) != F.col("content_sha256")).select(
        "repo", "path", "commit"
    )


def extraction_lineage(docs: DataFrame, raw_triples: DataFrame) -> DataFrame:
    """Per-repo lineage for the extraction stage: input docs, output
    triples, error docs, sha violations."""
    d = docs.groupBy("repo").agg(
        F.count("*").alias("input_docs"),
        F.sum(
            F.when(F.sha2(F.col("content"), 256) != F.col("content_sha256"), 1).otherwise(0)
        ).alias("sha_violations")
        if "content_sha256" in docs.columns
        else F.lit(0).alias("sha_violations"),
    )
    t = raw_triples.groupBy("repo").agg(
        F.sum(F.when(F.col("error").isNull(), 1).otherwise(0)).alias("output_triples"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("error_docs"),
    )
    return d.join(t, on="repo", how="left").na.fill(0, ["output_triples", "error_docs"])


def store_lineage(store: DataFrame) -> DataFrame:
    """Per-PHYSICAL-partition lineage for the canonical store: one row per
    ``(pred_part, bucket)`` layout directory — triple count, exact distinct
    subjects (exact is affordable: the agg groups by the store's own
    layout keys, so it rides the existing partitioning with map-side
    combine and no extra shuffle).  At 100 TB this table IS the store's
    statistics catalog: planners read it (KBs) instead of listing data
    files to answer "which predicate directories matter / how skewed are
    the subject buckets"."""
    return store.groupBy("pred_part", "bucket").agg(
        F.count(F.lit(1)).alias("n_triples"),
        F.countDistinct("subj").alias("n_subjects"),
        F.countDistinct("pred").alias("n_predicates"),
    )


def verdict_lineage(verdicts: DataFrame) -> DataFrame:
    """Conformance rollup of the validation stage: one row per
    ``(shape_id, status)`` with node and document counts — the per-stage
    metrics row the north rule asks for, and the number a monitoring
    system would alert on (nonconformance-rate drift)."""
    return verdicts.groupBy("shape_id", "status").agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.countDistinct("doc_sha256").alias("n_docs"),
    )


def triple_precision_recall(got: DataFrame, expected: DataFrame) -> dict:
    """Triple-level precision/recall of the canonical output vs a golden
    emitter (north_star: P/R ≥ 0.95 vs the reference's emitted triples).

    Set semantics on the full canonical key; one pass per side via
    left-anti counts (no driver-side collection)."""
    cols = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]
    # obj_lang/obj_datatype are null for most rows; plain equi-join keys
    # would never match them (null != null in SQL) — coalesce to a sentinel
    sent = [F.coalesce(F.col(c), F.lit("\x00")).alias(c) for c in cols]
    g = got.select(*sent).distinct()
    e = expected.select(*sent).distinct()
    n_got = g.count()
    n_exp = e.count()
    fp = g.join(e, on=cols, how="left_anti").count()  # emitted but not golden
    fn = e.join(g, on=cols, how="left_anti").count()  # golden but missed
    tp = n_got - fp
    return {
        "triples_emitted": n_got,
        "triples_expected": n_exp,
        "precision": round(tp / n_got, 6) if n_got else 1.0,
        "recall": round(tp / (tp + fn), 6) if (tp + fn) else 1.0,
    }


def stage_complete(stage_dir: str) -> bool:
    return os.path.exists(os.path.join(stage_dir, "_SUCCESS"))


class StageTimer:
    """Wall-clock per stage, recorded into the run's metrics dict."""

    def __init__(self, metrics: dict, name: str):
        self.metrics, self.name = metrics, name

    def __enter__(self):
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.metrics[f"{self.name}_wall_s"] = round(time.time() - self.t0, 3)
        return False
