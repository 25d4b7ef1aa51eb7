"""End-to-end KG-construction pipeline (the north-star job).

extract → canonicalize (skolemize, normalize, dedup) → validate (ShEx
shapemap + SHACL targets) → canonical triple store partitioned by predicate,
with per-partition lineage and stage-level resume.

This is the Spark re-expression of the reference's flagship request
(`POST /api/schema/validate`, lifecycle in SURVEY §3.1) turned into a batch
job over the docs table; run it via ``spark-submit --py-files`` with
``python -m rdfshape_api_spark.pipeline <docs_parquet> <out_dir>``.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from rdfshape_api_spark.lineage import (
    StageTimer,
    extraction_lineage,
    stage_complete,
)
from rdfshape_api_spark.model import TRIPLE_COLUMNS
from rdfshape_api_spark.operators.canonicalize import (
    canonicalize,
    write_canonical_store,
)
from rdfshape_api_spark.plans import parse_shacl, parse_shexc
from rdfshape_api_spark.sources.extract import extract_triples_raw


def _store_pruned_for_schemas(spark, store_dir: str, schemas) -> DataFrame:
    """Validation-stage scan of the canonical store, DIRECTORY-PRUNED to
    the predicates the schemas can observe (the store is partitioned by
    predicate — the north rule's payoff: a validation job over a 100 TB
    store reads only its schemas' predicate directories).  CLOSED shapes
    must see every predicate → no pruning."""
    from rdfshape_api_spark.model import RDF_TYPE
    from rdfshape_api_spark.operators.canonicalize import pred_partition_value

    preds: set[str] = {RDF_TYPE}  # shapemap selectors / sh:targetClass
    for schema in schemas:
        for sh in schema.shapes.values():
            if sh.closed:
                return spark.read.parquet(store_dir).select(*TRIPLE_COLUMNS)
            for tc in list(sh.constraints) + [
                t for grp in (sh.alternatives or []) for t in grp
            ]:
                if tc.path is not None:
                    from rdfshape_api_spark.plans.paths import path_preds

                    preds.update(path_preds(tc.path))
                else:
                    preds.add(tc.pred)
                for p in (
                    tc.pair_equals,
                    tc.pair_disjoint,
                    tc.pair_less_than,
                    tc.pair_less_than_eq,
                ):
                    if p is not None:
                        preds.add(p)
            preds.update(sh.target_subjects_of)
            preds.update(sh.target_objects_of)
    parts = sorted({pred_partition_value(p) for p in preds})
    return (
        spark.read.parquet(store_dir)
        .filter(F.col("pred_part").isin(parts))
        .select(*TRIPLE_COLUMNS)
    )


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    out_dir: str,
    shex_schema: str | None = None,
    shex_shapemap: str | None = None,
    shacl_schema: str | None = None,
    repartition_by_repo: int | None = None,
    resume: bool = True,
    golden_triples: str | None = None,
    extract_buckets: int = 0,
    full_lineage: bool = False,
) -> dict:
    """Run all stages; returns a metrics dict (also written to
    ``out_dir/metrics.json``). Stages with existing `_SUCCESS` are skipped
    when ``resume=True``.

    ``full_lineage=True`` additionally writes the store's per-partition
    statistics table (``lineage_store``: one row per (pred_part, bucket)
    layout directory) and the validation conformance rollup
    (``lineage_verdicts``: one row per (shape_id, status)) — two extra
    small aggregation jobs; benchmarks that compare walls across rounds
    keep the default."""
    metrics: dict = {}
    raw_dir = os.path.join(out_dir, "raw_triples")
    lineage_dir = os.path.join(out_dir, "lineage_extract")
    store_dir = os.path.join(out_dir, "triple_store")
    verdict_dir = os.path.join(out_dir, "verdicts")
    errors_dir = os.path.join(out_dir, "errors")

    # -- stage 1: extraction (+ error channel + lineage) ---------------------
    if not (resume and stage_complete(raw_dir)):
        with StageTimer(metrics, "extract"):
            # Materialize the prepared docs (sha + range-shuffle) ONCE as an
            # explicit ingest stage boundary: the NT-columnar and Python
            # format branches each consume it, and without this the
            # per-branch lang filters get pushed below the exchange so
            # Catalyst cannot reuse it — scan+sha256+range-sampling would
            # run once per branch (observed 2×+ extract wall at sf0.1).
            # DISK_ONLY ≈ a shuffle-file materialization, the same cost
            # model as a staging table on a real cluster.
            from pyspark import StorageLevel

            from rdfshape_api_spark.sources.extract import with_doc_sha

            prepared = with_doc_sha(docs)
            if repartition_by_repo:
                prepared = prepared.repartitionByRange(
                    repartition_by_repo, "repo", "path"
                )
            prepared = prepared.persist(StorageLevel.DISK_ONLY)
            try:
                if extract_buckets > 0:
                    # Sub-stage checkpointing (north rule: resumable with
                    # per-partition lineage): extraction runs as B
                    # independent bucket jobs keyed by a deterministic hash
                    # of (repo, path); each bucket's parquet job writes its
                    # own _SUCCESS, so a crashed run re-does only the
                    # unfinished buckets — the anti-join resume of SURVEY §4
                    # expressed as directory skips (no driver state needed).
                    bucket = F.pmod(F.xxhash64("repo", "path"), F.lit(extract_buckets))
                    for b in range(extract_buckets):
                        bdir = os.path.join(raw_dir, f"bucket={b}")
                        if resume and stage_complete(bdir):
                            continue
                        extract_triples_raw(
                            prepared.filter(bucket == b)
                        ).write.mode("overwrite").parquet(bdir)
                    raw_glob = os.path.join(raw_dir, "bucket=*")
                    extraction_lineage(
                        prepared, spark.read.parquet(raw_glob)
                    ).write.mode("overwrite").parquet(lineage_dir)
                    # stage marker so downstream stage_complete() sees done
                    with open(os.path.join(raw_dir, "_SUCCESS"), "w"):
                        pass
                else:
                    raw = extract_triples_raw(prepared)
                    raw.write.mode("overwrite").parquet(raw_dir)
                    extraction_lineage(prepared, spark.read.parquet(raw_dir)).write.mode(
                        "overwrite"
                    ).parquet(lineage_dir)
            finally:
                prepared.unpersist()
    raw = spark.read.parquet(raw_dir)
    raw.filter(F.col("error").isNotNull()).select(
        "repo", "path", "commit", "doc_sha256", "error"
    ).write.mode("overwrite").parquet(errors_dir)

    # -- stage 2: canonicalize + dedup → predicate-partitioned store ---------
    if not (resume and stage_complete(store_dir)):
        with StageTimer(metrics, "canonicalize"):
            canon = canonicalize(
                raw.filter(F.col("error").isNull()).select(*TRIPLE_COLUMNS)
            )
            # entity linking (north-star): resolve owl:sameAs identity
            # edges to canonical representatives before the store write.
            # One pushdown-pruned scan decides whether the corpus carries
            # identity triples at all; without them the stage is a no-op
            # and adds no join to the plan.
            from rdfshape_api_spark.operators.canonicalize import (
                OWL_SAMEAS,
                link_entities,
            )

            if not canon.filter(F.col("pred") == OWL_SAMEAS).isEmpty():
                canon = link_entities(canon)
            # dedup is fused into the store's layout shuffle (one exchange)
            write_canonical_store(canon, store_dir, dedup=True)
    triples = spark.read.parquet(store_dir).select(*TRIPLE_COLUMNS)

    # -- stage 3: validation (all schemas in ONE pass over the store) --------
    if not (resume and stage_complete(verdict_dir)):
        with StageTimer(metrics, "validate"):
            jobs = []
            if shex_schema:
                jobs.append((parse_shexc(shex_schema), shex_shapemap, "shex_sensor"))
            if shacl_schema:
                jobs.append((parse_shacl(shacl_schema), None, "shacl_sensor"))
            if jobs:
                from rdfshape_api_spark.plans.validate import validate_batch

                vt = _store_pruned_for_schemas(spark, store_dir, [s for s, *_ in jobs])
                # focus/target resolution and the all-subjects universe need
                # the UNPRUNED store (a node whose triples all use
                # out-of-schema predicates must still get its nonconformant
                # verdict); Catalyst column-prunes this scan to the 2-4
                # columns focus resolution touches, so at 100 TB it reads a
                # narrow projection, not the full store.
                validate_batch(
                    vt, jobs, focus_triples=triples
                ).write.mode("overwrite").parquet(verdict_dir)

    # -- per-partition lineage for the store + validation stages -------------
    if full_lineage:
        from rdfshape_api_spark.lineage import store_lineage, verdict_lineage

        store_lineage(spark.read.parquet(store_dir)).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_dir, "lineage_store"))
        if os.path.exists(verdict_dir):
            verdict_lineage(spark.read.parquet(verdict_dir)).write.mode(
                "overwrite"
            ).parquet(os.path.join(out_dir, "lineage_verdicts"))

    # -- metrics --------------------------------------------------------------
    # Driver-side pyarrow reads, NOT Spark jobs: the lineage table is
    # KB-sized (one row per repo partition) and the verdict count is in
    # the parquet footers — each Spark job here would pay a scheduling +
    # commit floor that is constant across executor counts (it showed up
    # as ~1 s of every measured pipeline wall at both N and 4N).
    import pyarrow.dataset as _pads

    lin = _pads.dataset(lineage_dir, format="parquet").to_table(
        columns=["input_docs", "output_triples", "error_docs", "sha_violations"]
    )

    def _colsum(name: str) -> int:
        import pyarrow.compute as pc

        return int(pc.sum(lin.column(name)).as_py() or 0)

    metrics.update(
        docs=_colsum("input_docs"),
        triples=_colsum("output_triples"),
        error_docs=_colsum("error_docs"),
        sha_violations=_colsum("sha_violations"),
    )
    if os.path.exists(verdict_dir):
        import pyarrow.parquet as _papq

        metrics["verdicts"] = sum(
            _papq.ParquetFile(f).metadata.num_rows
            for f in _pads.dataset(verdict_dir, format="parquet").files
        )
    if golden_triples:
        from rdfshape_api_spark.lineage import triple_precision_recall

        metrics.update(
            triple_precision_recall(triples, spark.read.parquet(golden_triples))
        )
    wall = sum(v for k, v in metrics.items() if isinstance(v, float) and k.endswith("_wall_s"))
    if wall and metrics.get("triples"):
        metrics["triples_per_sec"] = round(metrics["triples"] / wall, 1)
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "metrics.json"), "w") as f:
        json.dump(metrics, f, indent=2)
    return metrics


def main() -> None:
    import sys

    from rdfshape_api_spark.fixtures.generator import SHACL_SENSOR, SHAPEMAP_QUERY, SHEX_SENSOR
    from rdfshape_api_spark.session import get_spark

    docs_path, out_dir = sys.argv[1], sys.argv[2]
    spark = get_spark("rdfshape_pipeline")
    docs = spark.read.parquet(docs_path)
    m = run_pipeline(
        spark,
        docs,
        out_dir,
        shex_schema=SHEX_SENSOR,
        shex_shapemap=SHAPEMAP_QUERY,
        shacl_schema=SHACL_SENSOR,
        repartition_by_repo=spark.sparkContext.defaultParallelism,
        full_lineage=True,
    )
    print(json.dumps(m))
    spark.stop()


if __name__ == "__main__":
    main()
