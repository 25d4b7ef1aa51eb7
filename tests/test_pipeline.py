"""End-to-end pipeline: metrics, lineage, resume (SURVEY §4 checkpoint row)."""

from __future__ import annotations

import os

from rdfshape_api_spark.fixtures.generator import SHACL_SENSOR, SHAPEMAP_QUERY, SHEX_SENSOR
from rdfshape_api_spark.pipeline import run_pipeline


def test_pipeline_end_to_end_and_resume(
    spark, fixtures_001, tmp_path, assert_one_file_per_layout_dir
):
    docs = spark.read.parquet(fixtures_001["docs"])
    out = str(tmp_path / "run1")
    m = run_pipeline(
        spark,
        docs,
        out,
        shex_schema=SHEX_SENSOR,
        shex_shapemap=SHAPEMAP_QUERY,
        shacl_schema=SHACL_SENSOR,
    )
    assert m["docs"] == 1000
    assert m["error_docs"] == 11
    assert m["sha_violations"] == 0
    assert m["triples"] > 10_000
    assert m["verdicts"] > 0
    assert m["triples_per_sec"] > 0
    assert os.path.exists(os.path.join(out, "metrics.json"))
    # store is predicate-partitioned
    parts = [p for p in os.listdir(os.path.join(out, "triple_store")) if p.startswith("pred_part=")]
    assert len(parts) == 6  # rdf:type + 5 sensor predicates
    assert_one_file_per_layout_dir(os.path.join(out, "triple_store"))

    # resume: stages with _SUCCESS are skipped → no stage timers re-recorded
    m2 = run_pipeline(
        spark, docs, out, shex_schema=SHEX_SENSOR, shex_shapemap=SHAPEMAP_QUERY
    )
    assert "extract_wall_s" not in m2
    assert m2["docs"] == 1000  # metrics still recomputed from lineage

    # lineage is per-repo
    lineage = spark.read.parquet(os.path.join(out, "lineage_extract"))
    assert lineage.count() > 50  # many repos
    row = lineage.agg({"input_docs": "sum"}).collect()[0]
    assert row["sum(input_docs)"] == 1000


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(df.columns) == {"doc_sha256", "node", "shape_id", "status"}
    qs, oracles = e.queries(), e.oracle_sql()
    assert set(oracles).issubset(set(qs))
    # every SURVEY §2 headline family is represented
    for prefix in ("rdf_extract", "rdf_validate_shex", "rdf_validate_shacl", "dedup_", "sim_", "text_"):
        assert any(k.startswith(prefix) for k in qs), prefix


def test_pipeline_links_sameas_entities(spark, tmp_path):
    """A corpus carrying owl:sameAs triples gets entity-linked before the
    store write: aliased subjects collapse onto the canonical IRI."""
    from pyspark.sql import functions as F

    from rdfshape_api_spark.operators.canonicalize import OWL_SAMEAS

    nt = (
        "<http://e/b> <http://www.w3.org/2002/07/owl#sameAs> <http://e/a> .\n"
        '<http://e/b> <http://e/name> "Al" .\n'
        "<http://e/x> <http://e/knows> <http://e/b> .\n"
    )
    docs = spark.createDataFrame(
        [("r1", "f.nt", "c1", "ntriples", nt)],
        "repo string, path string, commit string, lang string, content string",
    )
    out = str(tmp_path / "linkrun")
    run_pipeline(spark, docs, out)
    store = spark.read.parquet(os.path.join(out, "triple_store"))
    rows = {(r["subj"], r["pred"], r["obj_value"]) for r in store.collect()}
    assert ("http://e/a", "http://e/name", "Al") in rows
    assert ("http://e/x", "http://e/knows", "http://e/a") in rows
    assert not any(p == OWL_SAMEAS for _, p, _ in rows)


def test_pipeline_full_lineage_tables(spark, fixtures_001, tmp_path):
    """full_lineage=True adds the store statistics catalog (one row per
    (pred_part, bucket) layout directory) and the validation conformance
    rollup — the north rule's per-partition lineage for stages 2-3."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(fixtures_001["docs"]).limit(200)
    out = str(tmp_path / "lin")
    run_pipeline(
        spark,
        docs,
        out,
        shex_schema=SHEX_SENSOR,
        shex_shapemap=SHAPEMAP_QUERY,
        shacl_schema=SHACL_SENSOR,
        full_lineage=True,
    )
    store = spark.read.parquet(os.path.join(out, "triple_store"))
    stats = spark.read.parquet(os.path.join(out, "lineage_store"))
    # the stats table sums back to the store exactly, per partition
    assert stats.agg(F.sum("n_triples")).first()[0] == store.count()
    one = stats.orderBy("pred_part", "bucket").first()
    part = store.filter(
        (F.col("pred_part") == one["pred_part"]) & (F.col("bucket") == one["bucket"])
    )
    assert part.count() == one["n_triples"]
    assert part.select("subj").distinct().count() == one["n_subjects"]

    verd = spark.read.parquet(os.path.join(out, "verdicts"))
    roll = spark.read.parquet(os.path.join(out, "lineage_verdicts"))
    assert roll.agg(F.sum("n_nodes")).first()[0] == verd.count()
    assert set(r["shape_id"] for r in roll.select("shape_id").distinct().collect()) == \
        set(r["shape_id"] for r in verd.select("shape_id").distinct().collect())
