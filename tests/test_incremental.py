"""Incremental snapshot maintenance (operators/incremental.py).

Semantics under test: a delta batch is authoritative per (repo, path) —
previous versions' triples are retracted wholesale, the delta's
extraction is appended, and the merge-on-read log reconciles versions so
re-updated keys keep only their latest extraction.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.operators.incremental import (
    compact_snapshot,
    incremental_merge,
    init_snapshot,
    merge_snapshot,
    read_snapshot,
    snapshot_version,
)

CANON = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]

STALE_LINE = '<http://stale.example/f> <http://stale.example/p> "stale" .\n'


def _extract(docs):
    from rdfshape_api_spark.operators.canonicalize import canonicalize, dedup_triples
    from rdfshape_api_spark.sources.extract import extract_triples

    return dedup_triples(canonicalize(extract_triples(docs)), scope_doc=True)


def _canon_set(df):
    return df.select(*CANON).distinct()


def _sym_diff_empty(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.fixture(scope="module")
def split_docs(spark, fixtures_001):
    """(base_docs_with_stale_versions, delta_docs, all_docs).

    Delta = 1/8 of the line-oriented docs (NT + Turtle — an N-Triples
    statement prepended to either stays valid); base carries STALE
    versions of every delta file (extra stale triple, zeroed commit) so a
    broken retraction is visible in the merged output.
    """
    docs = spark.read.parquet(fixtures_001["docs"])
    is_delta = (F.pmod(F.xxhash64("path"), F.lit(8)) == 0) & F.lower(
        F.col("lang")
    ).isin("ntriples", "nt", "turtle", "ttl")
    delta = docs.filter(is_delta)
    stale = (
        delta.withColumn("content", F.concat(F.lit(STALE_LINE), F.col("content")))
        .withColumn("commit", F.lit("0" * 40))
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
    )
    base = docs.filter(~is_delta).unionByName(stale)
    return base, delta, docs


def test_incremental_merge_matches_full_extract(spark, split_docs):
    base, delta, docs = split_docs
    assert delta.count() > 0
    store = _extract(base)
    # the stale marker must actually be in the pre-merge store
    assert store.filter(F.col("pred") == "http://stale.example/p").count() > 0
    merged = incremental_merge(store, delta)
    _sym_diff_empty(_canon_set(merged), _canon_set(_extract(docs)))
    # and no stale remnants
    assert merged.filter(F.col("pred") == "http://stale.example/p").count() == 0


def test_snapshot_merge_on_read(
    spark, split_docs, tmp_path, assert_one_file_per_layout_dir
):
    base, delta, docs = split_docs
    store_dir = str(tmp_path / "snap")
    init_snapshot(base, store_dir)
    assert snapshot_version(store_dir) == 0
    assert_one_file_per_layout_dir(os.path.join(store_dir, "base"))

    v = merge_snapshot(spark, store_dir, delta)
    assert v == 1
    got = read_snapshot(spark, store_dir)
    expected = _canon_set(_extract(docs))
    _sym_diff_empty(_canon_set(got), expected)

    # re-update the same keys with a THIRD version: only it must survive
    delta2 = (
        delta.withColumn(
            "content",
            F.concat(
                F.lit('<http://v3.example/f> <http://v3.example/p> "v3" .\n'),
                F.col("content"),
            ),
        )
        .withColumn("commit", F.lit("f" * 40))
        .withColumn("content_sha256", F.sha2(F.col("content"), 256))
    )
    assert merge_snapshot(spark, store_dir, delta2) == 2
    got2 = read_snapshot(spark, store_dir).persist()
    n_delta = delta.count()
    assert got2.filter(F.col("pred") == "http://v3.example/p").count() == n_delta
    # v1 adds for those keys are gone: their doc_sha256s differ from v2's
    v1_shas = _extract(delta).select("doc_sha256").distinct()
    assert got2.join(v1_shas, on="doc_sha256", how="semi").count() == 0

    # compaction must not change the reconciled result
    compact_snapshot(spark, store_dir)
    assert snapshot_version(store_dir) == 0
    assert_one_file_per_layout_dir(os.path.join(store_dir, "base"))
    got3 = read_snapshot(spark, store_dir)
    _sym_diff_empty(_canon_set(got3), _canon_set(got2))
    got2.unpersist()


def test_broken_delta_doc_still_retracts(spark, tmp_path):
    rows = [
        ("r1", "a.nt", "c1", "ntriples", '<http://e/s> <http://e/p> "one" .\n'),
        ("r1", "b.nt", "c1", "ntriples", '<http://e/s> <http://e/p> "two" .\n'),
    ]
    docs = spark.createDataFrame(rows, "repo string, path string, commit string, lang string, content string")
    store_dir = str(tmp_path / "snap")
    init_snapshot(docs, store_dir)

    broken = spark.createDataFrame(
        [("r1", "a.nt", "c2", "ntriples", "THIS IS NOT NTRIPLES")],
        "repo string, path string, commit string, lang string, content string",
    )
    merge_snapshot(spark, store_dir, broken)
    got = read_snapshot(spark, store_dir)
    # a.nt's old triple is retracted even though its new version parses to nothing
    assert got.count() == 1
    assert got.filter(F.col("path") == "b.nt").count() == 1


def test_stream_merge_snapshots(spark, tmp_path):
    """Two micro-batches through the same checkpoint lineage: batch 2
    re-updates batch 1's key; the reconciled snapshot keeps only the
    latest version per (repo, path)."""
    from rdfshape_api_spark.operators.incremental import stream_merge_snapshots
    from rdfshape_api_spark.streaming.validate_stream import DOCS_SCHEMA

    drop = tmp_path / "drop"
    drop.mkdir()
    store_dir = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    empty = spark.createDataFrame(
        [], "repo string, path string, commit string, lang string, content string"
    )
    init_snapshot(empty, store_dir)

    def run_stream():
        src = spark.readStream.schema(DOCS_SCHEMA).parquet(str(drop))
        q = stream_merge_snapshots(src, store_dir, ckpt)
        q.awaitTermination(120)

    spark.createDataFrame(
        [
            ("r1", "a.nt", "c1", "ntriples", '<http://e/s> <http://e/p> "v1" .\n'),
            ("r1", "b.nt", "c1", "ntriples", '<http://e/s2> <http://e/p> "b" .\n'),
        ],
        "repo string, path string, commit string, lang string, content string",
    ).write.mode("append").parquet(str(drop))
    run_stream()
    got1 = read_snapshot(spark, store_dir)
    assert got1.count() == 2

    spark.createDataFrame(
        [("r1", "a.nt", "c2", "ntriples", '<http://e/s> <http://e/p> "v2" .\n')],
        "repo string, path string, commit string, lang string, content string",
    ).write.mode("append").parquet(str(drop))
    run_stream()
    got2 = read_snapshot(spark, store_dir)
    vals = {r["obj_value"] for r in got2.collect()}
    assert got2.count() == 2 and vals == {"v2", "b"}


def test_incremental_merge_verdicts_matches_full(spark, split_docs):
    from rdfshape_api_spark.fixtures.generator import (
        SHACL_SENSOR,
        SHAPEMAP_QUERY,
        SHEX_SENSOR,
    )
    from rdfshape_api_spark.operators.incremental import incremental_merge_verdicts
    from rdfshape_api_spark.plans import parse_shacl, parse_shexc
    from rdfshape_api_spark.plans.validate import validate_batch

    base, delta, docs = split_docs
    jobs = [
        (parse_shexc(SHEX_SENSOR), SHAPEMAP_QUERY, "shex_sensor"),
        (parse_shacl(SHACL_SENSOR), None, "shacl_sensor"),
    ]

    def verdicts(d):
        tri = _extract(d)
        return validate_batch(tri, jobs).join(
            tri.select("doc_sha256", "repo", "path").distinct(), on="doc_sha256"
        )

    base_v = verdicts(base).persist()
    merged = incremental_merge_verdicts(base_v, delta, jobs)
    full = verdicts(docs)
    cols = ["doc_sha256", "node", "shape_id", "status"]
    _sym_diff_empty(merged.select(*cols).distinct(), full.select(*cols).distinct())
    # the stale docs' verdicts WERE in the base (different doc_sha256s)
    stale_shas = base_v.select("doc_sha256").subtract(full.select("doc_sha256"))
    assert stale_shas.count() > 0
    # ...and none survive the merge
    assert merged.join(stale_shas, on="doc_sha256", how="semi").count() == 0
    base_v.unpersist()
