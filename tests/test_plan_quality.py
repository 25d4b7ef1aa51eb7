"""Physical-plan quality gates: pruning, pushdown, codegen.

These assert the *plan shape* we designed for (SURVEY §4), not just row
correctness — a regression that silently reverts to full scans or drops
codegen fails here even though results stay right.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.fixtures.generator import SHAPEMAP_QUERY, SHEX_SENSOR
from rdfshape_api_spark.operators.canonicalize import (
    canonicalize,
    pred_partition_value,
    read_store_predicate,
    write_canonical_store,
)
from rdfshape_api_spark.model import TRIPLE_COLUMNS

EX = "http://example.org/"


@pytest.fixture(scope="module")
def store(spark, fixtures_001, tmp_path_factory):
    from rdfshape_api_spark.sources.extract import extract_triples_raw

    docs = spark.read.parquet(fixtures_001["docs"])
    raw = extract_triples_raw(docs)
    canon = canonicalize(raw.filter(F.col("error").isNull()).select(*TRIPLE_COLUMNS))
    path = str(tmp_path_factory.mktemp("store") / "triple_store")
    write_canonical_store(canon, path, subj_buckets=4, dedup=True)
    return path


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_predicate_read_is_partition_pruned(spark, store):
    df = read_store_predicate(spark, store, EX + "status")
    plan = _plan(df)
    # the pred_part literal must appear as a partition filter on the scan
    assert "PartitionFilters" in plan
    assert pred_partition_value(EX + "status") in plan
    # and it returns exactly the pred's rows
    full = spark.read.parquet(store)
    assert df.count() == full.filter(F.col("pred") == EX + "status").count() > 0


def test_column_projection_prunes_read_schema(spark, store):
    df = read_store_predicate(spark, store, EX + "status").select("subj", "obj_value")
    plan = _plan(df)
    # ReadSchema must not include the unused literal-metadata columns
    rs = plan[plan.index("ReadSchema") :].split("\n")[0] if "ReadSchema" in plan else ""
    assert "obj_lang" not in rs and "doc_sha256" in rs or "subj" in rs


def test_extraction_fast_path_is_whole_stage_codegen(spark, fixtures_001):
    from rdfshape_api_spark.sources.extract import extract_ntriples_columnar, with_doc_sha

    docs = with_doc_sha(spark.read.parquet(fixtures_001["docs"]))
    nt = extract_ntriples_columnar(docs.filter(F.lower("lang") == "ntriples"))
    plan = _plan(nt)
    # `*(n)` prefixes in executedPlan.toString mark WholeStageCodegen stages
    assert "*(" in plan
    # zero Python stages on the fast path
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_validation_plan_has_no_python_stages(spark, store):
    """Validation over the store (the pipeline's stage-3 shape) is pure
    Spark SQL — Python appears only in the extraction stage upstream."""
    from rdfshape_api_spark.operators.canonicalize import read_canonical_store
    from rdfshape_api_spark.plans import parse_shexc, validate

    tri = read_canonical_store(spark, store)
    v = validate(
        tri, parse_shexc(SHEX_SENSOR), shapemap=SHAPEMAP_QUERY, shape_label="s"
    )
    plan = _plan(v)
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "HashAggregate" in plan  # the A5 cardinality aggregation


def test_fused_store_write_single_exchange(spark, store):
    from rdfshape_api_spark.operators.canonicalize import (
        pred_partition_key,
        read_canonical_store,
    )

    out = read_canonical_store(spark, store).select(*TRIPLE_COLUMNS).withColumn(
        "pred_part", pred_partition_key()
    ).withColumn("bucket", F.pmod(F.xxhash64("subj"), F.lit(4)))
    key = ["doc_sha256", "subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]
    fused = (
        out.repartition("pred_part", "bucket")
        .groupBy("pred_part", "bucket", *key)
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    plan = _plan(fused)
    assert plan.count("Exchange") == 1


def test_repetition_signals_is_map_only(spark):
    """text_repetition must stay a single map-only stage: no Exchange in
    the physical plan — per-row array expressions, shuffle-free at any
    scale.  (Higher-order array lambdas opt out of whole-stage codegen by
    design; the interpreted Project is still JVM-side and vectorizable.)"""
    from rdfshape_api_spark.functions.textops import repetition_signals

    docs = spark.createDataFrame(
        [(1, "a b a"), (2, "x y")], "doc_id bigint, text string"
    )
    plan = _plan(repetition_signals(docs))
    assert "Exchange" not in plan
    assert "Project" in plan


def test_text_features_is_map_only(spark):
    from rdfshape_api_spark.functions.textops import text_features

    docs = spark.createDataFrame(
        [(1, "the cat", 7)], "doc_id bigint, text string, n_chars bigint"
    )
    plan = _plan(text_features(docs))
    assert "Exchange" not in plan


def test_hash_sample_is_map_only(spark):
    """Corpus mixing must be a pure map: filter + explode, no Exchange —
    the sampler runs as part of the scan at 100 TB."""
    from rdfshape_api_spark.functions.sampling import hash_sample

    docs = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "es")], "doc_id bigint, text string, lang string"
    )
    plan = _plan(hash_sample(docs, {"en": 0.5, "es": 2.25}))
    assert "Exchange" not in plan


def test_temperature_mix_broadcasts_weights(spark):
    """The per-stratum weight table (languages/sources — tiny) must be
    the broadcast side: the corpus scan itself never shuffles."""
    from rdfshape_api_spark.functions.sampling import temperature_mix

    docs = spark.createDataFrame(
        [(1, "a", "en"), (2, "b", "es")], "doc_id bigint, text string, lang string"
    )
    plan = _plan(temperature_mix(docs, alpha=0.5, stratum_col="lang"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    # corpus side reaches the join scan-direct: no SortMergeJoin anywhere
    assert "SortMergeJoin" not in plan


def test_epoch_shards_is_map_only(spark):
    """Per-epoch resharding is a pure map (explode + md5): the only
    exchange in a real pipeline is the partitioned write itself."""
    from rdfshape_api_spark.functions.sampling import epoch_shards

    docs = spark.createDataFrame([(1,), (2,)], "doc_id bigint")
    plan = _plan(epoch_shards(docs, epochs=2, n_shards=8))
    assert "Exchange" not in plan


def test_pack_sequences_single_exchange(spark):
    """Packing shuffles once (on the shard key for the window); the
    window sort is shard-local — no global sort, no second Exchange."""
    from rdfshape_api_spark.functions.sampling import pack_sequences

    docs = spark.createDataFrame(
        [(i, "w " * (i + 1)) for i in range(8)], "doc_id bigint, text string"
    )
    plan = _plan(pack_sequences(docs, max_tokens=4, n_shards=2))
    assert plan.count("Exchange") == 1
    assert "rangepartitioning" not in plan.lower()  # no global sort


def test_decontaminate_broadcasts_benchmark(spark):
    """The eval set must be the broadcast side: no shuffle of the
    training-corpus n-grams before the semi-join."""
    from rdfshape_api_spark.functions.dedup import decontaminate

    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "x y z w")], "doc_id bigint, text string"
    )
    bench = docs.filter("doc_id = 1")
    plan = _plan(decontaminate(docs, bench, n=2))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_lsh_incremental_probe_uses_broadcast(spark):
    """The corpus band table must be probed via a BROADCAST of the batch's
    band keys (semi-join) and never self-joined or cross-joined."""
    from rdfshape_api_spark.functions.dedup import lsh_incremental_keep, minhash_bands

    corpus = spark.createDataFrame(
        [(i, f"corpus doc number {i} text") for i in range(20)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, f"batch doc number {i} text") for i in range(5)],
        "doc_id long, text string",
    )
    plan = _plan(lsh_incremental_keep(minhash_bands(corpus), batch))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_identity_edges_plan_is_star_not_pairs(spark):
    """propose_identity_edges: one equi-join of keyed rows against the
    aggregated group table — no self-join pair enumeration, no cartesian."""
    from rdfshape_api_spark.operators.canonicalize import propose_identity_edges

    tri = spark.createDataFrame(
        [("d", f"http://e/{i}", "http://e/email", "literal", f"v{i % 3}@x", None, None) for i in range(12)],
        "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string",
    )
    plan = _plan(propose_identity_edges(tri, ["http://e/email"]))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # exactly one join shape: keyed ⋈ grouped-min (SMJ or SHJ or BHJ)
    import re as _re
    joins = _re.findall(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", plan)
    assert len(joins) == 1, plan


def test_winnow_sets_is_map_only(spark):
    """Winnow sketching must stay map-only (no Exchange) and the explode
    must not re-introduce the InferFiltersFromGenerate blowup (no Filter
    carrying the nested transform below the Generate)."""
    from rdfshape_api_spark.functions.codeops import (
        winnow_fingerprint_sets,
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [("r", "p", "c", "py", "some content here", "h")],
        "repo string, path string, commit string, lang string, "
        "content string, content_sha256 string",
    )
    assert "Exchange" not in _plan(winnow_fingerprint_sets(docs))
    plan = _plan(winnow_fingerprints(docs))
    assert "Exchange" not in plan
    assert "Filter" not in plan


def test_repo_stats_single_exchange(spark):
    """The rollup is one hash-aggregate: exactly one Exchange (the
    group-by), partial aggregation map-side."""
    from rdfshape_api_spark.functions.codeops import repo_stats

    docs = spark.createDataFrame(
        [("r", "p", "c", "py", "x", "h")],
        "repo string, path string, commit string, lang string, "
        "content string, content_sha256 string",
    )
    plan = _plan(repo_stats(docs))
    # count(distinct ...) expands to a two-level agg over ONE shuffle key
    assert plan.count("Exchange") <= 2
    assert "HashAggregate" in plan


def test_pq_encode_is_map_only(spark):
    """PQ encoding must be pure JVM map work: codebooks inline as
    literals, no Exchange, no Python stage."""
    from rdfshape_api_spark.functions.similarity import pq_encode

    emb = spark.createDataFrame(
        [(0, [float(i) for i in range(8)]), (1, [float(8 - i) for i in range(8)])],
        "vec_id long, embedding array<float>",
    )
    books = [
        [[0.0, 0.0], [1.0, 1.0]],
        [[0.0, 1.0], [1.0, 0.0]],
        [[0.5, 0.5], [0.1, 0.9]],
        [[0.2, 0.8], [0.9, 0.1]],
    ]
    plan = _plan(pq_encode(emb, books))
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_semantic_dedup_guard_broadcasts_overcap_buckets(spark):
    """The max_bucket dense-family path must resolve over-cap buckets with
    a BROADCAST of the (tiny) over-cap bucket list on both the family join
    and the anti-join — never a shuffle of the vector table against it."""
    from rdfshape_api_spark.functions.similarity import semantic_dedup

    rows = [(i, [1.0, float(i % 3) / 10, 0.0]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    plan = _plan(semantic_dedup(emb, 0.9, n_planes=2, max_bucket=4))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_owl_sameas_closure_no_cartesian(spark):
    """sameAs merge: the member→canon rewrite is two hash joins on the
    mapping — no cartesian products, no per-row Python stages."""
    from rdfshape_api_spark.operators.inference import OWL_SAMEAS, owl_sameas_closure

    tri = spark.createDataFrame(
        [
            ("d", "http://e/b", OWL_SAMEAS, "iri", "http://e/a", None, None),
            ("d", "http://e/b", "http://e/p", "iri", "http://e/c", None, None),
        ],
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )
    plan = _plan(owl_sameas_closure(tri))
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_w3c_batch_simple_jobs_share_one_aggregate(spark):
    """validate_batch's simple path: N schemas → ONE groupBy over the
    predicate-filtered scan (the W3C sample's execution model).  Two
    simple single-shape jobs must produce exactly one HashAggregate pair
    (partial+final), not one per job."""
    from rdfshape_api_spark.plans import parse_shexc
    from rdfshape_api_spark.plans.validate import validate_batch

    tri = spark.createDataFrame(
        [("d", "http://e/x", "http://e/p1", "iri", "http://e/v", None, None)],
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )
    s1 = parse_shexc("PREFIX : <http://e/>\n:A { :p1 . }")
    s2 = parse_shexc("PREFIX : <http://e/>\n:B { :p2 . ? }")
    out = validate_batch(
        tri,
        [(s1, "<http://e/x>@<http://e/A>", "a"),
         (s2, "<http://e/x>@<http://e/B>", "b")],
    )
    plan = _plan(out)
    # ONE partial+final aggregate over the shared triple scan (2) plus one
    # tiny distinct per job's focus work-list (2 each) — a per-job
    # aggregation of the BIG scan would add 2 more per job (>= 8 here)
    assert plan.count("HashAggregate") <= 6
    assert "CartesianProduct" not in plan


def _text_docs(spark):
    return spark.createDataFrame(
        [(i, f"shared words in every doc number {i % 3}") for i in range(8)],
        "doc_id long, text string",
    )


def _code_docs(spark):
    return spark.createDataFrame(
        [(f"r{i % 2}", f"f{i}.py", "c", "python", f"def f(a):\n    return a + {i % 3}\n")
         for i in range(6)],
        "repo string, path string, commit string, lang string, content string",
    )


def _emb(spark):
    return spark.createDataFrame(
        [(i, [1.0, float(i % 3) / 10, 0.0], i % 2) for i in range(8)],
        "vec_id long, embedding array<float>, label int",
    )


def _label_triples(spark):
    return spark.createDataFrame(
        [("d", f"http://e/{i}", "http://e/label", "literal", f"acme corp {i % 3}", None, None)
         for i in range(8)],
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )


def _site(module, name, make_input, *args):
    def build(spark, **kw):
        import importlib

        fn = getattr(importlib.import_module(f"rdfshape_api_spark.{module}"), name)
        return fn(make_input(spark), *args, **kw)

    return build


# (site, guard parameter or None, builder) — every blocked self-join site
BLOCKED_PAIR_SITES = [
    ("lsh_candidate_pairs", "max_bucket",
     _site("functions.dedup", "lsh_candidate_pairs", _text_docs)),
    ("winnow_lsh_pairs", "max_bucket",
     _site("functions.codeops", "winnow_lsh_pairs", _code_docs)),
    ("simhash_bucket_pairs", None,
     _site("functions.dedup", "simhash_bucket_pairs", _text_docs)),
    ("ngram_jaccard_pairs", "max_df",
     _site("functions.dedup", "ngram_jaccard_pairs", _text_docs)),
    ("winnow_near_dup_pairs", "max_df",
     _site("functions.codeops", "winnow_near_dup_pairs", _code_docs)),
    ("embedding_near_dups", "max_cell",
     _site("functions.similarity", "embedding_near_dups", _emb)),
    ("semantic_dedup", "max_bucket",
     _site("functions.similarity", "semantic_dedup", _emb)),
    ("propose_label_edges", "max_block",
     _site("operators.canonicalize", "propose_label_edges", _label_triples,
           "http://e/label")),
]


@pytest.mark.parametrize(
    "guard, build",
    [(g, b) for _, g, b in BLOCKED_PAIR_SITES],
    ids=[s for s, _, _ in BLOCKED_PAIR_SITES],
)
def test_blocked_pair_sites_join_on_the_block_key(spark, guard, build):
    """Every blocked-pair site keeps its block key as an equi-join key on
    its default call path (no cartesian or nested-loop pair join), and a
    set guard removes hot blocks through a broadcast anti-join."""
    plans = {"default": _plan(build(spark))}
    if guard is not None:
        plans["capped"] = _plan(build(spark, **{guard: 2}))
    for plan in plans.values():
        assert "CartesianProduct" not in plan
        assert "BroadcastNestedLoopJoin" not in plan
    if guard is not None:
        assert "BroadcastExchange" in plans["capped"]
        assert re.search(r"BroadcastHashJoin[^\n]*LeftAnti", plans["capped"])
