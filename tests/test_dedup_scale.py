"""Scale-path dedup tests: bucket cap + O(n) keep-decision."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rdfshape_api_spark.functions.dedup import (
    blocked_pairs,
    lsh_candidate_pairs,
    lsh_dedup_keep,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = (
        # a template family: 6 near-identical docs → giant bucket
        [(i, "the quick brown fox jumps over the lazy dog variant") for i in range(6)]
        # distinct docs
        + [(10, "completely different text about spark partitions"),
           (11, "another unrelated document mentioning catalyst optimizer"),
           (12, "")]
    )
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_max_bucket_drops_giant_buckets(docs):
    full = lsh_candidate_pairs(docs)
    capped = lsh_candidate_pairs(docs, max_bucket=3)
    # the 6-doc identical family produces C(6,2)=15 pairs in the full run
    family = full.filter((F.col("doc_a") < 6) & (F.col("doc_b") < 6))
    assert family.count() == 15
    # with the cap, those buckets are excluded entirely
    assert capped.filter((F.col("doc_a") < 6) & (F.col("doc_b") < 6)).count() == 0
    # and capped output is a subset of the full output
    assert capped.exceptAll(full).isEmpty()


def test_lsh_dedup_keep_one_survivor_per_family(docs):
    keep = lsh_dedup_keep(docs)
    fam = {r["doc_id"]: r for r in keep.filter(F.col("doc_id") < 6).collect()}
    # all six identical docs map to the same representative: doc 0
    assert all(r["cluster_rep"] == 0 for r in fam.values())
    assert [d for d, r in sorted(fam.items()) if r["keep"]] == [0]
    # distinct docs survive as their own representatives
    others = {r["doc_id"]: r for r in keep.filter(F.col("doc_id") >= 10).collect()}
    assert all(r["keep"] for r in others.values())


def test_ngram_hot_shingle_guard(spark):
    """A degenerate corpus where every doc shares one stop-word bigram:
    unguarded output is O(n²) pairs; with max_df the hot shingle is
    excluded and only genuinely-similar pairs survive."""
    from rdfshape_api_spark.functions.dedup import ngram_jaccard_pairs

    rows = [(i, f"of the unique{i} token{i} thing{i}") for i in range(40)]
    rows += [(100, "alpha beta gamma delta"), (101, "alpha beta gamma delta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    unguarded = ngram_jaccard_pairs(docs, threshold=0.01)
    # every template doc shares 'of the' -> quadratic candidate pairs
    assert unguarded.count() > 40 * 39 / 2

    guarded = ngram_jaccard_pairs(docs, threshold=0.5, max_df=10)
    pairs = {(r["doc_a"], r["doc_b"]) for r in guarded.collect()}
    assert pairs == {(100, 101)}


def test_connected_components_chain(spark):
    """A 4-vertex chain needs multiple propagation rounds (diameter 3);
    two separate components keep distinct representatives."""
    from rdfshape_api_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("c", "d"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    got = {r["doc_id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "d": "a", "x": "x", "y": "x"}


def test_connected_components_star_and_singleton_free(spark):
    from rdfshape_api_spark.functions.dedup import connected_components

    pairs = spark.createDataFrame(
        [("hub", f"leaf{i}") for i in range(5)], "doc_a string, doc_b string"
    )
    out = connected_components(pairs)
    comps = {r["component"] for r in out.collect()}
    assert comps == {"hub"}
    # only vertices that appear in pairs are emitted (no singleton rows)
    assert out.count() == 6


def test_connected_components_random_graphs_vs_union_find(spark):
    """Property check: the distributed min-label propagation agrees with a
    driver-side union-find on deterministic pseudo-random graphs (chains,
    cliques, forests, cross-links)."""
    import hashlib

    from rdfshape_api_spark.functions.dedup import connected_components

    def rnd(seed: str, mod: int) -> int:
        return int(hashlib.sha256(seed.encode()).hexdigest(), 16) % mod

    for trial in range(4):
        n = 30 + trial * 17
        edges = []
        for i in range(n):
            a = f"v{rnd(f'{trial}:{i}:a', n):03d}"
            b = f"v{rnd(f'{trial}:{i}:b', n):03d}"
            if a != b:
                edges.append((a, b))
        parent: dict[str, str] = {}

        def find(x: str) -> str:
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[ra] = rb
        expected: dict[str, str] = {}
        comp_min: dict[str, str] = {}
        for v in parent:
            r = find(v)
            comp_min[r] = min(comp_min.get(r, v), v)
        for v in parent:
            expected[v] = comp_min[find(v)]

        pairs = spark.createDataFrame(edges, "doc_a string, doc_b string")
        got = {
            r["doc_id"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert got == expected, f"trial {trial} mismatch"


def test_lsh_duplicate_clusters_matches_pair_cc(spark):
    """Star-contracted bucket CC is row-identical to CC over the
    enumerated candidate pairs (a bucket is a clique; a clique and a star
    around any member have the same components)."""
    from rdfshape_api_spark.functions.dedup import (
        connected_components,
        lsh_duplicate_clusters,
    )

    rows = (
        [(i, "the quick brown fox jumps over the lazy dog variant") for i in range(5)]
        + [(20 + i, "spark catalyst optimizer plans are declarative stuff") for i in range(3)]
        + [(50, "completely different text about parquet row groups"),
           (51, "yet another unrelated note"),
           (52, "")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    via_pairs = {
        (r["doc_id"], r["component"])
        for r in connected_components(lsh_candidate_pairs(docs)).collect()
    }
    via_stars = {
        (r["doc_id"], r["component"])
        for r in lsh_duplicate_clusters(docs).collect()
    }
    assert via_stars == via_pairs and via_stars


def test_lsh_duplicate_clusters_max_bucket(spark):
    """max_bucket excludes over-limit buckets symmetrically with the
    pair-enumeration guard."""
    from rdfshape_api_spark.functions.dedup import (
        connected_components,
        lsh_duplicate_clusters,
    )

    rows = [(i, "same same template text body here") for i in range(6)] + [
        (10, "alpha beta gamma delta one"),
        (11, "alpha beta gamma delta one"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    via_pairs = {
        (r["doc_id"], r["component"])
        for r in connected_components(lsh_candidate_pairs(docs, max_bucket=3)).collect()
    }
    via_stars = {
        (r["doc_id"], r["component"])
        for r in lsh_duplicate_clusters(docs, max_bucket=3).collect()
    }
    assert via_stars == via_pairs and via_stars


def test_lsh_verified_pairs_filters_false_positives(docs, spark):
    """est-Jaccard refinement: identical docs score 16/16; a pair that
    collides on one band but differs elsewhere is dropped at 0.5."""
    from rdfshape_api_spark.functions.dedup import (
        lsh_verified_pairs,
        minhash_signature,
    )

    verified = lsh_verified_pairs(docs, threshold=0.5)
    fam = verified.filter((F.col("doc_a") < 6) & (F.col("doc_b") < 6))
    rows = fam.collect()
    # identical texts: every signature slot equal
    assert len(rows) == 15
    assert all(r["n_eq"] == 16 and r["est_jaccard"] == 1.0 for r in rows)

    # verified output is a subset of the candidates, schema carries scores
    cands = lsh_candidate_pairs(docs)
    assert verified.select("doc_a", "doc_b").exceptAll(cands).isEmpty()

    # a high threshold admits nothing that isn't near-identical
    strict = lsh_verified_pairs(docs, threshold=0.99)
    assert strict.filter(F.col("n_eq") < 16).isEmpty()

    # n_eq agrees with a direct signature comparison for one known pair
    sigs = {
        r["doc_id"]: r["sig"]
        for r in docs.select(
            "doc_id", minhash_signature().alias("sig")
        ).collect()
    }
    expect = sum(a == b for a, b in zip(sigs[0], sigs[1]))
    got = verified.filter(
        (F.col("doc_a") == 0) & (F.col("doc_b") == 1)
    ).collect()[0]["n_eq"]
    assert got == expect == 16


def test_lsh_incremental_keep_batch_vs_corpus(spark):
    from rdfshape_api_spark.functions.dedup import lsh_incremental_keep, minhash_bands

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "an existing corpus document about shuffle partitions"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # dup of corpus doc 1 → dropped, dup_of = 1
            (100, "the quick brown fox jumps over the lazy dog"),
            # new family of two identical docs → 101 kept, 102 dropped
            (101, "a brand new batch document never seen before"),
            (102, "a brand new batch document never seen before"),
            # genuinely unique → kept
            (103, "totally unrelated fresh content in this batch"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in lsh_incremental_keep(minhash_bands(corpus), batch).collect()
    }
    assert not out[100]["keep"] and out[100]["dup_of"] == 1
    assert out[101]["keep"] and out[101]["dup_of"] is None
    assert not out[102]["keep"] and out[102]["dup_of"] == 101
    assert out[103]["keep"] and out[103]["dup_of"] is None


@pytest.fixture(scope="module")
def blocks(spark):
    # blocks of size 1 (x), 2 (y) and 3 (z); v is a carried payload
    rows = [("x", 1), ("y", 2), ("y", 3), ("z", 4), ("z", 5), ("z", 6)]
    return spark.createDataFrame(
        [(k, i, f"v{i}") for k, i in rows], "blk string, id long, v string"
    )


def _id_pairs(df):
    return sorted((r["id_a"], r["id_b"]) for r in df.collect())


def test_blocked_pairs_cap_is_inclusive(blocks):
    # cap=2 drops only the 3-row block; the 2-row block still pairs
    assert _id_pairs(blocked_pairs(blocks, "id", ["blk"], cap=2)) == [(2, 3)]


def test_blocked_pairs_uncapped_is_every_in_block_pair(blocks):
    assert _id_pairs(blocked_pairs(blocks, "id", ["blk"])) == [
        (2, 3), (4, 5), (4, 6), (5, 6),
    ]


def test_blocked_pairs_symmetric_emits_both_orders(blocks):
    one_way = [(2, 3), (4, 5), (4, 6), (5, 6)]
    assert _id_pairs(blocked_pairs(blocks, "id", ["blk"], symmetric=True)) == sorted(
        one_way + [(b, a) for a, b in one_way]
    )


def test_blocked_pairs_carry_suffixes(blocks):
    out = blocked_pairs(blocks, "id", ["blk"], cap=2, carry=["v"])
    assert set(out.columns) == {"blk", "id_a", "id_b", "v_a", "v_b"}
    assert [tuple(r) for r in out.select("blk", "id_a", "id_b", "v_a", "v_b").collect()] == [
        ("y", 2, 3, "v2", "v3")
    ]

