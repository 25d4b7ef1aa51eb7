"""Canonicalization invariants: skolem determinism, literal normalization,
salted dedup equivalence, store partitioning."""

from __future__ import annotations

from pyspark.sql import functions as F

from rdfshape_api_spark.operators import canonicalize as C


def _raw(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_sha256 string, subj string, pred string, obj_kind string, "
        "obj_value string, obj_lang string, obj_datatype string",
    )


def test_skolem_deterministic_and_doc_scoped(spark):
    rows = [
        ("docA", "_:b1", "http://e/p", "bnode", "_:b2", None, None),
        ("docB", "_:b1", "http://e/p", "iri", "http://e/o", None, None),
    ]
    out1 = {(r["doc_sha256"], r["subj"], r["obj_value"]) for r in C.skolemize(_raw(spark, rows)).collect()}
    out2 = {(r["doc_sha256"], r["subj"], r["obj_value"]) for r in C.skolemize(_raw(spark, rows)).collect()}
    assert out1 == out2  # run-to-run determinism
    subs = {r[0]: r[1] for r in out1}
    assert subs["docA"] != subs["docB"]  # same label, different doc → different id
    assert all(s.startswith("urn:skolem:") for s in subs.values())


def test_skolem_matches_python_reference(spark):
    from rdfshape_api_spark.fixtures.generator import skolem

    rows = [("doc1", "_:x", "http://e/p", "literal", "v", None, None)]
    got = C.skolemize(_raw(spark, rows)).collect()[0]["subj"]
    assert got == skolem("doc1", "_:x")


def test_normalize_literals(spark):
    xsd_dec = "http://www.w3.org/2001/XMLSchema#decimal"
    rows = [
        ("d", "s", "p", "literal", "18.50", None, xsd_dec),
        ("d", "s", "p", "literal", "18.0", None, xsd_dec),
        ("d", "s", "p", "literal", "+007", None, "http://www.w3.org/2001/XMLSchema#integer"),
        ("d", "s", "p", "literal", "-0", None, xsd_dec),
        ("d", "s", "p", "literal", "18.50", None, None),  # not numeric-typed → untouched
    ]
    vals = [r["obj_value"] for r in C.normalize_literals(_raw(spark, rows)).collect()]
    assert vals == ["18.5", "18", "7", "0", "18.50"]


def test_salted_dedup_equivalence(spark):
    rows = [("d", "s", "p", "iri", "o", None, None)] * 50 + [
        ("d", "s2", "p", "iri", "o", None, None)
    ]
    assert C.dedup_triples(_raw(spark, rows)).count() == 2


def test_store_partitioned_by_predicate(spark, tmp_path):
    rows = [
        ("d", "s", "http://e/ns#type", "iri", "o", None, None),
        ("d", "s", "http://e/ns#name", "literal", "x", None, None),
    ]
    path = str(tmp_path / "store")
    C.write_canonical_store(_raw(spark, rows), path, subj_buckets=2)
    import os

    parts = [p for p in os.listdir(path) if p.startswith("pred_part=")]
    assert len(parts) == 2  # one directory per predicate
    back = C.read_canonical_store(spark, path)
    assert back.count() == 2
    # predicate filter must prune partitions (PartitionFilters in the scan)
    plan = (
        back.filter(F.col("pred") == "http://e/ns#type")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "pred_part" in plan


def test_entity_degree_skew_agg(spark):
    rows = [("d", f"s{i}", "http://e/p", "iri", "hub", None, None) for i in range(100)]
    rows += [("d", "hub", "http://e/p", "literal", "x", None, None)]
    deg = {r["entity"]: r["degree"] for r in C.entity_degree(_raw(spark, rows)).collect()}
    assert deg["hub"] == 101


def test_link_entities_sameas(spark):
    from rdfshape_api_spark.operators.canonicalize import OWL_SAMEAS, link_entities

    E = "http://e/"
    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [
            ("d", E + "b", OWL_SAMEAS, "iri", E + "a", None, None),
            ("d", E + "c", OWL_SAMEAS, "iri", E + "b", None, None),
            ("d", E + "c", E + "name", "literal", "Carl", None, None),
            ("d", E + "x", E + "knows", "iri", E + "b", None, None),
            ("d2", E + "a", E + "age", "literal", "9", None, None),
            ("d2", E + "z", E + "other", "iri", E + "w", None, None),
        ],
        cols,
    )
    out = link_entities(tri)
    rows = {(r["doc_sha256"], r["subj"], r["pred"], r["obj_value"]) for r in out.collect()}
    # a is the lexicographic-min representative of {a, b, c}
    assert ("d", E + "a", E + "name", "Carl") in rows       # subj rewritten
    assert ("d", E + "x", E + "knows", E + "a") in rows     # obj rewritten
    assert ("d2", E + "a", E + "age", "9") in rows          # already canonical
    assert ("d2", E + "z", E + "other", E + "w") in rows    # untouched
    assert not any(r["pred"] == OWL_SAMEAS for r in out.collect())
    assert out.count() == 4


def test_link_entities_explicit_edges(spark):
    from rdfshape_api_spark.operators.canonicalize import link_entities

    E = "http://e/"
    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    tri = spark.createDataFrame(
        [("d", E + "q", E + "p", "literal", "v", None, None)], cols
    )
    edges = spark.createDataFrame([(E + "q", E + "m")], "a string, b string")
    out = link_entities(tri, edges=edges)
    assert out.collect()[0]["subj"] == E + "m"


def test_propose_identity_edges_star_and_guard(spark):
    from rdfshape_api_spark.operators.canonicalize import (
        link_entities,
        propose_identity_edges,
    )

    def t(s, p, o):
        return ("d0", s, p, "literal", o, None, None)

    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    email = "http://e/email"
    rows = [
        # three entities sharing one email -> star around the min
        t("http://e/a", email, "x@y.z"),
        t("http://e/b", email, "x@y.z"),
        t("http://e/c", email, "x@y.z"),
        # unique email -> no edge
        t("http://e/d", email, "solo@y.z"),
        # hot placeholder value -> dropped by max_group
        t("http://e/p1", email, ""),
        t("http://e/p2", email, ""),
        t("http://e/p3", email, ""),
        t("http://e/p4", email, ""),
    ]
    tri = spark.createDataFrame(rows, cols)
    edges = propose_identity_edges(tri, [email], max_group=3)
    got = {(r["a"], r["b"]) for r in edges.collect()}
    assert got == {("http://e/a", "http://e/b"), ("http://e/a", "http://e/c")}

    # the edges drive link_entities: b and c rewrite to a
    linked = link_entities(tri, edges=edges.select("a", "b"))
    subs = {r["subj"] for r in linked.filter("obj_value = 'x@y.z'").collect()}
    assert subs == {"http://e/a"}


def test_propose_label_edges_jaccard_and_block_guard(spark):
    from rdfshape_api_spark.operators.canonicalize import propose_label_edges

    def t(s, o):
        return ("d0", s, "http://e/label", "literal", o, None, None)

    cols = "doc_sha256 string, subj string, pred string, obj_kind string, obj_value string, obj_lang string, obj_datatype string"
    rows = [
        # normalization-equal labels -> jaccard 1.0
        t("http://e/acme1", "ACME Corp."),
        t("http://e/acme2", "acme corp"),
        # one extra token: {globex, corp, intl} vs {globex, corp} = 2/3 < 0.8
        t("http://e/glob1", "Globex Corp"),
        t("http://e/glob2", "Globex Corp Intl"),
        # rare-token match with a long shared tail
        t("http://e/z1", "zeta omega kappa systems"),
        t("http://e/z2", "zeta omega kappa systems ltd"),  # 4/5 = 0.8
    ]
    tri = spark.createDataFrame(rows, cols)
    got = {
        (r["a"], r["b"]): r["jaccard"]
        for r in propose_label_edges(tri, "http://e/label", threshold=0.8).collect()
    }
    assert ("http://e/acme1", "http://e/acme2") in got
    assert got[("http://e/acme1", "http://e/acme2")] == 1.0
    assert ("http://e/glob1", "http://e/glob2") not in got
    assert ("http://e/z1", "http://e/z2") in got
    # with every token hot-capped away, nothing pairs
    assert (
        propose_label_edges(tri, "http://e/label", threshold=0.5, max_block=1).count()
        == 0
    )
