"""Parser unit tests: N-Triples / Turtle / JSON-LD subsets (SURVEY §2.1 S1).

Pattern follows the reference's accept-table/reject-table style
(CompoundDataTest.pending:12-49)."""

from __future__ import annotations

import hashlib

import pytest

from rdfshape_api_spark.fixtures import generator as g
from rdfshape_api_spark.sources import parsers

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def test_ntriples_basic():
    t = parsers.parse_ntriples(
        '<http://e/s> <http://e/p> "v" .\n'
        '<http://e/s> <http://e/p> "v"@en-US .\n'
        f'<http://e/s> <http://e/p> "5"^^<{XSD}integer> .\n'
        "_:b1 <http://e/p> <http://e/o> .\n"
        "# comment\n\n"
    )
    assert t[0] == ("http://e/s", "http://e/p", "literal", "v", None, None)
    assert t[1][4] == "en-us"  # lang tags lowercased
    assert t[2][5] == XSD + "integer"
    assert t[3] == ("_:b1", "http://e/p", "iri", "http://e/o", None, None)


@pytest.mark.parametrize(
    "bad",
    [
        "<http://e/s> <http://e/p> .",  # missing object
        "<http://e/s> missing-brackets <http://e/o> .",
        '<http://e/s> <http://e/p> "unterminated .',
        "<truncated",
    ],
)
def test_ntriples_reject(bad):
    with pytest.raises(ValueError):
        parsers.parse_ntriples(bad)


def test_turtle_features():
    t = parsers.parse_turtle(
        """
        @prefix ex: <http://e/> .
        @base <http://base/> .
        ex:s a ex:C ; ex:p "x", 5, 2.5, true ; ex:q <rel> .
        _:b ex:p [ ex:inner 1 ] .
        ex:list ex:items ( 1 2 ) .
        """
    )
    d = {}
    for s, p, k, v, lang, dt in t:
        d.setdefault((s, p), []).append((k, v, dt))
    assert ("iri", "http://e/C", None) in d[("http://e/s", RDF + "type")]
    objs = d[("http://e/s", "http://e/p")]
    assert ("literal", "5", XSD + "integer") in objs
    assert ("literal", "2.5", XSD + "decimal") in objs
    assert ("literal", "true", XSD + "boolean") in objs
    assert ("iri", "http://base/rel", None) in d[("http://e/s", "http://e/q")]
    # anonymous bnode property list got a fresh id + inner triple
    anon = [v for k, v, _ in d[("_:b", "http://e/p")] if k == "bnode"][0]
    assert (anon, "http://e/inner") in d
    # collection expanded to rdf:first/rest
    head = d[("http://e/list", "http://e/items")][0][1]
    assert (head, RDF + "first") in d


def test_turtle_reject():
    for bad in ["ex:s ex:p ex:o .", "@prefix ex <http://e/> .", "<http://e/s> <http://e/p>"]:
        with pytest.raises(ValueError):
            parsers.parse_turtle(bad)


def test_jsonld_variants():
    t = parsers.parse_jsonld(
        """
        {"@context": {"ex": "http://e/", "name": "http://e/name"},
         "@graph": [
           {"@id": "ex:a", "@type": ["ex:C", "ex:D"],
            "name": "Alice",
            "ex:age": 30,
            "ex:score": 1.5,
            "ex:ok": true,
            "ex:friend": {"@id": "ex:b"},
            "ex:nested": {"ex:p": "inner"},
            "ex:tagged": {"@value": "hola", "@language": "ES"}}
         ]}
        """
    )
    d = {(s, p): (k, v, lang, dt) for s, p, k, v, lang, dt in t}
    assert d[("http://e/a", "http://e/name")][1] == "Alice"
    assert d[("http://e/a", "http://e/age")][3] == XSD + "integer"
    assert d[("http://e/a", "http://e/score")][3] == XSD + "double"
    assert d[("http://e/a", "http://e/ok")][1] == "true"
    assert d[("http://e/a", "http://e/friend")][:2] == ("iri", "http://e/b")
    assert d[("http://e/a", "http://e/tagged")][2] == "es"
    types = [v for s, p, k, v, *_ in t if p == RDF + "type"]
    assert set(types) == {"http://e/C", "http://e/D"}


def test_parse_document_error_channel():
    triples, err = parsers.parse_document("<bad", "turtle")
    assert triples == [] and err is not None
    triples, err = parsers.parse_document("x", "nosuchformat")
    assert "unsupported format" in err


def test_generator_roundtrip_all_formats():
    """Golden triples == parse(render(·)) for every format (the fixture
    invariant everything else rests on)."""
    for j in range(60):
        readings = g._gen_doc_entities(j)
        for lang, render in [
            ("turtle", lambda r: g._render_turtle(r, "ex")),
            ("ntriples", g._render_ntriples),
            ("jsonld", lambda r: g._render_jsonld(r, "sensor")),
        ]:
            content = render(readings)
            triples, err = parsers.parse_document(content, lang)
            assert err is None
            sha = hashlib.sha256(content.encode()).hexdigest()
            canon = set()
            for s, p, k, v, lg, dt in triples:
                if s.startswith("_:"):
                    s = g.skolem(sha, s)
                if k == "bnode" and v.startswith("_:"):
                    v = g.skolem(sha, v)
                if dt and dt.endswith("decimal"):
                    v = g.canonical_decimal(v)
                canon.add((s, p, k, v, lg, dt))
            golden = {tuple(r[1:]) for r in g._golden_triples(readings, sha)}
            assert canon == golden


def test_jsonld_list():
    from rdfshape_api_spark.sources.parsers import RDF_FIRST, RDF_NIL, RDF_REST, parse_jsonld

    doc = """{"@context": {"ex": "http://e/"},
      "@id": "http://e/a",
      "ex:items": {"@list": [1, 2]},
      "ex:empty": {"@list": []}}"""
    t = parse_jsonld(doc)
    firsts = [x for x in t if x[1] == RDF_FIRST]
    rests = [x for x in t if x[1] == RDF_REST]
    assert [f[3] for f in firsts] == ["1", "2"]
    assert rests[0][3].startswith("_:") and rests[1][3] == RDF_NIL
    assert ("http://e/a", "http://e/empty", "iri", RDF_NIL, None, None) in t


def test_jsonld_context_array():
    from rdfshape_api_spark.sources.parsers import parse_jsonld

    doc = """{"@context": [{"ex": "http://e/"}, {"name": "http://e/name"}],
      "@id": "http://e/a", "name": "Ann", "ex:age": 7}"""
    t = set(parse_jsonld(doc))
    assert ("http://e/a", "http://e/name", "literal", "Ann", None, None) in t
    assert any(x[1] == "http://e/age" and x[3] == "7" for x in t)


def test_jsonld_remote_context_rejected():
    from rdfshape_api_spark.sources.parsers import parse_document

    doc = '{"@context": "https://schema.org", "@id": "http://e/a", "name": "x"}'
    triples, err = parse_document(doc, "jsonld")
    assert triples == [] and "remote @context" in err


def test_jsonld_nested_graph():
    from rdfshape_api_spark.sources.parsers import RDF_TYPE, parse_jsonld

    doc = """{"@context": {"ex": "http://e/"}, "@graph": [
      {"@id": "http://e/a", "@type": "ex:T",
       "ex:knows": {"@id": "http://e/b"}},
      {"@id": "http://e/b", "ex:name": {"@value": "Bee", "@language": "EN"}}
    ]}"""
    t = set(parse_jsonld(doc))
    assert ("http://e/a", RDF_TYPE, "iri", "http://e/T", None, None) in t
    assert ("http://e/a", "http://e/knows", "iri", "http://e/b", None, None) in t
    assert ("http://e/b", "http://e/name", "literal", "Bee", "en", None) in t


def test_jsonld_type_id_coercion():
    from rdfshape_api_spark.sources.parsers import parse_jsonld

    doc = """{
      "@context": {"ex": "http://e/", "knows": {"@id": "http://e/knows", "@type": "@id"}},
      "@id": "ex:a", "knows": ["ex:b", "http://e/c"]
    }"""
    t = parse_jsonld(doc)
    assert ("http://e/a", "http://e/knows", "iri", "http://e/b", None, None) in t
    assert ("http://e/a", "http://e/knows", "iri", "http://e/c", None, None) in t


def test_jsonld_datatype_coercion():
    from rdfshape_api_spark.sources.parsers import parse_jsonld

    doc = """{
      "@context": {"ex": "http://e/", "xsd": "http://www.w3.org/2001/XMLSchema#",
                   "born": {"@id": "ex:born", "@type": "xsd:date"}},
      "@id": "ex:a", "born": "1990-01-02"
    }"""
    t = parse_jsonld(doc)
    assert (
        "http://e/a", "http://e/born", "literal", "1990-01-02", None,
        "http://www.w3.org/2001/XMLSchema#date",
    ) in t


def test_jsonld_default_language_and_override():
    from rdfshape_api_spark.sources.parsers import parse_jsonld

    doc = """{
      "@context": {"ex": "http://e/", "@language": "en",
                   "name": "ex:name",
                   "code": {"@id": "ex:code", "@language": null},
                   "nom": {"@id": "ex:nom", "@language": "FR"}},
      "@id": "ex:a", "name": "hello", "code": "X1", "nom": "bonjour"
    }"""
    t = parse_jsonld(doc)
    assert ("http://e/a", "http://e/name", "literal", "hello", "en", None) in t
    assert ("http://e/a", "http://e/code", "literal", "X1", None, None) in t
    assert ("http://e/a", "http://e/nom", "literal", "bonjour", "fr", None) in t


def test_jsonld_base_resolution():
    from rdfshape_api_spark.sources.parsers import parse_jsonld

    doc = """{
      "@context": {"@base": "http://e/dir/", "ex": "http://e/",
                   "link": {"@id": "ex:link", "@type": "@id"}},
      "@id": "a", "link": [{"@id": "b"}, "../up"]
    }"""
    t = parse_jsonld(doc)
    assert ("http://e/dir/a", "http://e/link", "iri", "http://e/dir/b", None, None) in t
    assert ("http://e/dir/a", "http://e/link", "iri", "http://e/up", None, None) in t


def test_jsonld_container_list():
    from rdfshape_api_spark.sources.parsers import RDF_FIRST, RDF_NIL, RDF_REST, parse_jsonld

    doc = """{
      "@context": {"ex": "http://e/", "items": {"@id": "ex:items", "@container": "@list"}},
      "@id": "ex:a", "items": ["x", "y"]
    }"""
    t = parse_jsonld(doc)
    firsts = [x for x in t if x[1] == RDF_FIRST]
    assert [x[3] for x in firsts] == ["x", "y"]
    assert sum(1 for x in t if x[1] == RDF_REST and x[3] == RDF_NIL) == 1


def test_jsonld_reverse():
    from rdfshape_api_spark.sources.parsers import parse_jsonld

    doc = """{
      "@context": {"ex": "http://e/"},
      "@id": "ex:a",
      "@reverse": {"ex:parentOf": [{"@id": "ex:kid1"}, {"@id": "ex:kid2"}]}
    }"""
    t = parse_jsonld(doc)
    assert ("http://e/kid1", "http://e/parentOf", "iri", "http://e/a", None, None) in t
    assert ("http://e/kid2", "http://e/parentOf", "iri", "http://e/a", None, None) in t


RDFNS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"


def test_rdfxml_container_li():
    from rdfshape_api_spark.sources.parsers import parse_rdfxml

    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                      xmlns:ex="http://e/">
      <ex:Thing rdf:about="http://e/a">
        <ex:tags><rdf:Bag>
          <rdf:li>x</rdf:li>
          <rdf:li>y</rdf:li>
        </rdf:Bag></ex:tags>
      </ex:Thing>
    </rdf:RDF>"""
    t = parse_rdfxml(doc)
    bag = next(x[3] for x in t if x[1] == "http://e/tags")
    assert (bag, RDFNS + "type", "iri", RDFNS + "Bag", None, None) in t
    assert (bag, RDFNS + "_1", "literal", "x", None, None) in t
    assert (bag, RDFNS + "_2", "literal", "y", None, None) in t


def test_rdfxml_parsetype_collection():
    from rdfshape_api_spark.sources.parsers import parse_rdfxml

    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                      xmlns:ex="http://e/">
      <rdf:Description rdf:about="http://e/a">
        <ex:items rdf:parseType="Collection">
          <rdf:Description rdf:about="http://e/x"/>
          <rdf:Description rdf:about="http://e/y"/>
        </ex:items>
      </rdf:Description>
    </rdf:RDF>"""
    t = parse_rdfxml(doc)
    firsts = [x for x in t if x[1] == RDFNS + "first"]
    assert sorted(x[3] for x in firsts) == ["http://e/x", "http://e/y"]
    assert any(x[1] == RDFNS + "rest" and x[3] == RDFNS + "nil" for x in t)


def test_rdfxml_parsetype_literal():
    from rdfshape_api_spark.sources.parsers import parse_rdfxml

    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                      xmlns:ex="http://e/">
      <rdf:Description rdf:about="http://e/a">
        <ex:note rdf:parseType="Literal">hi <b>bold</b></ex:note>
      </rdf:Description>
    </rdf:RDF>"""
    t = parse_rdfxml(doc)
    note = next(x for x in t if x[1] == "http://e/note")
    assert note[2] == "literal" and note[5] == RDFNS + "XMLLiteral"
    assert "hi" in note[3] and "<b>bold</b>" in note[3]


def test_rdfxml_property_reification():
    from rdfshape_api_spark.sources.parsers import parse_rdfxml

    doc = """<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
                      xmlns:ex="http://e/" xml:base="http://e/doc">
      <rdf:Description rdf:about="http://e/a">
        <ex:says rdf:ID="st1">hello</ex:says>
      </rdf:Description>
    </rdf:RDF>"""
    t = parse_rdfxml(doc)
    assert ("http://e/a", "http://e/says", "literal", "hello", None, None) in t
    stmt = "http://e/doc#st1"
    assert (stmt, RDFNS + "type", "iri", RDFNS + "Statement", None, None) in t
    assert (stmt, RDFNS + "subject", "iri", "http://e/a", None, None) in t
    assert (stmt, RDFNS + "predicate", "iri", "http://e/says", None, None) in t
    assert (stmt, RDFNS + "object", "literal", "hello", None, None) in t


def test_literal_lang_and_datatype_are_exclusive():
    """No parser emits a literal with both ``obj_lang`` and
    ``obj_datatype``; each format resolves the clash by its own spec."""
    s, p = "http://e/s", "http://e/p"
    # JSON-LD: a language on a non-string @value, or next to @type, is an
    # invalid language-tagged value -> the document becomes an error row
    for obj in ('{"@value": 5, "@language": "en"}',
                '{"@value": true, "@language": "en"}',
                '{"@value": "5", "@type": "http://e/T", "@language": "en"}'):
        triples, err = parsers.parse_document(f'{{"@id": "{s}", "{p}": {obj}}}', "jsonld")
        assert triples == [] and "invalid language-tagged value" in err, obj
    triples, err = parsers.parse_document(
        f'{{"@id": "{s}", "{p}": {{"@value": "hi", "@language": "EN"}}}}', "jsonld"
    )
    assert err is None and triples == [(s, p, "literal", "hi", "en", None)]
    # RDF/XML: rdf:datatype overrides xml:lang
    xml = (
        f'<rdf:RDF xmlns:rdf="{RDF}" xmlns:ex="http://e/">'
        f'<rdf:Description rdf:about="{s}">'
        f'<ex:p xml:lang="en" rdf:datatype="{XSD}integer">5</ex:p>'
        f'<ex:q xml:lang="EN">hi</ex:q>'
        "</rdf:Description></rdf:RDF>"
    )
    triples, err = parsers.parse_document(xml, "rdfxml")
    assert err is None
    assert sorted(t[2:] for t in triples) == [
        ("literal", "5", None, XSD + "integer"),
        ("literal", "hi", "en", None),
    ]
    # RDF/JSON: lang plus datatype is malformed
    rj = (f'{{"{s}": {{"{p}": [{{"type": "literal", "value": "5", '
          f'"lang": "en", "datatype": "{XSD}integer"}}]}}}}')
    triples, err = parsers.parse_document(rj, "rdfjson")
    assert triples == [] and "lang and datatype" in err
