"""Seeded inputs and by-construction goldens for the benchmark workloads.

The docs table comes from the package's own fixture generator
(``rdfshape_api_spark.fixtures.generator``) with its ``SEED`` module
constant set to the benchmark seed, so seed 42 reproduces the committed
fixtures row for row (``n_docs`` = 1000 is ``fixtures/rdf_sf0.001``; any
``n_docs`` is a prefix of ``fixtures/rdf_sf0.01``).
Nothing here touches ``fixtures/``: every file goes to the caller's work dir.

Goldens are computed while rendering, exactly as the generator does:
``_golden_triples`` for triples, ``_Reading.conformant`` for the sensor
ShEx/SHACL verdicts, and direct rules over the same readings for the extra
SHACL shapes below.
"""

from __future__ import annotations

import hashlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

from rdfshape_api_spark.fixtures import generator as G

EX = G.EX

# Extra SHACL shapes for the revalidate workload, one per constraint family
# the validator plans differently: sh:qualifiedValueShape (count-only),
# sh:xone over value nodes, sh:hasValue (one-member value set).
SHACL_QUALIFIED = f"""\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <{EX}> .
ex:WellSampledReading a sh:NodeShape ;
  sh:targetClass ex:Reading ;
  sh:property [ sh:path ex:readingTemperature ;
    sh:qualifiedValueShape [ sh:minInclusive 18 ; sh:maxInclusive 20 ] ;
    sh:qualifiedMinCount 2 ] .
"""
SHACL_XONE = f"""\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <{EX}> .
ex:OutOfBandReading a sh:NodeShape ;
  sh:targetClass ex:Reading ;
  sh:property [ sh:path ex:readingTemperature ;
    sh:xone ( [ sh:minInclusive 18 ] [ sh:maxInclusive 20 ] ) ] .
"""
SHACL_HASVALUE = f"""\
@prefix sh: <http://www.w3.org/ns/shacl#> .
@prefix ex: <{EX}> .
ex:HasOkStatus a sh:NodeShape ;
  sh:targetClass ex:Reading ;
  sh:property [ sh:path ex:status ; sh:hasValue "OK" ] .
"""

_DOC_COLS = ("repo", "path", "commit", "lang", "content", "content_sha256")


def _in_band(temp: float) -> bool:
    return 18.0 <= temp <= 20.0


def verdict_rules():
    """shape label → golden verdict rule over one generator reading."""

    def qualified(r):
        vals = {G.canonical_decimal(G._temp_lex(t)) for t in r.temps}
        return sum(_in_band(float(v)) for v in vals) >= 2

    return {
        "shex_sensor": lambda r: r.conformant(),
        "shacl_sensor": lambda r: r.conformant(),
        "shacl_qualified": qualified,
        "shacl_xone": lambda r: not any(_in_band(t) for t in r.temps),
        "shacl_hasvalue": lambda r: "OK" in r.statuses,
    }


class Doc:
    """One version of one document, with its goldens' inputs."""

    __slots__ = ("row", "readings", "is_error", "sha", "prefix")

    def __init__(self, row, readings, is_error, sha, prefix):
        self.row, self.readings, self.is_error = row, readings, is_error
        self.sha, self.prefix = sha, prefix

    @property
    def key(self):
        return self.row[0], self.row[1]

    def triples(self) -> set[tuple]:
        if self.is_error:
            return set()
        return set(G._golden_triples(self.readings, self.sha))

    def verdicts(self, labels) -> set[tuple]:
        if self.is_error:
            return set()
        rules = verdict_rules()
        out = set()
        for r in self.readings:
            node = G.skolem(self.sha, r.node) if r.is_bnode else r.node
            for label in labels:
                status = "conformant" if rules[label](r) else "nonconformant"
                out.add((self.sha, node, label, status))
        return out


def base_doc(j: int) -> Doc:
    row, readings, is_error, sha = G._gen_one_doc(j)
    return Doc(row, readings, is_error, sha, "ex" if j % 2 == 0 else "sensor")


def rerender(doc: Doc, seed: int, version: int) -> Doc:
    """A new clean version of an existing (repo, path): same entities, a
    changed prefix alias (Turtle, JSON-LD) or a changed format
    (N-Triples → Turtle)."""
    repo, path, _, lang, _, _ = doc.row
    flipped = "sensor" if doc.prefix == "ex" else "ex"
    if lang == "turtle":
        lang, prefix = "turtle", flipped
        content = G._render_turtle(doc.readings, prefix)
    elif lang == "jsonld":
        lang, prefix = "jsonld", flipped
        content = G._render_jsonld(doc.readings, prefix)
    else:
        lang, prefix = "turtle", "ex"
        content = G._render_turtle(doc.readings, prefix)
    sha = hashlib.sha256(content.encode()).hexdigest()
    commit = hashlib.sha1(f"{seed}:{repo}:{path}:v{version}".encode()).hexdigest()
    return Doc((repo, path, commit, lang, content, sha), doc.readings, False, sha, prefix)


def write_docs(docs: list[Doc], path: str) -> int:
    """Docs-table parquet in the generator's layout; returns content bytes."""
    cols = {c: [d.row[i] for d in docs] for i, c in enumerate(_DOC_COLS)}
    schema = pa.schema([(c, pa.string()) for c in _DOC_COLS])
    pq.write_table(pa.table(cols, schema=schema), path, row_group_size=4096)
    return sum(len(d.row[4].encode()) for d in docs)


class Corpus:
    """The seeded base corpus plus ``n_deltas`` deltas of ``delta_docs``
    documents each (≈70% re-renders of current paths, ≈30% new paths)."""

    def __init__(self, seed: int, n_docs: int, n_deltas: int = 0, delta_docs: int = 0):
        G.SEED = seed
        self.base = [base_doc(j) for j in range(n_docs)]
        self.deltas: list[list[Doc]] = []
        current = {d.key: d for d in self.base}
        keys = [d.key for d in self.base]
        next_j = n_docs
        rng = random.Random(seed * 1_000_033 + n_docs)
        for v in range(1, n_deltas + 1):
            n_new = delta_docs * 3 // 10
            batch = [rerender(current[k], seed, v) for k in rng.sample(keys, delta_docs - n_new)]
            for _ in range(n_new):
                batch.append(base_doc(next_j))
                next_j += 1
            for d in batch:
                if d.key not in current:
                    keys.append(d.key)
                current[d.key] = d
            self.deltas.append(batch)
        self.latest = list(current.values())

    def error_docs(self) -> int:
        return sum(d.is_error for d in self.base)

    @staticmethod
    def golden_triples(docs: list[Doc]) -> set[tuple]:
        out: set[tuple] = set()
        for d in docs:
            out |= d.triples()
        return out

    @staticmethod
    def golden_verdicts(docs: list[Doc], labels) -> set[tuple]:
        out: set[tuple] = set()
        for d in docs:
            out |= d.verdicts(labels)
        return out
