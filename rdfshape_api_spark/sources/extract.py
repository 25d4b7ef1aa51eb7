"""Extraction stage: docs table → flat triple rows (SURVEY §2.1 S1/S4).

Reference semantics: ``RDFAsJenaModel.fromChars(input, format, base)``
(``modules/server/.../data/logic/types/DataSingle.scala:78-93``); format list
``RdfFormat.scala:18-29``.  Differences by design:

* parse failure is a per-document **error row** (subj NULL, ``error`` set),
  not a failed job — at 10^12 files a single bad document must not kill the
  pipeline;
* N-Triples gets a **pure columnar fast path** (split + rlike + regexp
  extraction, whole-stage codegen, zero Python) since it is the volume
  format; Turtle/JSON-LD go through one Arrow-batched ``mapInPandas`` stage
  (batch-level Python at the edge only — input_hint "no per-row Python");
* compound/multi-format inputs (SURVEY §2.1 S4, DataCompound.scala:58-82)
  are free: each format branch extracts independently and the union is
  ``unionByName``.

Scale notes (100 TB): the docs scan prunes to (repo, path, commit, lang,
content) only; format dispatch is a partition-local filter, so extraction
itself has no shuffle.  ``run_pipeline(repartition_by_repo=n)`` range-
partitions the docs by ``(repo, path)`` before extraction (north rule),
which also evens out per-file document skew.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from rdfshape_api_spark.model import (
    KIND_BNODE,
    KIND_IRI,
    KIND_LITERAL,
    PREFIX_SCHEMA,
    RAW_TRIPLE_SCHEMA,
    TRIPLE_COLUMNS,
)
from rdfshape_api_spark.sources import parsers

NT_LANGS = ("ntriples", "nt", "n-triples")
PY_LANGS = ("turtle", "ttl", "jsonld", "json-ld")

# --- N-Triples term regexes (Java flavor, used in Spark SQL) ----------------
_IRI = r"<[^>]*>"
_BNODE = r"_:\S+"
_LIT = r'"(?:[^"\\]|\\.)*"(?:@[A-Za-z][A-Za-z0-9-]*|\^\^<[^>]*>)?'
_NT_VALID_LINE = rf"^({_IRI}|{_BNODE})\s+({_IRI})\s+({_IRI}|{_BNODE}|{_LIT})\s*\.\s*$"


def with_doc_sha(docs: DataFrame) -> DataFrame:
    """Add the per-row content sha256 — the lineage invariant column
    (north_star: 'per-row content sha256 equality vs the source rows')."""
    if "doc_sha256" in docs.columns:
        return docs
    return docs.withColumn("doc_sha256", F.sha2(F.col("content"), 256))


def _nt_unescape(col):
    """Columnar N-Triples string unescape for the common escapes.

    Handles \\\\ \\" \\n \\t \\r via a sentinel so ``\\\\n`` does not turn
    into a newline. \\uXXXX is not handled on the fast path (the pandas
    Turtle/JSON-LD path handles it; corpus N-Triples rarely uses it).
    """
    sentinel = ""
    c = F.replace(col, F.lit("\\\\"), F.lit(sentinel))
    c = F.replace(c, F.lit('\\"'), F.lit('"'))
    c = F.replace(c, F.lit("\\n"), F.lit("\n"))
    c = F.replace(c, F.lit("\\t"), F.lit("\t"))
    c = F.replace(c, F.lit("\\r"), F.lit("\r"))
    return F.replace(c, F.lit(sentinel), F.lit("\\"))


def extract_ntriples_columnar(docs: DataFrame) -> DataFrame:
    """N-Triples fast path: entirely Spark SQL expressions (codegen'd).

    A document whose every line is blank/comment/valid yields its triples;
    otherwise it yields one error row (matching the reference's
    whole-document parse semantics, DataSingle.scala:78-93, but as a row,
    not a failure). Validity is decided *before* exploding via
    ``forall(split(content))`` — no shuffle anywhere in this path.
    """
    lines = F.split(F.col("content"), "\n")
    line_ok = lambda x: (  # noqa: E731
        (F.trim(x) == "") | F.trim(x).startswith("#") | F.trim(x).rlike(_NT_VALID_LINE)
    )
    docs = docs.withColumn("_doc_ok", F.forall(lines, line_ok))

    good = (
        docs.filter(F.col("_doc_ok"))
        .withColumn("line", F.explode(lines))
        .withColumn("line", F.trim("line"))
        .filter((F.col("line") != "") & ~F.col("line").startswith("#"))
    )
    subj_tok = F.regexp_extract("line", rf"^({_IRI}|{_BNODE})", 1)
    pred = F.regexp_extract("line", rf"^(?:{_IRI}|{_BNODE})\s+<([^>]*)>", 1)
    obj_tok = F.regexp_extract(
        "line", rf"^(?:{_IRI}|{_BNODE})\s+{_IRI}\s+(.*?)\s*\.\s*$", 1
    )
    lex = F.regexp_extract(obj_tok, r'^"((?:[^"\\]|\\.)*)"', 1)
    lang_tag = F.regexp_extract(obj_tok, r"@([A-Za-z][A-Za-z0-9-]*)$", 1)
    dt_iri = F.regexp_extract(obj_tok, r"\^\^<([^>]*)>$", 1)

    strip_angle = lambda c: F.substring(c, 2, F.length(c) - 2)  # noqa: E731
    triples = good.select(
        "repo",
        "path",
        "commit",
        "doc_sha256",
        F.when(subj_tok.startswith("<"), strip_angle(subj_tok))
        .otherwise(subj_tok)
        .alias("subj"),
        pred.alias("pred"),
        F.when(obj_tok.startswith("<"), F.lit(KIND_IRI))
        .when(obj_tok.startswith("_:"), F.lit(KIND_BNODE))
        .otherwise(F.lit(KIND_LITERAL))
        .alias("obj_kind"),
        F.when(obj_tok.startswith("<"), strip_angle(obj_tok))
        .when(obj_tok.startswith("_:"), obj_tok)
        .otherwise(_nt_unescape(lex))
        .alias("obj_value"),
        F.when(lang_tag != "", F.lower(lang_tag)).alias("obj_lang"),
        F.when(dt_iri != "", dt_iri).alias("obj_datatype"),
        F.lit(None).cast("string").alias("error"),
    )

    errors = docs.filter(~F.col("_doc_ok")).select(
        "repo",
        "path",
        "commit",
        "doc_sha256",
        *[F.lit(None).cast("string").alias(c) for c in ("subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype")],
        F.lit("ValueError: malformed N-Triples statement").alias("error"),
    )
    return triples.unionByName(errors)


def _parse_batch(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: Arrow batches of docs in, triple rows out."""
    cols = [f.name for f in RAW_TRIPLE_SCHEMA.fields]
    for pdf in batch_iter:
        out: list[tuple] = []
        for repo, path, commit, sha, lang, content in zip(
            pdf["repo"], pdf["path"], pdf["commit"], pdf["doc_sha256"], pdf["lang"], pdf["content"]
        ):
            triples, err = parsers.parse_document(content, lang)
            if err is not None:
                out.append((repo, path, commit, sha, None, None, None, None, None, None, err))
            else:
                for s, p, k, v, lg, dt in triples:
                    out.append((repo, path, commit, sha, s, p, k, v, lg, dt, None))
        yield pd.DataFrame(out, columns=cols)


def extract_python_formats(docs: DataFrame) -> DataFrame:
    """Turtle/JSON-LD path: one Arrow-batched mapInPandas stage."""
    narrow = docs.select("repo", "path", "commit", "doc_sha256", "lang", "content")
    return narrow.mapInPandas(_parse_batch, schema=RAW_TRIPLE_SCHEMA)


def extract_triples_raw(docs: DataFrame) -> DataFrame:
    """Full extraction with error channel: dispatch by ``lang`` column."""
    docs = with_doc_sha(docs)
    lang = F.lower(F.col("lang"))
    nt = extract_ntriples_columnar(docs.filter(lang.isin(*NT_LANGS)))
    py = extract_python_formats(docs.filter(~lang.isin(*NT_LANGS)))
    return nt.unionByName(py)


def extract_triples(docs: DataFrame) -> DataFrame:
    """Extraction → good triples only (canonical columns, no error rows).

    Compose with :func:`extract_errors` for the error channel, or use
    :func:`extract_triples_raw` for both in one pass (cache it if you need
    both — one scan, two consumers).
    """
    raw = extract_triples_raw(docs)
    return raw.filter(F.col("error").isNull()).select(*TRIPLE_COLUMNS)


def extract_errors(docs: DataFrame) -> DataFrame:
    """Per-document parse errors (doc identity + message)."""
    raw = extract_triples_raw(docs)
    return raw.filter(F.col("error").isNotNull()).select(
        "repo", "path", "commit", "doc_sha256", "error"
    )


# --------------------------------------------------------------------------
# Prefix tables (SURVEY §2.3 P8 — getPrefixMap, MergedModels.scala:31-39)
# --------------------------------------------------------------------------

def _prefix_batch(batch_iter: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import json as _json

    for pdf in batch_iter:
        out = []
        for sha, lang, content in zip(pdf["doc_sha256"], pdf["lang"], pdf["content"]):
            lg = (lang or "").lower()
            try:
                if lg in ("turtle", "ttl"):
                    pm = parsers.turtle_prefixes(content)
                elif lg in ("jsonld", "json-ld"):
                    doc = _json.loads(content)
                    ctx = doc.get("@context", {}) if isinstance(doc, dict) else {}
                    pm = {
                        k: v
                        for k, v in ctx.items()
                        if isinstance(v, str) and not k.startswith("@") and v.endswith(("/", "#"))
                    }
                else:
                    pm = {}
            except Exception:  # noqa: BLE001
                pm = {}
            out.extend((sha, p, i) for p, i in pm.items())
        yield pd.DataFrame(out, columns=["doc_sha256", "prefix", "iri"])


def extract_prefixes(docs: DataFrame) -> DataFrame:
    """Per-document prefix table ``(doc_sha256, prefix, iri)``."""
    docs = with_doc_sha(docs)
    return docs.select("doc_sha256", "lang", "content").mapInPandas(
        _prefix_batch, schema=PREFIX_SCHEMA
    )


def merged_prefix_map(prefixes: DataFrame, order_col: str = "doc_sha256") -> DataFrame:
    """Union of prefix maps, left-biased like the reference
    (MergedModels.scala:31-39: first definition of a prefix wins, in doc
    order). Deterministic via min-by on the order column."""
    return (
        prefixes.groupBy("prefix")
        .agg(F.min_by("iri", F.col(order_col)).alias("iri"))
    )
