"""Pure-Python RDF parsers: N-Triples, Turtle (subset), JSON-LD (subset).

These run **batch-wise inside Arrow UDFs** (``mapInPandas``), never as
per-row Spark UDFs — per the input_hint "no per-row Python".  The N-Triples
format additionally has a fully columnar Spark-SQL fast path in
``extract.py``; the Python N-Triples parser here is the reference
implementation used for tests and for the Turtle parser's literal handling.

Semantics matched to the reference's parse surface (SURVEY §2.1 S1):
``RDFAsJenaModel.fromChars(input, format, base)`` — reference call site
``modules/server/.../data/logic/types/DataSingle.scala:78-93``; format list
``RdfFormat.scala:18-29``.  Unlike the reference (whole request fails on bad
syntax), parse failures are *returned* as an error string so the Spark stage
can emit a per-row error channel.

Triple tuple shape: ``(subj, pred, obj_kind, obj_value, obj_lang, obj_dt)``
with ``subj`` either a full IRI or a raw ``_:label`` blank node (skolemized
later, deterministically, in ``operators/canonicalize.py``).
"""

from __future__ import annotations

import json
import re

XSD = "http://www.w3.org/2001/XMLSchema#"
RDF = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDF_TYPE = RDF + "type"
RDF_FIRST = RDF + "first"
RDF_REST = RDF + "rest"
RDF_NIL = RDF + "nil"

Triple = tuple  # (subj, pred, obj_kind, obj_value, obj_lang, obj_dt)

_ESCAPES = {
    "t": "\t",
    "b": "\b",
    "n": "\n",
    "r": "\r",
    "f": "\f",
    '"': '"',
    "'": "'",
    "\\": "\\",
}


def unescape(s: str) -> str:
    """Decode N-Triples/Turtle string escapes (\\t \\n \\" \\\\ \\uXXXX \\UXXXXXXXX)."""
    if "\\" not in s:
        return s
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c != "\\":
            out.append(c)
            i += 1
            continue
        if i + 1 >= n:
            raise ValueError("dangling backslash")
        e = s[i + 1]
        if e == "u":
            out.append(chr(int(s[i + 2 : i + 6], 16)))
            i += 6
        elif e == "U":
            out.append(chr(int(s[i + 2 : i + 10], 16)))
            i += 10
        elif e in _ESCAPES:
            out.append(_ESCAPES[e])
            i += 2
        else:
            raise ValueError(f"bad escape \\{e}")
    return "".join(out)


# --------------------------------------------------------------------------
# N-Triples
# --------------------------------------------------------------------------

_NT_LINE = re.compile(
    r"^(<[^>]*>|_:[^\s]+)\s+(<[^>]*>)\s+(.+?)\s*\.\s*$"
)
_NT_LITERAL = re.compile(
    r'^"((?:[^"\\]|\\.)*)"(?:@([A-Za-z][A-Za-z0-9-]*)|\^\^<([^>]*)>)?$'
)


_NT_IRI_TOK = re.compile(r"^<[^<>\s]*>$")


def _nt_term(tok: str):
    if tok.startswith("<") and tok.endswith(">"):
        if not _NT_IRI_TOK.match(tok):
            # e.g. '<b> <g>' — two terms the lazy object regex swallowed
            raise ValueError(f"bad N-Triples IRI: {tok!r}")
        return ("iri", tok[1:-1], None, None)
    if tok.startswith("_:"):
        if any(c.isspace() for c in tok):
            # e.g. '_:b <g>' — a quad tail swallowed into the label
            raise ValueError(f"bad N-Triples bnode label: {tok!r}")
        return ("bnode", tok, None, None)
    m = _NT_LITERAL.match(tok)
    if m:
        lex, lang, dt = m.group(1), m.group(2), m.group(3)
        return ("literal", unescape(lex), lang.lower() if lang else None, dt)
    raise ValueError(f"bad N-Triples term: {tok!r}")


def parse_ntriples(content: str) -> list[Triple]:
    """Parse an N-Triples document; raises ValueError with line number on error."""
    triples: list[Triple] = []
    for lineno, line in enumerate(content.split("\n"), 1):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        m = _NT_LINE.match(line)
        if not m:
            raise ValueError(f"line {lineno}: malformed N-Triples statement")
        s_kind, s_val, _, _ = _nt_term(m.group(1))
        subj = s_val if s_kind == "iri" else s_val
        pred = m.group(2)[1:-1]
        try:
            o_kind, o_val, o_lang, o_dt = _nt_term(m.group(3))
        except ValueError as e:
            raise ValueError(f"line {lineno}: {e}") from None
        triples.append((subj, pred, o_kind, o_val, o_lang, o_dt))
    return triples


# --------------------------------------------------------------------------
# Turtle (subset: prefixes, pnames, literals, a, ;/,, bnode labels,
# anonymous bnode property lists, collections, numeric/boolean shorthand)
# --------------------------------------------------------------------------

_TOKEN = re.compile(
    r"""
      (?P<ws>\s+)
    | (?P<comment>\#[^\n]*)
    | (?P<iri><[^<>"{}|^`\\\s]*>)
    | (?P<str_long3>\"\"\"(?:[^"\\]|\\.|\"(?!\"\"))*\"\"\")
    | (?P<str_long1>'''(?:[^'\\]|\\.|'(?!''))*''')
    | (?P<str_d>"(?:[^"\\\n]|\\.)*")
    | (?P<str_s>'(?:[^'\\\n]|\\.)*')
    | (?P<bnode>_:[A-Za-z0-9_][A-Za-z0-9_.-]*)
    | (?P<langtag>@[A-Za-z][A-Za-z0-9-]*)
    | (?P<dtsep>\^\^)
    | (?P<num>[+-]?(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
    | (?P<punct>[;,.\[\](){}])
    | (?P<pname>[A-Za-z0-9_][\w.-]*?:[\w.%-]*|:[\w.%-]*|[A-Za-z0-9_][\w.-]*:)
    | (?P<kw>@?[A-Za-z][A-Za-z0-9_-]*)
    """,
    re.VERBOSE,
)


def _tokenize_turtle(content: str):
    tokens = []
    pos, n = 0, len(content)
    while pos < n:
        m = _TOKEN.match(content, pos)
        if not m:
            raise ValueError(f"unexpected character at offset {pos}: {content[pos:pos+20]!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind in ("ws", "comment"):
            continue
        val = m.group()
        if kind == "langtag" and val in ("@prefix", "@base"):
            kind = "kw"  # directive keywords, not language tags
        tokens.append((kind, val))
    return tokens


class _TurtleParser:
    def __init__(self, tokens):
        self.toks = tokens
        self.i = 0
        self.prefixes: dict[str, str] = {}
        self.base = ""
        self.triples: list[Triple] = []
        self.genid = 0

    def peek(self):
        return self.toks[self.i] if self.i < len(self.toks) else (None, None)

    def next(self):
        t = self.peek()
        if t[0] is None:
            raise ValueError("unexpected end of input")
        self.i += 1
        return t

    def expect(self, val):
        k, v = self.next()
        if v != val:
            raise ValueError(f"expected {val!r}, got {v!r}")

    def fresh_bnode(self) -> str:
        self.genid += 1
        return f"_:genid{self.genid}"

    def expand_pname(self, pname: str) -> str:
        pref, _, local = pname.partition(":")
        if pref not in self.prefixes:
            raise ValueError(f"undefined prefix {pref!r}:")
        # minimal PN_LOCAL %-decode is not needed for our corpus
        return self.prefixes[pref] + local

    def parse(self):
        while self.peek()[0] is not None:
            k, v = self.peek()
            if k == "kw" and v.lower() in ("@prefix", "prefix"):
                self.next()
                _, pname = self.next()
                if not pname.endswith(":"):
                    raise ValueError(f"bad prefix declaration: {pname!r}")
                _, iri = self.next()
                if not (iri.startswith("<") and iri.endswith(">")):
                    raise ValueError("prefix IRI must be <...>")
                self.prefixes[pname[:-1]] = self.resolve_iri(iri[1:-1])
                if v == "@prefix":
                    self.expect(".")
                continue
            if k == "kw" and v.lower() in ("@base", "base"):
                self.next()
                _, iri = self.next()
                self.base = iri[1:-1]
                if v == "@base":
                    self.expect(".")
                continue
            # TriG graph blocks: `{ … }`, `GRAPH <g> { … }`, `<g> { … }` —
            # graph labels are parsed then DROPPED (merged-model semantics,
            # matching the reference's dataset→model flattening for the
            # TriG/N-Quads formats, RdfFormat.scala:18-29)
            if k == "punct" and v == "{":
                self.parse_graph_block()
                continue
            if k == "kw" and v.upper() == "GRAPH":
                self.next()
                self.parse_subject()  # the graph label
                self.parse_graph_block()
                continue
            if k in ("iri", "pname", "bnode") and self.peek2()[1] == "{":
                self.parse_subject()  # the graph label
                self.parse_graph_block()
                continue
            self.parse_statement()
        return self.triples

    def peek2(self):
        return self.toks[self.i + 1] if self.i + 1 < len(self.toks) else (None, None)

    def parse_graph_block(self):
        self.expect("{")
        while self.peek()[1] != "}":
            if self.peek()[0] is None:
                raise ValueError("unterminated graph block")
            subj = self.parse_subject()
            self.parse_predicate_object_list(subj)
            if self.peek()[1] == ".":  # separator; optional before '}'
                self.next()
        self.expect("}")
        if self.peek()[1] == ".":  # optional trailing dot
            self.next()

    def parse_statement(self):
        subj = self.parse_subject()
        self.parse_predicate_object_list(subj)
        self.expect(".")

    def parse_subject(self) -> str:
        k, v = self.next()
        if k == "iri":
            return self.resolve_iri(v[1:-1])
        if k == "pname":
            return self.expand_pname(v)
        if k == "bnode":
            return v
        if k == "punct" and v == "[":
            b = self.fresh_bnode()
            if self.peek()[1] != "]":
                self.parse_predicate_object_list(b)
            self.expect("]")
            return b
        if k == "punct" and v == "(":
            self.i -= 1
            return self.parse_collection()
        raise ValueError(f"bad subject token: {v!r}")

    def resolve_iri(self, iri: str) -> str:
        if self.base and not re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:", iri):
            return self.base + iri
        return iri

    def parse_predicate_object_list(self, subj: str):
        while True:
            pred = self.parse_predicate()
            self.parse_object_list(subj, pred)
            k, v = self.peek()
            if v == ";":
                self.next()
                # trailing ';' before '.' or ']' is legal
                if self.peek()[1] in (".", "]"):
                    return
                continue
            return

    def parse_predicate(self) -> str:
        k, v = self.next()
        if k == "kw" and v == "a":
            return RDF_TYPE
        if k == "iri":
            return self.resolve_iri(v[1:-1])
        if k == "pname":
            return self.expand_pname(v)
        raise ValueError(f"bad predicate token: {v!r}")

    def parse_object_list(self, subj: str, pred: str):
        while True:
            kind, val, lang, dt = self.parse_object()
            self.triples.append((subj, pred, kind, val, lang, dt))
            if self.peek()[1] == ",":
                self.next()
                continue
            return

    def parse_collection(self) -> str:
        self.expect("(")
        items = []
        while self.peek()[1] != ")":
            items.append(self.parse_object())
        self.expect(")")
        if not items:
            return RDF_NIL
        head = self.fresh_bnode()
        cur = head
        for idx, (kind, val, lang, dt) in enumerate(items):
            self.triples.append((cur, RDF_FIRST, kind, val, lang, dt))
            if idx + 1 < len(items):
                nxt = self.fresh_bnode()
                self.triples.append((cur, RDF_REST, "bnode", nxt, None, None))
                cur = nxt
            else:
                self.triples.append((cur, RDF_REST, "iri", RDF_NIL, None, None))
        return head

    def parse_object(self):
        k, v = self.next()
        if k == "iri":
            return ("iri", self.resolve_iri(v[1:-1]), None, None)
        if k == "pname":
            return ("iri", self.expand_pname(v), None, None)
        if k == "bnode":
            return ("bnode", v, None, None)
        if k == "punct" and v == "[":
            b = self.fresh_bnode()
            if self.peek()[1] != "]":
                self.parse_predicate_object_list(b)
            self.expect("]")
            return ("bnode", b, None, None)
        if k == "punct" and v == "(":
            self.i -= 1
            head = self.parse_collection()
            kind = "iri" if head == RDF_NIL else "bnode"
            return (kind, head, None, None)
        if k == "num":
            if "e" in v.lower():
                return ("literal", v, None, XSD + "double")
            if "." in v:
                return ("literal", v, None, XSD + "decimal")
            return ("literal", v, None, XSD + "integer")
        if k == "kw" and v in ("true", "false"):
            return ("literal", v, None, XSD + "boolean")
        if k in ("str_d", "str_s", "str_long3", "str_long1"):
            if k == "str_long3" or k == "str_long1":
                lex = unescape(v[3:-3])
            else:
                lex = unescape(v[1:-1])
            nk, nv = self.peek()
            if nk == "langtag":
                self.next()
                return ("literal", lex, nv[1:].lower(), None)
            if nk == "dtsep":
                self.next()
                dk, dv = self.next()
                if dk == "iri":
                    return ("literal", lex, None, self.resolve_iri(dv[1:-1]))
                if dk == "pname":
                    return ("literal", lex, None, self.expand_pname(dv))
                raise ValueError(f"bad datatype token: {dv!r}")
            return ("literal", lex, None, None)
        raise ValueError(f"bad object token: {v!r}")


def parse_turtle(content: str) -> list[Triple]:
    """Parse a Turtle document (subset per module docstring)."""
    p = _TurtleParser(_tokenize_turtle(content))
    return p.parse()


def turtle_prefixes(content: str) -> dict[str, str]:
    """Extract the prefix map only (SURVEY §2.3 P8 — getPrefixMap,
    MergedModels.scala:31-39)."""
    p = _TurtleParser(_tokenize_turtle(content))
    try:
        p.parse()
    except ValueError:
        pass  # prefixes seen before the error are still useful
    return p.prefixes


# --------------------------------------------------------------------------
# JSON-LD (subset: @context prefix/term maps + @vocab, @id, @type, @value /
# @language / @type value objects, nested node objects, arrays, @graph)
# --------------------------------------------------------------------------

_ABS_IRI = re.compile(r"^[A-Za-z][A-Za-z0-9+.-]*:")


class _JsonLdParser:
    def __init__(self):
        self.triples: list[Triple] = []
        self.genid = 0

    def fresh_bnode(self) -> str:
        self.genid += 1
        return f"_:genid{self.genid}"

    def expand(self, key: str, ctx: dict, _seen: frozenset = frozenset()) -> str | None:
        if key.startswith("@") or key in _seen:
            return None
        seen = _seen | {key}
        if key in ctx and isinstance(ctx[key], str):
            # term definition values are themselves IRI-expanded: a CURIE
            # like "ex:name" resolves through the prefix map FIRST — the
            # absolute-IRI shortcut would mistake "ex" for a URI scheme
            v = ctx[key]
            ex = self.expand(v, ctx, seen) if v != key else None
            if ex is not None:
                return ex
            return v if _ABS_IRI.match(v) else None
        if key in ctx and isinstance(ctx[key], dict) and "@id" in ctx[key]:
            return self.expand(ctx[key]["@id"], ctx, seen)
        if ":" in key:
            pref, _, local = key.partition(":")
            if pref in ctx and isinstance(ctx[pref], str):
                return ctx[pref] + local
            if _ABS_IRI.match(key):
                return key
        if "@vocab" in ctx:
            return ctx["@vocab"] + key
        return None

    def resolve_iri(self, ref: str, ctx: dict) -> str:
        """Expand ``ref`` via the context; a still-relative IRI resolves
        against ``@base`` (RFC 3986 merge) when one is in scope."""
        ex = self.expand(ref, ctx)
        if ex is not None:
            return ex
        if _ABS_IRI.match(ref):
            return ref
        base = ctx.get("@base")
        if isinstance(base, str) and base:
            from urllib.parse import urljoin

            return urljoin(base, ref)
        return ref

    def node_id(self, node: dict, ctx: dict) -> str:
        nid = node.get("@id")
        if nid is None:
            return self.fresh_bnode()
        if nid.startswith("_:"):
            return nid
        return self.resolve_iri(nid, ctx)

    def _term_def(self, key: str, ctx: dict) -> dict:
        td = ctx.get(key)
        return td if isinstance(td, dict) else {}

    def parse_node(self, node: dict, ctx: dict) -> str:
        local_ctx = dict(ctx)
        if "@context" in node:
            local_ctx.update(_context_dict(node["@context"]))
        subj = self.node_id(node, local_ctx)
        s_kind_val = subj
        for key, val in node.items():
            if key in ("@context", "@id"):
                continue
            if key == "@type":
                types = val if isinstance(val, list) else [val]
                for t in types:
                    tiri = self.expand(t, local_ctx) or t
                    self.triples.append((s_kind_val, RDF_TYPE, "iri", tiri, None, None))
                continue
            if key == "@graph":
                nodes = val if isinstance(val, list) else [val]
                for n in nodes:
                    self.parse_node(n, local_ctx)
                continue
            if key == "@reverse":
                # @reverse map: { pred: node(s) } with subject/object swapped
                for rkey, rval in val.items():
                    rpred = self.expand(rkey, local_ctx)
                    if rpred is None:
                        raise ValueError(f"cannot expand JSON-LD key {rkey!r}")
                    rnodes = rval if isinstance(rval, list) else [rval]
                    for rn in rnodes:
                        if isinstance(rn, dict):
                            child = (
                                self.node_id(rn, local_ctx)
                                if set(rn.keys()) <= {"@id"}
                                else self.parse_node(rn, local_ctx)
                            )
                        else:
                            child = self.resolve_iri(str(rn), local_ctx)
                        s_kind = "bnode" if s_kind_val.startswith("_:") else "iri"
                        self.triples.append((child, rpred, s_kind, s_kind_val, None, None))
                continue
            pred = self.expand(key, local_ctx)
            if pred is None:
                raise ValueError(f"cannot expand JSON-LD key {key!r}")
            td = self._term_def(key, local_ctx)
            if td.get("@container") == "@list" and isinstance(val, list):
                # list coercion: a plain array under an @container:@list
                # term IS the collection
                self.emit_value(s_kind_val, pred, {"@list": val}, local_ctx, td)
                continue
            values = val if isinstance(val, list) else [val]
            for v in values:
                self.emit_value(s_kind_val, pred, v, local_ctx, td)
        return s_kind_val

    def emit_value(self, subj: str, pred: str, v, ctx: dict, td: dict | None = None):
        td = td or {}
        if isinstance(v, str):
            coerce = td.get("@type")
            if coerce == "@id":
                # term-level @type:@id coercion: the string IS an IRI ref
                iri = self.resolve_iri(v, ctx)
                kind = "bnode" if iri.startswith("_:") else "iri"
                self.triples.append((subj, pred, kind, iri, None, None))
                return
            if isinstance(coerce, str):
                dt = self.expand(coerce, ctx) or coerce
                self.triples.append((subj, pred, "literal", v, None, dt))
                return
            # default language: term-level @language overrides the context
            # default; an explicit null cancels it (JSON-LD 1.1 §4.2.2)
            lang = td["@language"] if "@language" in td else ctx.get("@language")
            if isinstance(lang, str):
                self.triples.append((subj, pred, "literal", v, lang.lower(), None))
                return
            self.triples.append((subj, pred, "literal", v, None, None))
            return
        if isinstance(v, dict):
            if "@list" in v:
                # RDF collection: first/rest chain of fresh bnodes,
                # empty list → rdf:nil
                items = v["@list"]
                items = items if isinstance(items, list) else [items]
                if not items:
                    self.triples.append((subj, pred, "iri", RDF_NIL, None, None))
                    return
                head = self.fresh_bnode()
                self.triples.append((subj, pred, "bnode", head, None, None))
                cur = head
                for i, item in enumerate(items):
                    self.emit_value(cur, RDF_FIRST, item, ctx)
                    if i == len(items) - 1:
                        self.triples.append((cur, RDF_REST, "iri", RDF_NIL, None, None))
                    else:
                        nxt = self.fresh_bnode()
                        self.triples.append((cur, RDF_REST, "bnode", nxt, None, None))
                        cur = nxt
                return
            if "@value" in v:
                lex = v["@value"]
                if isinstance(lex, bool):
                    lex_s, dt = ("true" if lex else "false"), XSD + "boolean"
                elif isinstance(lex, int):
                    lex_s, dt = str(lex), XSD + "integer"
                elif isinstance(lex, float):
                    lex_s, dt = repr(lex), XSD + "double"
                else:
                    lex_s, dt = str(lex), None
                lang = v.get("@language")
                if lang and ("@type" in v or not isinstance(lex, str)):
                    # JSON-LD 1.1 expansion error: only a string @value
                    # may carry a language, and never together with @type
                    raise ValueError(f"invalid language-tagged value: {v!r}")
                if "@type" in v:
                    dt = self.expand(v["@type"], ctx) or v["@type"]
                self.triples.append(
                    (subj, pred, "literal", lex_s, lang.lower() if lang else None, dt)
                )
                return
            if set(v.keys()) <= {"@id"} and "@id" in v:
                ref = v["@id"]
                if ref.startswith("_:"):
                    self.triples.append((subj, pred, "bnode", ref, None, None))
                else:
                    self.triples.append(
                        (subj, pred, "iri", self.resolve_iri(ref, ctx), None, None)
                    )
                return
            # nested node object
            child = self.parse_node(v, ctx)
            kind = "bnode" if child.startswith("_:") else "iri"
            self.triples.append((subj, pred, kind, child, None, None))
            return
        if isinstance(v, bool):
            self.triples.append(
                (subj, pred, "literal", "true" if v else "false", None, XSD + "boolean")
            )
        elif isinstance(v, int):
            self.triples.append((subj, pred, "literal", str(v), None, XSD + "integer"))
        elif isinstance(v, float):
            self.triples.append((subj, pred, "literal", repr(v), None, XSD + "double"))
        else:
            self.triples.append((subj, pred, "literal", str(v), None, None))


def _context_dict(raw) -> dict:
    """Normalize a @context value: dict, or array of dicts (merged left to
    right).  Remote contexts (URL strings) are REJECTED with a clear error
    — no network access in the extraction kernel (honesty rule, SURVEY
    §7.3); the reference resolves them via Jena (RdfFormat.scala:18-29)."""
    if raw is None:
        return {}
    if isinstance(raw, dict):
        return raw
    if isinstance(raw, str):
        raise ValueError(
            f"remote @context {raw!r} not supported (no network in the "
            "extraction kernel; inline the context)"
        )
    if isinstance(raw, list):
        out: dict = {}
        for part in raw:
            out.update(_context_dict(part))
        return out
    raise ValueError(f"unsupported @context value {type(raw).__name__}")


def parse_jsonld(content: str) -> list[Triple]:
    """Parse a JSON-LD document (subset per module docstring)."""
    doc = json.loads(content)
    p = _JsonLdParser()
    ctx: dict = {}
    if isinstance(doc, dict):
        if "@context" in doc:
            ctx = _context_dict(doc["@context"])
        if "@graph" in doc:
            nodes = doc["@graph"]
            nodes = nodes if isinstance(nodes, list) else [nodes]
            for n in nodes:
                p.parse_node(n, ctx)
        else:
            p.parse_node(doc, ctx)
    elif isinstance(doc, list):
        for n in doc:
            p.parse_node(n, ctx)
    else:
        raise ValueError("JSON-LD document must be an object or array")
    return p.triples


# --------------------------------------------------------------------------
# dispatch
# --------------------------------------------------------------------------

def parse_nquads(content: str) -> list[Triple]:
    """N-Quads: N-Triples with an optional graph label, which is DROPPED
    (merged-model semantics — the reference flattens the dataset into one
    model for the request, RdfFormat.scala:18-29).  A line is tried as a
    triple first; on failure the trailing graph term is peeled and the rest
    re-tried, so IRIs-as-objects never get mistaken for graph labels."""
    triples: list[Triple] = []
    quad_tail = re.compile(r"^(.*?)\s+(<[^>]*>|_:[^\s]+)\s*\.\s*$")

    def try_triple(line: str) -> Triple | None:
        m = _NT_LINE.match(line)
        if m is None:
            return None
        try:
            _, s_val, _, _ = _nt_term(m.group(1))
            o_kind, o_val, o_lang, o_dt = _nt_term(m.group(3))
        except ValueError:
            return None
        return (s_val, m.group(2)[1:-1], o_kind, o_val, o_lang, o_dt)

    for lineno, line in enumerate(content.split("\n"), 1):
        line = line.strip()
        if not line or line.startswith("#"):
            continue
        t = try_triple(line)
        if t is None:
            qm = quad_tail.match(line)
            t = try_triple(qm.group(1) + " .") if qm else None
            if t is None:
                raise ValueError(f"line {lineno}: malformed N-Quads statement")
        triples.append(t)
    return triples


def parse_rdfjson(content: str) -> list[Triple]:
    """RDF/JSON (the Talis shape the reference's RdfFormat list includes):
    ``{subj: {pred: [{type: uri|literal|bnode, value, lang?, datatype?}]}}``."""
    doc = json.loads(content)
    if not isinstance(doc, dict):
        raise ValueError("RDF/JSON document must be an object")
    triples: list[Triple] = []
    for subj, preds in doc.items():
        if not isinstance(preds, dict):
            raise ValueError(f"RDF/JSON subject {subj!r} must map to an object")
        for pred, objs in preds.items():
            for o in objs:
                t = o.get("type")
                v = o.get("value")
                if t == "uri":
                    triples.append((subj, pred, "iri", v, None, None))
                elif t == "bnode":
                    triples.append((subj, pred, "bnode", v, None, None))
                elif t == "literal":
                    lang = o.get("lang")
                    if lang and o.get("datatype"):
                        raise ValueError(
                            f"RDF/JSON literal has both lang and datatype: {o!r}"
                        )
                    triples.append(
                        (subj, pred, "literal", v,
                         lang.lower() if lang else None, o.get("datatype"))
                    )
                else:
                    raise ValueError(f"RDF/JSON object type {t!r} unknown")
    return triples


_RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
_XML_NS = "http://www.w3.org/XML/1998/namespace"


def parse_rdfxml(content: str) -> list[Triple]:
    """RDF/XML subset: the striped-syntax profile that covers typical
    serializer output — ``rdf:Description``/typed node elements with
    ``rdf:about``/``rdf:ID``/``rdf:nodeID``/anonymous, property elements
    with ``rdf:resource``/``rdf:nodeID``/``rdf:datatype``/``xml:lang``,
    nested node elements, ``rdf:parseType`` Resource/Collection/Literal,
    containers via ``rdf:li`` → ``rdf:_n`` numbering, property-element
    ``rdf:ID`` reification, and ``xml:base`` resolution (document-level
    and element-scoped; ``rdf:ID`` → base + ``#id``, relative
    ``rdf:about``/``rdf:resource`` resolved per RDF/XML §5.1.4)."""
    import xml.etree.ElementTree as ET
    from urllib.parse import urljoin

    root = ET.fromstring(content)
    triples: list[Triple] = []
    genid = [0]

    def fresh() -> str:
        genid[0] += 1
        return f"_:xg{genid[0]}"

    def expand(tag: str) -> str:
        # ElementTree gives '{ns}local'
        if tag.startswith("{"):
            ns, local = tag[1:].split("}", 1)
            return ns + local
        return tag

    def resolve(iri: str, base: str | None) -> str:
        if base is None or _ABS_IRI.match(iri):
            return iri
        return urljoin(base, iri)

    def node_id(el, base: str | None) -> str:
        about = el.get(f"{{{_RDF_NS}}}about")
        if about is not None:
            return resolve(about, base)
        rid = el.get(f"{{{_RDF_NS}}}ID")
        if rid is not None:
            # rdf:ID names a fragment of the in-scope base document
            doc = (base or "").split("#", 1)[0]
            return f"{doc}#{rid}"
        nid = el.get(f"{{{_RDF_NS}}}nodeID")
        if nid is not None:
            return f"_:{nid}"
        return fresh()

    def walk_node(el, base: str | None) -> str:
        base = el.get(f"{{{_XML_NS}}}base", base)
        subj = node_id(el, base)
        tag_iri = expand(el.tag)
        if tag_iri != _RDF_NS + "Description":
            triples.append((subj, _RDF_NS + "type", "iri", tag_iri, None, None))
        # attribute-as-property shorthand
        for k, v in el.attrib.items():
            k_iri = expand(k)
            if k_iri.startswith(_RDF_NS) or k_iri.startswith(_XML_NS):
                continue
            triples.append((subj, k_iri, "literal", v, None, None))
        li_n = 0
        for prop in el:
            pbase = prop.get(f"{{{_XML_NS}}}base", base)
            pred = expand(prop.tag)
            if pred == _RDF_NS + "li":
                # container membership shorthand: rdf:li → rdf:_1, rdf:_2 …
                # numbered per parent element (RDF/XML §7.4)
                li_n += 1
                pred = f"{_RDF_NS}_{li_n}"
            res = prop.get(f"{{{_RDF_NS}}}resource")
            nid = prop.get(f"{{{_RDF_NS}}}nodeID")
            dt = prop.get(f"{{{_RDF_NS}}}datatype")
            lang = prop.get(f"{{{_XML_NS}}}lang")
            ptype = prop.get(f"{{{_RDF_NS}}}parseType")
            children = list(prop)
            # each branch determines the statement's object term; the main
            # triple (and optional reification quad) is appended after —
            # triple order in the output list carries no meaning
            if res is not None:
                obj_term = ("iri", resolve(res, pbase), None, None)
            elif nid is not None:
                obj_term = ("bnode", f"_:{nid}", None, None)
            elif ptype == "Resource":
                b = fresh()
                for sub in children:
                    # properties directly under the parseType=Resource blank node
                    sp = expand(sub.tag)
                    sres = sub.get(f"{{{_RDF_NS}}}resource")
                    if sres is not None:
                        triples.append((b, sp, "iri", resolve(sres, pbase), None, None))
                    else:
                        triples.append(
                            (b, sp, "literal", sub.text or "",
                             None, sub.get(f"{{{_RDF_NS}}}datatype"))
                        )
                obj_term = ("bnode", b, None, None)
            elif ptype == "Collection":
                # children are node elements forming an RDF list (§7.2.19)
                if not children:
                    obj_term = ("iri", _RDF_NS + "nil", None, None)
                else:
                    head = fresh()
                    cur = head
                    for i, sub in enumerate(children):
                        item = walk_node(sub, pbase)
                        ikind = "bnode" if item.startswith("_:") else "iri"
                        triples.append((cur, _RDF_NS + "first", ikind, item, None, None))
                        if i == len(children) - 1:
                            triples.append(
                                (cur, _RDF_NS + "rest", "iri", _RDF_NS + "nil", None, None)
                            )
                        else:
                            nxt = fresh()
                            triples.append((cur, _RDF_NS + "rest", "bnode", nxt, None, None))
                            cur = nxt
                    obj_term = ("bnode", head, None, None)
            elif ptype == "Literal":
                # XML literal: the element's inner XML, verbatim (§7.2.17)
                import xml.etree.ElementTree as _ET

                inner = (prop.text or "") + "".join(
                    _ET.tostring(c, encoding="unicode") for c in children
                )
                obj_term = ("literal", inner, None, _RDF_NS + "XMLLiteral")
            elif children:
                child = children[0]
                obj = walk_node(child, pbase)
                kind = "bnode" if obj.startswith("_:") else "iri"
                obj_term = (kind, obj, None, None)
            else:
                # rdf:datatype overrides xml:lang (RDF/XML §7.2.16)
                obj_term = (
                    "literal", prop.text or "",
                    lang.lower() if lang and dt is None else None, dt,
                )
            triples.append((subj, pred, *obj_term))
            rid = prop.get(f"{{{_RDF_NS}}}ID")
            if rid is not None:
                # property-element rdf:ID reifies the statement (§7.3)
                stmt = f"{(pbase or '').split('#', 1)[0]}#{rid}"
                s_kind = "bnode" if subj.startswith("_:") else "iri"
                triples.extend([
                    (stmt, _RDF_NS + "type", "iri", _RDF_NS + "Statement", None, None),
                    (stmt, _RDF_NS + "subject", s_kind, subj, None, None),
                    (stmt, _RDF_NS + "predicate", "iri", pred, None, None),
                    (stmt, _RDF_NS + "object", *obj_term),
                ])
        return subj

    doc_base = root.get(f"{{{_XML_NS}}}base")
    if expand(root.tag) == _RDF_NS + "RDF":
        for el in root:
            walk_node(el, doc_base)
    else:
        walk_node(root, doc_base)
    return triples


def parse_html(content: str, flavor: str = "rdfa11") -> list[Triple]:
    """HTML→RDF extraction (SURVEY §2.1 S2 — RDFa 1.1/Microdata; reference
    delegates to Any23, ``HtmlToRdf.extractFromString``
    ``.../html2rdf/HtmlToRdf.scala:50-122``; formats ``HtmlFormat.scala:
    17-31``).  Pure-Python subset extractor in ``sources/html2rdf.py``
    running in the same Arrow batch stage as the other non-columnar
    formats."""
    from rdfshape_api_spark.sources.html2rdf import extract_microdata, extract_rdfa

    if flavor == "rdfa11":
        return extract_rdfa(content)
    if flavor == "microdata":
        return extract_microdata(content)
    raise ValueError(f"unknown HTML flavor {flavor!r} (rdfa11 | microdata)")


PARSERS = {
    "ntriples": parse_ntriples,
    "nt": parse_ntriples,
    "n-triples": parse_ntriples,
    "nquads": parse_nquads,
    "nq": parse_nquads,
    "n-quads": parse_nquads,
    "turtle": parse_turtle,
    "ttl": parse_turtle,
    "trig": parse_turtle,  # TriG = Turtle + graph blocks (handled in-parser)
    "jsonld": parse_jsonld,
    "json-ld": parse_jsonld,
    "rdfjson": parse_rdfjson,
    "rdf-json": parse_rdfjson,
    "rdfxml": parse_rdfxml,
    "rdf-xml": parse_rdfxml,
    "rdf/xml": parse_rdfxml,
    "html-rdfa11": lambda c: parse_html(c, "rdfa11"),
    "html-microdata": lambda c: parse_html(c, "microdata"),
}


def parse_document(content: str, lang: str) -> tuple[list[Triple], str | None]:
    """Parse one document; returns (triples, error). Never raises on bad
    content — the error is returned so Spark can keep a per-row channel."""
    parser = PARSERS.get((lang or "").lower())
    if parser is None:
        return [], f"unsupported format: {lang!r}"
    try:
        return parser(content), None
    except Exception as e:  # noqa: BLE001 — error channel by design
        return [], f"{type(e).__name__}: {e}"
