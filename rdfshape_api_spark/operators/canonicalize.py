"""Canonicalization: skolemization, IRI/literal normalization, dedup, store.

Reference origin (SURVEY §1.2, §2.5 J5): blank-node identity is
per-document (``AnonId.create(b.getID)``, ``HtmlToRdf.scala:176-177``), and
merged models unify identical IRIs across documents
(``MergedModels.scala:182-191``).  At 10^12 files both need deterministic,
distributed-friendly rules:

* **Skolemization** — ``urn:skolem:<sha256(doc_sha256 ':' label)[:32]>``:
  pure column expression, stable across runs/partitions, collision-safe
  across documents even when labels collide (fixtures deliberately collide
  them).
* **Literal normalization** — documented, applied exactly once (SURVEY §7.3
  flags lexical-form drift as the main P/R risk): lang tags lowercased
  (done at parse), canonical ``xsd:decimal``/``xsd:integer`` forms (strip
  leading '+', strip trailing fraction zeros, drop trailing '.', "-0"→"0").
* **Dedup** — exact duplicate elimination of canonical triples. The hot-key
  risk (popular objects like ``ex:hub``, ``rdf:type``) is absorbed by
  Spark's two-phase distinct: map-side partial aggregation collapses
  duplicates before the shuffle, so the skewed key never reaches one
  reducer in full. AQE skew handling stays on as the backstop.
* **Canonical store** — parquet partitioned by predicate (north rule) with
  a ``bucket = pmod(xxhash64(subj), k)`` sub-key so hot predicates
  (``rdf:type``) split into k files instead of one giant partition
  (SURVEY §7.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdfshape_api_spark.model import (
    KIND_BNODE,
    SKOLEM_PREFIX,
    TRIPLE_COLUMNS,
    XSD_DECIMAL,
    XSD_INTEGER,
)

TRIPLE_KEY = ["subj", "pred", "obj_kind", "obj_value", "obj_lang", "obj_datatype"]


def _skolem(doc_sha, label):
    return F.concat(
        F.lit(SKOLEM_PREFIX), F.substring(F.sha2(F.concat_ws(":", doc_sha, label), 256), 1, 32)
    )


def skolemize(df: DataFrame) -> DataFrame:
    """Replace per-document blank-node labels with deterministic skolem IRIs.

    ``obj_kind`` stays 'bnode' so node-kind constraints (ShEx BNODE /
    SHACL sh:nodeKind) still see the original kind.
    """
    is_bnode_subj = F.col("subj").startswith("_:")
    return df.withColumn(
        "subj",
        F.when(is_bnode_subj, _skolem(F.col("doc_sha256"), F.col("subj"))).otherwise(
            F.col("subj")
        ),
    ).withColumn(
        "obj_value",
        F.when(
            F.col("obj_kind") == KIND_BNODE,
            _skolem(F.col("doc_sha256"), F.col("obj_value")),
        ).otherwise(F.col("obj_value")),
    )


def normalize_literals(df: DataFrame) -> DataFrame:
    """Canonical lexical forms for numeric literals (documented rules above).

    Non-numeric literals and IRIs pass through untouched — normalization
    happens exactly once, here, per SURVEY §7.3.
    """
    v = F.col("obj_value")
    is_num = F.col("obj_datatype").isin(XSD_DECIMAL, XSD_INTEGER) & v.rlike(
        r"^[+-]?\d+(\.\d*)?$"
    )
    canon = F.regexp_replace(v, r"^\+", "")  # +5 → 5
    canon = F.regexp_replace(canon, r"^(-?)0+(\d)", r"$1$2")  # 007 → 7
    canon = F.when(
        canon.contains("."),
        F.regexp_replace(F.regexp_replace(canon, r"0+$", ""), r"\.$", ""),
    ).otherwise(canon)  # 18.50 → 18.5, 18.0 → 18
    canon = F.when(canon.isin("-0", ""), F.lit("0")).otherwise(canon)
    return df.withColumn("obj_value", F.when(is_num, canon).otherwise(v))


def canonicalize(df: DataFrame) -> DataFrame:
    """skolemize → normalize literals (the once-only canonical form)."""
    return normalize_literals(skolemize(df))


def dedup_triples(df: DataFrame, scope_doc: bool = False) -> DataFrame:
    """Distinct canonical triples (graph-merge semantics,
    MergedModels.scala:182-191: union of models unifies identical triples).

    ``scope_doc=True`` keeps per-document multiplicity (one graph per doc).
    Spark's partial aggregation + AQE already make plain ``distinct``
    two-phase; explicit salting (:func:`entity_degree`) is only for the
    agg-by-entity cases where the grouping key alone is skewed.
    """
    key = (["doc_sha256"] if scope_doc else []) + TRIPLE_KEY
    return df.dropDuplicates(key)


def entity_degree(df: DataFrame, salt_buckets: int = 32) -> DataFrame:
    """Per-entity mention count — the skewed aggregation of SURVEY §2.5 J5
    (popular entities like ``ex:hub``).  Two-phase salted sum: partial
    count on (entity, salt), final sum on entity. Returns
    ``(entity, degree)``.
    """
    subj = df.select(F.col("subj").alias("entity"))
    obj = df.filter(F.col("obj_kind") != "literal").select(
        F.col("obj_value").alias("entity")
    )
    mentions = subj.unionAll(obj)
    salted = mentions.withColumn(
        "_salt", F.pmod(F.xxhash64("entity"), F.lit(salt_buckets))
    )
    partial = salted.groupBy("entity", "_salt").agg(F.count("*").alias("_c"))
    return partial.groupBy("entity").agg(F.sum("_c").alias("degree"))


OWL_SAMEAS = "http://www.w3.org/2002/07/owl#sameAs"


def link_entities(
    triples: DataFrame,
    edges: DataFrame | None = None,
    drop_identity_triples: bool = True,
    max_iters: int = 25,
) -> DataFrame:
    """Entity linking (north-star: "entity linking plus IRI
    canonicalization"): resolve identity edges to connected components
    and rewrite every subject/IRI-object to its component's canonical
    (lexicographic-min) representative.

    ``edges`` defaults to the triple set's own ``owl:sameAs`` statements;
    pass any ``(a, b)`` DataFrame to link on other evidence (e.g. a
    blocking/dedup candidate-pair set).  Identity is global — IRIs are
    document-independent, so the rewrite applies across documents.

    100 TB design: components via distributed min-label propagation
    (``functions.dedup.connected_components`` — one key join + one
    map-side-combined min-agg per round, O(component diameter) rounds;
    sameAs clusters are near-cliques so 2-3 rounds), then two left joins
    of the triple set against the (entity → canon) mapping, both on the
    join key Catalyst already shuffles for the store layout.  No
    driver-side state, no collect.
    """
    from rdfshape_api_spark.functions.dedup import connected_components

    if edges is None:
        ident = (F.col("pred") == OWL_SAMEAS) & (F.col("obj_kind") != "literal")
        edges = triples.filter(ident).select(
            F.col("subj").alias("a"), F.col("obj_value").alias("b")
        )
        if drop_identity_triples:
            triples = triples.filter(~ident)
        comp = connected_components(edges, max_iters=max_iters, a="a", b="b")
    else:
        cols = edges.columns
        comp = connected_components(
            edges, max_iters=max_iters, a=cols[0], b=cols[1]
        )
    mapping = comp.filter(F.col("doc_id") != F.col("component"))
    smap = mapping.select(
        F.col("doc_id").alias("subj"), F.col("component").alias("_canon_s")
    )
    omap = mapping.select(
        F.col("doc_id").alias("obj_value"), F.col("component").alias("_canon_o")
    )
    out = (
        triples.join(smap, on="subj", how="left")
        .join(omap, on="obj_value", how="left")
        .select(
            *[
                c
                for c in triples.columns
                if c not in ("subj", "obj_value")
            ],
            F.coalesce(F.col("_canon_s"), F.col("subj")).alias("subj"),
            F.when(
                F.col("obj_kind") != "literal",
                F.coalesce(F.col("_canon_o"), F.col("obj_value")),
            )
            .otherwise(F.col("obj_value"))
            .alias("obj_value"),
        )
    )
    return out.select(*triples.columns)


def propose_identity_edges(
    triples: DataFrame, key_preds: list[str], max_group: int = 1000
) -> DataFrame:
    """Entity-resolution candidate generation, rule-based: entities
    sharing a value of a strong identifier predicate (email, phone, ISBN,
    ORCID, …) are proposed as identity edges — the standard record-linkage
    blocking rule, and the edge supply for :func:`link_entities` when the
    data carries no explicit ``owl:sameAs``.

    Scale design: one distinct + one groupBy per identifying value —
    each value group is contracted to a STAR around its min entity
    (O(group) edges, never the O(group²) pair enumeration), the same
    clique-contraction argument as ``lsh_duplicate_clusters``.
    ``max_group`` drops degenerate hot values (empty strings, placeholder
    emails like ``n/a@example.com`` pair everyone — the ER analog of the
    LSH ``max_bucket`` guard).

    Returns ``(a, b, evidence_pred)`` with ``a`` = group-min entity,
    ``a != b``; feed ``edges=result.select("a", "b")`` to
    :func:`link_entities` for the canonical rewrite.
    """
    keyed = (
        triples.filter(
            F.col("pred").isin(list(key_preds)) & (F.col("obj_kind") == "literal")
        )
        .select("pred", F.col("obj_value").alias("val"), F.col("subj").alias("entity"))
        .distinct()
    )
    grp = (
        keyed.groupBy("pred", "val")
        .agg(F.min("entity").alias("a"), F.count("*").alias("_n"))
        .filter((F.col("_n") >= 2) & (F.col("_n") <= max_group))
    )
    return (
        keyed.join(grp, on=["pred", "val"])
        .filter(F.col("entity") != F.col("a"))
        .select("a", F.col("entity").alias("b"), F.col("pred").alias("evidence_pred"))
        .distinct()
    )


def propose_label_edges(
    triples: DataFrame,
    label_pred: str,
    threshold: float = 0.8,
    max_block: int = 100,
) -> DataFrame:
    """Fuzzy ER candidate generation: token-blocked label matching with
    exact token-set Jaccard verification — for entities with no shared
    strong identifier, only near-identical display labels ("ACME Corp." /
    "acme corp").

    Plan shape: labels normalize to distinct token arrays (map-only);
    blocking emits one row per (token) — candidate pairs only form inside
    a token block, and blocks hotter than ``max_block`` are dropped
    whole (the ``cap`` of
    :func:`~rdfshape_api_spark.functions.dedup.blocked_pairs`: a
    stopword-like token pairs the entire corpus; real matches still meet
    in their RARE tokens, which is the standard blocking-key argument).
    Survivors get exact Jaccard via ``array_intersect``/``array_union`` —
    JVM columnar, no UDF.

    Returns ``(a, b, jaccard)``, ``a < b``, Jaccard ≥ ``threshold``.
    """
    from rdfshape_api_spark.functions.dedup import blocked_pairs

    toks = F.array_distinct(
        F.filter(
            F.split(F.regexp_replace(F.lower(F.col("obj_value")), "[^a-z0-9]+", " "), " "),
            lambda t: t != "",
        )
    )
    profiles = (
        triples.filter((F.col("pred") == label_pred) & (F.col("obj_kind") == "literal"))
        .select(F.col("subj").alias("entity"), toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .distinct()
    )
    blocks = profiles.select("entity", F.explode("toks").alias("tok"))
    pairs = (
        blocked_pairs(blocks, "entity", ["tok"], cap=max_block)
        .select(F.col("entity_a").alias("a"), F.col("entity_b").alias("b"))
        .distinct()
    )
    pa = profiles.select(F.col("entity").alias("a"), F.col("toks").alias("_ta"))
    pb = profiles.select(F.col("entity").alias("b"), F.col("toks").alias("_tb"))
    jac = F.size(F.array_intersect("_ta", "_tb")) / F.size(F.array_union("_ta", "_tb"))
    return (
        pairs.join(pa, on="a")
        .join(pb, on="b")
        .select("a", "b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def pred_partition_key(pred=None):
    """Filesystem-safe predicate partition key: local name + 8-hex md5
    disambiguator (IRIs contain '/' and '#', unusable as directory names)."""
    pred = F.col("pred") if pred is None else pred
    local = F.regexp_replace(F.element_at(F.split(pred, "[/#]"), -1), r"[^A-Za-z0-9_-]", "_")
    return F.concat(local, F.lit("_"), F.substring(F.md5(pred), 1, 8))


def write_canonical_store(
    df: DataFrame,
    path: str,
    subj_buckets: int = 16,
    dedup: bool = False,
) -> None:
    """Write the canonical triple store: parquet partitioned by predicate
    (north rule), sub-bucketed by subject hash so hot predicates split.

    The pre-write ``repartition(pred_part, bucket)`` lines file boundaries
    up with partition directories (one shuffle, no small-files explosion):
    each layout key hashes to exactly one reducer, so every
    ``pred_part=/bucket=`` directory gets exactly one file.  The shuffle
    takes no partition count — AQE coalesces it to the data's size, and
    coalescing merges whole reducers, so the one-file invariant holds.
    Readers filtering on predicate get directory-level partition pruning,
    and the 2-col projection prunes parquet columns.

    ``dedup=True`` fuses exact-duplicate elimination INTO the layout
    shuffle: the dedup key determines (pred_part, bucket), so grouping by
    (pred_part, bucket, *key) over the repartitioned child satisfies the
    aggregation's required distribution and Catalyst elides the second
    exchange — one shuffle total instead of dedup-shuffle + layout-shuffle
    (verified: executedPlan has a single Exchange), with map-side partial
    aggregation absorbing duplicates before the wire.  The dedup key
    includes ``doc_sha256`` when present (one graph per document).
    """
    # pred_part via a BROADCAST DICTIONARY join, not a per-row expression:
    # distinct predicates are few (10²-10⁴ even at web scale) while rows are
    # 10⁹+ — evaluating regexp+split+md5 per row measured ~15x slower than
    # joining a tiny precomputed (pred → pred_part) map (the expression
    # chain collapses under high thread counts; the dictionary join is
    # cheap at every parallelism level and the exchange-elision below still
    # sees plain columns).
    pred_map = F.broadcast(
        df.select("pred").distinct().withColumn("pred_part", pred_partition_key())
    )
    out = df.join(pred_map, "pred").withColumn(
        "bucket", F.pmod(F.xxhash64("subj"), F.lit(subj_buckets))
    )
    out = out.select(*df.columns, "pred_part", "bucket").repartition(
        "pred_part", "bucket"
    )
    if dedup:
        key = (["doc_sha256"] if "doc_sha256" in df.columns else []) + [
            c for c in TRIPLE_KEY if c in df.columns
        ]
        extras = [c for c in df.columns if c not in key]
        aggs = [F.first(c).alias(c) for c in extras] or [F.count(F.lit(1)).alias("_n")]
        out = out.groupBy("pred_part", "bucket", *key).agg(*aggs)
        if not extras:
            out = out.drop("_n")
        # restore the writer-side column order (partition cols last)
        out = out.select(*[c for c in df.columns], "pred_part", "bucket")
    out.write.mode("overwrite").partitionBy("pred_part", "bucket").parquet(path)


def read_canonical_store(spark, path: str) -> DataFrame:
    df = spark.read.parquet(path)
    keep = [c for c in TRIPLE_COLUMNS if c in df.columns]
    return df.select(*keep)


def pred_partition_value(pred: str) -> str:
    """Driver-side twin of :func:`pred_partition_key` for a literal
    predicate — needed to push a predicate filter down to the store's
    *directory* level (the `pred` data column cannot prune `pred_part=`
    directories by itself)."""
    import hashlib
    import re as _re

    local = _re.sub(r"[^A-Za-z0-9_-]", "_", _re.split(r"[/#]", pred)[-1])
    return f"{local}_{hashlib.md5(pred.encode()).hexdigest()[:8]}"


def read_store_predicate(spark, path: str, pred: str) -> DataFrame:
    """Partition-pruned scan of one predicate (SURVEY §2.3 P3: predicate
    selection on the canonical store is a pruned directory read — the
    `pred_part=` filter reaches Catalyst as a partition filter, so only
    that predicate's files are listed/read)."""
    df = spark.read.parquet(path)
    out = df.filter(
        (F.col("pred_part") == pred_partition_value(pred)) & (F.col("pred") == pred)
    )
    keep = [c for c in TRIPLE_COLUMNS if c in out.columns]
    return out.select(*keep)
