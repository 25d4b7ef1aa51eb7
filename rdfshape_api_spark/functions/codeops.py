"""Code-corpus operators over the source-repository docs table
``(repo, path, commit, lang, content, content_sha256)`` — the input shape
the north rule names (Iceberg table of source-code repositories).

The reference treats every uploaded document as an opaque code/text file
keyed by syntax (``DataSource.scala``, ``DataFormat.scala``); these
operators add the repository-level analytics a 10^12-file corpus needs
before KG extraction: content fingerprinting for near-duplicate file
detection (vendored copies, forks, template clones), per-repository
rollups, and identifier profiling.

Fingerprinting is winnowing (Schleimer, Wilkerson, Aiken — SIGMOD 2003,
"Winnowing: Local Algorithms for Document Fingerprinting", the MOSS
algorithm): hash every k-gram, then keep the minimum hash of each sliding
window of w consecutive k-gram hashes.  Guarantees: any shared substring
of length ≥ k + w − 1 produces at least one shared fingerprint, and the
fingerprint density is ~2/(w+1) — a provably bounded sketch, unlike fixed
striding.

100 TB design notes:

* Everything is JVM-side Column/array expressions — ``transform`` /
  ``sequence`` / ``slice`` / ``array_min`` — inside whole-stage codegen;
  no Python in any hot path, no shuffle until the (already-sketched)
  fingerprints are exploded for the pair join.
* The pair join is explode → self-join **on fingerprint**, so cost is
  Σ df(fp)² over fingerprints, never files².  ``max_df`` drops
  boilerplate fingerprints (license headers, prefix declarations shared
  by every file in the corpus) from the JOIN side only — set sizes keep
  them, so Jaccard loses only the uninformative hot mass.  The join,
  the guard and the Jaccard step are the shared ones in functions/dedup.py
  (``blocked_pairs``, ``jaccard_pairs``).
* Hashes are the portable md5-prefix 60-bit ints used across this
  package (``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` in DuckDB ↔
  ``conv(substring(md5(x),1,15),16,10)`` in Spark), so every operator
  here has an exact SQL twin for the correctness gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from rdfshape_api_spark.functions.dedup import (
    blocked_pairs,
    drop_hot_blocks,
    jaccard_pairs,
)


def _h64(s: Column) -> Column:
    """Portable 60-bit hash: first 15 hex chars of md5, base-16 → long."""
    return F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long")


def winnow_fingerprint_sets(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    content_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path"),
) -> DataFrame:
    """Per-file winnowing fingerprint set as an array column
    ``(*, fingerprints array<long>, n_fp int)`` — the sketch stage.

    k-gram hashes h_i = h64(content[i : i+k]) for i in 1..n−k+1 (the whole
    content hashed once if shorter than k); fingerprints = distinct
    { min(h_j..h_{j+w−1}) : j in 1..m−w+1 } (all-hash min if fewer than w
    k-grams).  Map-only: one row in, one row out, no Exchange.
    """
    content = F.col(content_col)
    n = F.length(content)
    hashes = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - k + 1),
            lambda i: _h64(content.substr(i, F.lit(k))),
        ),
    ).otherwise(F.array(_h64(content)))
    out = docs.select(*id_cols, hashes.alias("_hs"))
    m = F.size(F.col("_hs"))
    fps = F.when(
        m >= w,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), m - w + 1),
                lambda j: F.array_min(F.slice(F.col("_hs"), j, w)),
            )
        ),
    ).otherwise(F.array(F.array_min(F.col("_hs"))))
    return out.select(
        *id_cols, fps.alias("fingerprints")
    ).withColumn("n_fp", F.size("fingerprints"))


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    content_col: str = "content",
    id_cols: tuple[str, ...] = ("repo", "path"),
) -> DataFrame:
    """Exploded winnowing fingerprints ``(*id_cols, fingerprint)`` —
    the inverted-index shape (fingerprint → files), distinct per file."""
    sets = winnow_fingerprint_sets(docs, k=k, w=w, content_col=content_col,
                                   id_cols=id_cols)
    # explode_outer, NOT explode: InferFiltersFromGenerate adds a
    # size(...)>0 filter to a plain explode, and predicate pushdown then
    # inlines the whole nested winnow expression into that per-row filter
    # — the slice() reference inside the window transform re-evaluates the
    # k-gram transform per window, turning the map stage O(len²).  The
    # rule skips outer generates, and the sketch array is non-empty by
    # construction, so the rows are identical.
    return sets.select(*id_cols, F.explode_outer("fingerprints").alias("fingerprint"))


def winnow_near_dup_pairs(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    max_df: int | None = None,
    within_repo: bool = False,
    content_col: str = "content",
) -> DataFrame:
    """Near-duplicate FILE pairs by winnowing-fingerprint Jaccard ≥
    threshold: ``(file_a, file_b, jaccard)`` with ``file = repo || ':' ||
    path`` and file_a < file_b.

    The MOSS pair query: explode the sketches, self-join on fingerprint
    (partial-aggregated intersection counts — shuffle ∝ shared
    fingerprints, never files²), Jaccard via |A∩B| / (|A|+|B|−|A∩B|).

    Two guards against the quadratic join vector, one per regime:

    * ``within_repo=True`` scopes the join key to (repo, fingerprint) —
      intra-repository clone detection (vendored copies, template drift).
      Bucket size is capped by repo file count, so the join stays bounded
      no matter how corpus-hot a fingerprint is; this form stays exact at
      10^12 files.
    * ``max_df`` drops corpus-hot fingerprints (> max_df files) from the
      JOIN side only for the cross-repo form — set sizes keep every
      fingerprint, so Jaccard loses only the boilerplate intersection
      mass.  For exhaustive cross-repo dedup at full scale, band the
      winnow sketches through the MinHash/LSH path (functions/dedup.py)
      instead of joining raw fingerprints.
    """
    file_id = F.concat_ws(":", F.col("repo"), F.col("path")).alias("file")
    sets = winnow_fingerprint_sets(docs, k=k, w=w, content_col=content_col)
    sets = sets.select("repo", file_id, "fingerprints", "n_fp")
    # explode_outer for the same InferFiltersFromGenerate reason as in
    # winnow_fingerprints (sketch arrays are non-empty by construction)
    ex = sets.select(
        "repo", "file", F.explode_outer("fingerprints").alias("fingerprint")
    )
    # document frequency is corpus-wide even when the join is repo-scoped,
    # so the guard runs here on the fingerprint alone, not on the join key
    ex = drop_hot_blocks(ex, ["fingerprint"], max_df)
    keys = ["repo", "fingerprint"] if within_repo else ["fingerprint"]
    return jaccard_pairs(ex, "file", keys, sets.select("file", "n_fp")).filter(
        F.col("jaccard") >= threshold
    )


def winnow_minhash_bands(
    sets: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    id_col: str = "file_id",
) -> DataFrame:
    """MinHash band keys over winnow fingerprint SETS:
    ``(id_col, band, band_key)``.

    Signature h_i = min over the set of h64(i ':' fingerprint) — the
    standard MinHash estimator applied to the winnow sketch instead of raw
    shingles (sketch-of-a-sketch; Jaccard over winnow sets approximates
    content Jaccard by the winnowing density guarantee).  ``bands`` bands
    of ``num_hashes/bands`` rows each; two files share a band key with
    probability 1−(1−s^r)^b for set-similarity s.  Map-only (one row in,
    ``bands`` rows out), all JVM array expressions.
    """
    rows = num_hashes // bands
    fp_str = F.transform(F.col("fingerprints"), lambda x: x.cast("string"))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(
                fp_str,
                lambda s: _h64(F.concat(i.cast("string"), F.lit(":"), s)),
            )
        ),
    )
    withsig = sets.select(id_col, sig.alias("_sig"))
    out = withsig.select(
        id_col,
        F.explode_outer(  # sig arrays are non-empty; see winnow_fingerprints
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.cast("int").alias("band"),
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.slice(F.col("_sig"), b * rows + 1, rows),
                            lambda x: x.cast("string"),
                        ),
                    ).alias("band_key"),
                ),
            )
        ).alias("bk"),
    )
    return out.select(id_col, F.col("bk.band").alias("band"),
                      F.col("bk.band_key").alias("band_key"))


def winnow_lsh_pairs(
    docs: DataFrame,
    k: int = 8,
    w: int = 4,
    num_hashes: int = 32,
    bands: int = 8,
    max_bucket: int | None = None,
    content_col: str = "content",
) -> DataFrame:
    """CROSS-repo near-duplicate candidate pairs at corpus scale:
    winnow sketch → MinHash signature → band-bucket self-join.
    ``(file_a, file_b)`` distinct, file_a < file_b.

    This is the exhaustive cross-repo form that
    :func:`winnow_near_dup_pairs`'s docstring names as the scale path: the
    raw fingerprint join is Σ df(fp)² and corpus-hot boilerplate makes df
    unbounded, while banding bounds join fan-out to Σ bucket² with bucket
    sizes concentrated near true duplicate-family sizes.  ``max_bucket``
    guards template families: it is the ``cap`` of
    :func:`~rdfshape_api_spark.functions.dedup.blocked_pairs`, so
    over-limit buckets are dropped from the join — at 10^12 files those
    families are handled by the O(n) keep-decision path, not pair
    enumeration.
    """
    file_id = F.concat_ws(":", F.col("repo"), F.col("path")).alias("file")
    sets = winnow_fingerprint_sets(docs, k=k, w=w, content_col=content_col)
    sets = sets.select(file_id, "fingerprints")
    b = winnow_minhash_bands(sets, num_hashes=num_hashes, bands=bands, id_col="file")
    return (
        blocked_pairs(b, "file", ["band", "band_key"], cap=max_bucket)
        .select("file_a", "file_b")
        .distinct()
    )


def repo_stats(docs: DataFrame) -> DataFrame:
    """Per-repository rollup ``(repo, n_files, n_langs, n_commits,
    total_bytes, distinct_contents)`` — the catalog-level profile a
    repo-scale crawl plans partitioning from (file counts drive range
    partitioning by repo; distinct_contents / n_files is the intra-repo
    exact-duplication rate).

    One hash-groupBy with map-side partial aggregation; the distinct
    counts are exact (count(distinct) — two-phase under AQE), not sketches,
    because the driver gate hashes values.  At 100 TB swap in
    ``approx_count_distinct`` for the interactive profile.
    """
    return docs.groupBy("repo").agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("commit").cast("bigint").alias("n_commits"),
        F.sum(F.length("content")).cast("bigint").alias("total_bytes"),
        F.countDistinct("content_sha256").cast("bigint").alias("distinct_contents"),
    )


# SPDX ids this scanner recognises via the explicit tag, plus the header
# phrases that identify the big license families when no tag is present.
# Order matters: first match wins (most specific first).
_LICENSE_PHRASES: tuple[tuple[str, str], ...] = (
    ("Apache-2.0", "Licensed under the Apache License, Version 2.0"),
    ("MIT", "Permission is hereby granted, free of charge"),
    # LGPL before GPL: LGPL texts also reference the GPL by name
    ("LGPL", "GNU Lesser General Public License"),
    ("GPL", "GNU General Public License"),
    ("MPL-2.0", "Mozilla Public License"),
    ("BSD", "Redistribution and use in source and binary forms"),
)


def license_scan(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """Per-file license detection ``(repo, path, spdx_id, family,
    detector)`` — the data-governance pass a code-corpus training
    pipeline runs before anything else (license filtering decides what
    may enter the training set at all).

    Two detectors, cheapest first:

    * ``spdx``: the machine-readable ``SPDX-License-Identifier: <id>``
      tag (one ``regexp_extract``), authoritative when present;
    * ``phrase``: characteristic header phrases of the major families
      (Apache-2.0 / MIT / GPL / LGPL / MPL-2.0 / BSD), first match wins.

    ``spdx_id`` is NULL when only a phrase matched; ``family`` is NULL
    when nothing matched (the row is still emitted — "unknown license"
    is the governance-relevant outcome, not an absence).

    Scale design: map-only JVM Column logic (regexp_extract + chained
    CASE on ``contains``), no shuffle, no Python; the scan prunes to
    (repo, path, content) so the parquet reader never materialises other
    columns.  At 100 TB this runs in the same pass as any other
    map-side profile.
    """
    c = F.col(content_col)
    spdx = F.regexp_extract(c, r"SPDX-License-Identifier:\s*([A-Za-z0-9.\-\+]+)", 1)
    spdx = F.when(spdx != "", spdx)
    fam = F.lit(None).cast("string")
    for family, phrase in reversed(_LICENSE_PHRASES):
        fam = F.when(c.contains(phrase), F.lit(family)).otherwise(fam)
    family = F.coalesce(
        # an explicit SPDX tag wins; collapse it onto the same family
        # labels so downstream grouping is uniform
        F.when(spdx.startswith("Apache"), F.lit("Apache-2.0"))
        .when(spdx.startswith("MIT"), F.lit("MIT"))
        .when(spdx.startswith("LGPL"), F.lit("LGPL"))
        .when(spdx.startswith("GPL"), F.lit("GPL"))
        .when(spdx.startswith("MPL"), F.lit("MPL-2.0"))
        .when(spdx.startswith("BSD"), F.lit("BSD"))
        .when(spdx.isNotNull(), spdx),
        fam,
    )
    detector = (
        F.when(spdx.isNotNull(), F.lit("spdx"))
        .when(fam.isNotNull(), F.lit("phrase"))
    )
    return docs.select(
        "repo",
        "path",
        spdx.alias("spdx_id"),
        family.alias("family"),
        detector.alias("detector"),
    )


def repo_license_profile(docs: DataFrame, content_col: str = "content") -> DataFrame:
    """Per-repo license rollup ``(repo, family, n_files, repo_files,
    frac)`` — the table a corpus curator filters on ("repos ≥ 95%
    permissive").  NULL family groups as ``'unknown'``.

    One hash-groupBy on (repo, family) plus a broadcast-sized per-repo
    total join (repos ≪ files); both aggregations combine map-side.
    """
    scanned = license_scan(docs, content_col).select(
        "repo", F.coalesce("family", F.lit("unknown")).alias("family")
    )
    per = scanned.groupBy("repo", "family").agg(
        F.count("*").cast("bigint").alias("n_files")
    )
    totals = per.groupBy("repo").agg(F.sum("n_files").alias("repo_files"))
    return per.join(F.broadcast(totals), on="repo").select(
        "repo",
        "family",
        "n_files",
        F.col("repo_files").cast("bigint").alias("repo_files"),
        F.round(F.col("n_files") / F.col("repo_files"), 6).alias("frac"),
    )


def identifier_top(
    docs: DataFrame, top: int = 10, min_len: int = 3, content_col: str = "content"
) -> DataFrame:
    """Top-``top`` identifiers per language ``(lang, identifier, n, rank)``
    — the vocabulary profile of a code corpus (prefix names, predicate
    local names, API symbols).

    ``regexp_extract_all`` (JVM, codegen) pulls ``[A-Za-z_][A-Za-z0-9_]*``
    tokens of length ≥ min_len; explode → two-level aggregate (partial
    combine on (lang, identifier)) → per-lang top-k by a rank window.
    The window partitions by lang (bounded cardinality), so the sort is
    per-group top-k, not a global sort.  Ties break lexicographically so
    the result is deterministic and oracle-hashable.
    """
    pat = "[A-Za-z_][A-Za-z0-9_]{%d,}" % (min_len - 1)
    toks = docs.select(
        "lang",
        F.explode(F.regexp_extract_all(F.col(content_col), F.lit(pat), F.lit(0))).alias(
            "identifier"
        ),
    )
    counts = toks.groupBy("lang", "identifier").agg(
        F.count("*").cast("bigint").alias("n")
    )
    rk = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("identifier").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rank") <= top)
        .select("lang", "identifier", "n", "rank")
    )
