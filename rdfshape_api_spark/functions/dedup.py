"""Deduplication family over the ``documents`` table.

Five strategies, each a scale-conscious Spark plan:

* **exact** — hash-groupBy on the normalized-text fingerprint; map-side
  partial agg absorbs duplicates before the shuffle.
* **MinHash + LSH** — shingle → minhash signature (all columnar array
  functions, no UDF) → band buckets → bucket self-join. The join is on
  band keys, so candidate generation is O(bucket²) not O(n²); signatures
  use md5 strings (portable to the DuckDB oracle — lexicographic min of
  hex = deterministic on both engines).
* **SimHash** — 64-bit bit-majority over portable md5-derived token
  hashes; Hamming-ball grouping by band of bits (md5 halves parse
  identically in DuckDB, so the oracle recomputes the signature).
* **n-gram Jaccard** — word-bigram shingles, explode → pair-count →
  exact Jaccard; candidate pruning by shared-shingle join.
* **embedding cosine near-dup** — see functions/similarity.py.

Every pair generator in the package (here, codeops, similarity and the
entity-resolution blocking in operators/canonicalize.py) is one
:func:`blocked_pairs` self-join with its optional hot-block ``cap``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rdfshape_api_spark.functions.textops import fingerprint

NUM_HASHES = 16
BAND_ROWS = 4  # 4 bands × 4 rows


def words(text=None):
    text = F.col("text") if text is None else text
    return F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+"))


def drop_hot_blocks(rows: DataFrame, keys, cap: int | None) -> DataFrame:
    """``rows`` minus every block (rows sharing all ``keys`` values) of
    more than ``cap`` rows; ``cap=None`` returns ``rows`` unchanged.  The
    hot-key list is tiny by construction, so it is the broadcast side of
    a ``left_anti`` join and the rows never shuffle against it."""
    if cap is None:
        return rows
    keys = list(keys)
    hot = (
        rows.groupBy(*keys).agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > cap)
        .select(*keys)
    )
    return rows.join(F.broadcast(hot), on=keys, how="left_anti")


def blocked_pairs(
    rows: DataFrame,
    id_col: str,
    keys,
    cap: int | None = None,
    carry=(),
    symmetric: bool = False,
) -> DataFrame:
    """The blocked self-join under every similarity and entity-resolution
    pair generator: one row per pair of ``rows`` that agree on every
    ``keys`` value — ``(*keys, <id_col>_a, <id_col>_b, <carry>_a…,
    <carry>_b…)`` with ``id_a < id_b``, or ``id_a != id_b`` (both orders)
    when ``symmetric``.  The block key is the equi-join key, so candidate
    work is Σ|block|², never n².  Pairs are not de-duplicated: two rows
    sharing k blocks meet k times (callers ``distinct`` or count them).

    ``cap`` is the hot-block guard: a block of b rows emits O(b²) pairs,
    and hot blocks (stop-word shingles, template families, a dense cell)
    reach b ≈ corpus size.  With ``cap`` set, blocks of more than ``cap``
    rows are removed from the join (inclusive: a block of exactly ``cap``
    rows still pairs) by :func:`drop_hot_blocks`; their members are the
    caller's to resolve without pair enumeration (exact dedup, a finer
    key, a dense-family rule).  ``cap=None`` keeps exact pair semantics —
    the oracle contract, and every public guard's default.
    """
    keys = list(keys)
    rows = drop_hot_blocks(rows, keys, cap)
    cols = [id_col, *carry]
    a = rows.select(*keys, *[F.col(c).alias(f"{c}_a") for c in cols])
    b = rows.select(*keys, *[F.col(c).alias(f"{c}_b") for c in cols])
    ia, ib = F.col(f"{id_col}_a"), F.col(f"{id_col}_b")
    return a.join(b, on=keys).filter(ia != ib if symmetric else ia < ib)


def jaccard_pairs(
    elems: DataFrame, id_col: str, keys, sizes: DataFrame, cap: int | None = None
) -> DataFrame:
    """Exact set Jaccard |A∩B| / (|A|+|B|−|A∩B|), rounded to 4 places,
    for every pair of sets sharing ≥ 1 element: ``(<id_col>_a,
    <id_col>_b, jaccard)``, id_a < id_b, unfiltered.

    ``elems`` holds one row per (set, element), the element spelled by
    ``keys``; ``sizes`` is ``(id_col, set size)``.  The intersection is a
    :func:`blocked_pairs` count (partial-aggregated: shuffle ∝ shared
    elements, not sets²).  ``cap`` guards the join side only — ``sizes``
    keep every element, so Jaccard loses just the hot elements'
    intersection mass."""
    a, b = f"{id_col}_a", f"{id_col}_b"
    inter = (
        blocked_pairs(elems, id_col, keys, cap=cap)
        .groupBy(a, b)
        .agg(F.count("*").cast("bigint").alias("_inter"))
    )
    n = F.col("_inter")
    return (
        inter.join(sizes.toDF(a, "_na"), a)
        .join(sizes.toDF(b, "_nb"), b)
        .select(a, b, F.round(n / (F.col("_na") + F.col("_nb") - n), 4).alias("jaccard"))
    )


def exact_duplicates(docs: DataFrame, fp=None) -> DataFrame:
    """Exact-dup groups: ``(fp, n_docs, min_doc_id)`` for groups >1.

    ``fp``: optional fingerprint Column; default is the full normalized-text
    md5 (:func:`~rdfshape_api_spark.functions.textops.fingerprint`).  A
    coarser key (e.g. a normalized prefix) gives prefix-dedup semantics
    over the identical plan."""
    if fp is None:
        fp = fingerprint(F.col("text"))
    return (
        docs.select("doc_id", fp.alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").cast("bigint").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
        .filter(F.col("n_docs") > 1)
    )


def minhash_signature(text=None, num_hashes: int = NUM_HASHES):
    """Columnar minhash: sig[i] = min over distinct words of
    md5(i ':' word). Entirely array expressions — no shuffle, no UDF."""
    ws = words(text)
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(
            F.transform(ws, lambda w: F.md5(F.concat(i.cast("string"), F.lit(":"), w)))
        ),
    )


def minhash_bands(docs: DataFrame, num_hashes: int = NUM_HASHES, band_rows: int = BAND_ROWS) -> DataFrame:
    """(doc_id, band, band_key) — one row per band per doc."""
    sig = minhash_signature().alias("sig")
    n_bands = num_hashes // band_rows
    with_sig = docs.select("doc_id", sig)
    bands = F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_bands - 1)),
            lambda b: F.struct(
                b.cast("int").alias("band"),
                F.md5(
                    F.array_join(F.slice(F.col("sig"), b * band_rows + 1, band_rows), "|")
                ).alias("band_key"),
            ),
        )
    )
    return with_sig.select("doc_id", bands.alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def lsh_candidate_pairs(docs: DataFrame, max_bucket: int | None = None) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing ≥1 LSH band bucket.

    Scale: the self-join keys on (band, band_key) — only same-bucket rows
    meet; a degenerate hot bucket (e.g. many empty docs) is exactly the
    AQE-skew-join case, and the bucket key is already salted by band index.

    ``max_bucket`` is the :func:`blocked_pairs` ``cap`` over band buckets:
    near-identical template families (very common in web corpora) produce
    buckets of 10⁵+ — pass e.g. ``max_bucket=1000`` to exclude those
    buckets here and handle their members with :func:`exact_duplicates` /
    :func:`lsh_dedup_keep` instead (a giant bucket IS a duplicate family;
    enumerating its pairs is pointless).
    """
    # materialize the band table once: the self-join (and the max_bucket
    # count) would otherwise recompute the whole shingle→minhash pipeline
    # on BOTH sides (alias-renamed projections defeat exchange reuse).  At
    # 100 TB this IS the design — the band table is written once at ingest
    # (see lsh_incremental_keep) and every consumer reads the materialized
    # form; locally, localCheckpoint is the single-job equivalent.
    b = minhash_bands(docs).localCheckpoint().withColumnRenamed("doc_id", "doc")
    return (
        blocked_pairs(b, "doc", ["band", "band_key"], cap=max_bucket)
        .select("doc_a", "doc_b")
        .distinct()
    )


def lsh_dedup_keep(docs: DataFrame) -> DataFrame:
    """Training-data dedup decision: per doc, a cluster representative =
    min doc_id over all its LSH bucket-mates (1-hop label propagation — a
    bucket is a duplicate family, so one survivor per family).  A doc
    survives iff ``doc_id == cluster_rep``.  This is the O(n) scale path
    where pairwise enumeration (``lsh_candidate_pairs``) is O(bucket²):
    two shuffles total (bucket min + per-doc min), no self-join at all."""
    b = minhash_bands(docs)
    bucket_min = b.groupBy("band", "band_key").agg(F.min("doc_id").alias("bmin"))
    return (
        b.join(bucket_min, on=["band", "band_key"])
        .groupBy("doc_id")
        .agg(F.min("bmin").alias("cluster_rep"))
        .withColumn("keep", F.col("doc_id") == F.col("cluster_rep"))
    )


def lsh_incremental_keep(
    corpus_bands: DataFrame, batch_docs: DataFrame
) -> DataFrame:
    """Incremental near-dup dedup: keep/drop decisions for an incoming
    batch against the EXISTING corpus — the production ingest path, where
    re-running corpus-wide dedup per batch is impossible.

    ``corpus_bands`` is the write-once ``(doc_id, band, band_key)`` table
    (:func:`minhash_bands` of the corpus, computed at ingest and stored —
    the near-dup analog of the Bloom bit set in
    :func:`bloom_dedup_incremental`).  The corpus is only ever touched by
    a semi-join on the batch's band keys: broadcast the (batch-sized) key
    set, prune the corpus band table down to colliding buckets, and
    aggregate only those.  No corpus×corpus work, no batch×corpus
    self-join — at 100 TB the probe reads a key-pruned slice of a
    bucketed table.

    A batch doc is dropped iff any band hits an existing corpus bucket,
    or it shares a bucket with a smaller-id batch doc (one representative
    per NEW duplicate family still survives — same 1-hop min rule as
    :func:`lsh_dedup_keep`).  Returns ``(doc_id, keep, dup_of)`` with
    ``dup_of`` = the smallest colliding corpus/batch doc (NULL when kept).
    """
    bb = minhash_bands(batch_docs)
    keys = bb.select("band", "band_key").distinct()
    hits = corpus_bands.join(
        F.broadcast(keys), on=["band", "band_key"], how="left_semi"
    )
    cmin = hits.groupBy("band", "band_key").agg(F.min("doc_id").alias("_cmin"))
    bmin = bb.groupBy("band", "band_key").agg(F.min("doc_id").alias("_bmin"))
    per = (
        bb.join(F.broadcast(cmin), on=["band", "band_key"], how="left")
        .join(bmin, on=["band", "band_key"])
        .groupBy("doc_id")
        .agg(F.min("_cmin").alias("_corpus_dup"), F.min("_bmin").alias("_batch_rep"))
    )
    cd, br = F.col("_corpus_dup"), F.col("_batch_rep")
    keep = cd.isNull() & (br == F.col("doc_id"))
    dup_of = (
        F.when(cd.isNotNull() & (br != F.col("doc_id")), F.least(cd, br))
        .when(cd.isNotNull(), cd)
        .when(br != F.col("doc_id"), br)
    )
    return per.select("doc_id", keep.alias("keep"), dup_of.alias("dup_of"))


def lsh_verified_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = NUM_HASHES,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate refinement — the verify step of the classic LSH two-phase
    (generate candidates cheaply, then CONFIRM each with the signature):
    per candidate pair, the estimated Jaccard = fraction of equal minhash
    components, kept iff ≥ ``threshold``.

    LSH banding admits false positives by construction (one colliding
    band out of 4 is enough), so downstream dedup decisions on raw
    candidate pairs over-merge; this bound the error with zero extra text
    reads — the signature already exists.

    Returns ``(doc_a, doc_b, n_eq, est_jaccard)``; ``n_eq`` = number of
    equal signature slots, ``est_jaccard = n_eq / num_hashes`` (exact in
    binary for the default 16, so portable to the DuckDB oracle).

    Scale design: two hash joins of the pair list against the signature
    table keyed on doc_id — no self-join, no re-shingling; the comparison
    is a JVM ``zip_with`` over 16-element arrays (whole-stage codegen, no
    Python).  At 100 TB the signature table is written once at ingest and
    both joins are plain shuffle-hash joins on the dedup key.
    """
    sigs = docs.select(
        "doc_id", minhash_signature(num_hashes=num_hashes).alias("sig")
    )
    pairs = lsh_candidate_pairs(docs, max_bucket=max_bucket)
    a = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("_sig_a"))
    b = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("_sig_b"))
    n_eq = F.size(
        F.filter(
            F.zip_with("_sig_a", "_sig_b", lambda x, y: x == y), lambda v: v
        )
    )
    return (
        pairs.join(a, on="doc_a")
        .join(b, on="doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_eq.alias("n_eq"),
            (n_eq / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )


def lsh_duplicate_clusters(
    docs: DataFrame, max_bucket: int | None = None
) -> DataFrame:
    """Duplicate clusters straight from the LSH buckets, WITHOUT
    enumerating the O(bucket²) candidate pairs.

    An LSH bucket is a clique in the candidate-pair graph, and a clique
    has the same connected components as a star around any one member —
    so each bucket of ≥ 2 docs is contracted to star edges
    ``(member, bucket-min doc_id)`` and :func:`connected_components` runs
    on Σ|bucket| edges instead of Σ|bucket|² (6.7 M pairs → ~20 k stars at
    sf0.1; the gap widens quadratically with duplicate-family size, which
    is exactly the 100 TB regime).  Star contraction also shrinks the
    component diameter to ≤ 2× the bucket-overlap chain length, so the
    label-propagation fixpoint converges in fewer rounds.

    Output is row-identical to
    ``connected_components(lsh_candidate_pairs(docs, max_bucket))``:
    ``(doc_id, component)`` for every doc sharing ≥ 1 bucket with another
    doc, ``component`` = min doc_id of the duplicate family (``doc_id ==
    component`` ⇔ cluster survivor).  ``max_bucket`` mirrors the
    pair-enumeration guard: over-limit buckets contribute no edges there,
    so they are excluded here too.
    """
    # materialized once: both the bucket stats and the star join consume it
    # (un-persisted, the shingle→minhash pipeline would run twice)
    b = minhash_bands(docs).localCheckpoint()
    stats = b.groupBy("band", "band_key").agg(
        F.min("doc_id").alias("bmin"), F.count("*").alias("_bn")
    )
    keep = stats.filter(F.col("_bn") >= 2)
    if max_bucket is not None:
        keep = keep.filter(F.col("_bn") <= max_bucket)
    star = (
        b.join(keep, on=["band", "band_key"])
        .select(F.col("doc_id").alias("doc_a"), F.col("bmin").alias("doc_b"))
        .filter(F.col("doc_a") != F.col("doc_b"))
        .distinct()
    )
    return connected_components(star)


def connected_components(
    pairs: DataFrame, max_iters: int = 25, a: str = "doc_a", b: str = "doc_b"
) -> DataFrame:
    """Exact duplicate CLUSTERS from candidate pairs: connected components
    by iterative min-label propagation.

    Returns ``(doc_id, component)`` for every vertex appearing in
    ``pairs``, where ``component`` is the lexicographic-min doc_id of the
    vertex's component — the canonical cluster representative (``doc_id ==
    component`` ⇔ cluster survivor).

    100 TB design: each round is one join (edge ⨝ labels, key-partitioned)
    + one min-aggregation (map-side combine), converging in
    O(graph diameter) rounds — LSH duplicate clusters are near-cliques, so
    2-4 rounds in practice.  ``localCheckpoint`` per round keeps the plan
    flat (same protocol as the SPARQL ``knows+`` fixpoint,
    plans/sparql.py).  This is the standard label-propagation formulation
    of CC-in-MapReduce (Kiveris et al. 2014); the alternating-star
    optimization is unnecessary at LSH-cluster diameters.
    """
    # symmetric edge list; vertices = every endpoint
    fwd = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst"))
    edges = fwd.union(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    ).distinct().localCheckpoint()
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(max_iters):
        # neighbor messages: each vertex offers its label to its neighbors
        msgs = edges.join(
            labels, on=edges["src"] == labels["doc_id"]
        ).select(F.col("dst").alias("doc_id"), "component")
        # fold old label + best neighbor offer in ONE frame: nxt and the
        # convergence check both derive from it, saving the second
        # label-vs-label join per round
        mins = msgs.groupBy("doc_id").agg(F.min("component").alias("_offer"))
        joined = (
            labels.join(mins, on="doc_id", how="left")
            .select(
                "doc_id",
                F.col("component").alias("_old"),
                F.least(
                    F.col("component"), F.coalesce(F.col("_offer"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint()
        )
        changed = (
            joined.filter(F.col("component") != F.col("_old")).limit(1).count()
        )
        labels = joined.select("doc_id", "component")
        if changed == 0:
            return labels
    raise ValueError(f"connected_components did not converge in {max_iters} rounds")


def ngram_shingles(text=None, n: int = 2):
    """Word n-gram shingles as an array column (default bigrams)."""
    ws = F.split(F.lower(F.trim(F.col("text") if text is None else text)), r"\s+")
    return F.when(
        F.size(ws) >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size(ws) - n),
                lambda i: F.array_join(F.slice(ws, i + 1, n), " "),
            )
        ),
    ).otherwise(F.array_distinct(ws))


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.8, max_df: int | None = None
) -> DataFrame:
    """Near-dup pairs by word-bigram Jaccard ≥ threshold.

    explode(shingles) → self-join on shingle → count shared → Jaccard via
    |A∩B| / (|A|+|B|−|A∩B|). Partial aggregation makes the pair-count
    shuffle proportional to shared shingles, not documents².

    ``max_df`` is the hot-shingle guard, the :func:`blocked_pairs`
    ``cap`` over shingle blocks: stop-word bigrams in a web corpus are
    shared by b ≈ corpus size docs.  Hot shingles leave the JOIN side
    only (:func:`jaccard_pairs`) — |A|/|B| sizes keep every shingle, so
    Jaccard estimates only lose the (uninformative) hot shingles'
    intersection contribution and the output stays bounded.
    """
    sh = docs.select(F.col("doc_id").alias("doc"), F.explode(ngram_shingles()).alias("shingle"))
    sizes = sh.groupBy("doc").agg(F.count("*").cast("bigint"))
    return jaccard_pairs(sh, "doc", ["shingle"], sizes, cap=max_df).filter(
        F.col("jaccard") >= threshold
    )


def decontaminate(
    docs: DataFrame, benchmark: DataFrame, n: int = 3, text_col: str = "text"
) -> DataFrame:
    """Training-set decontamination: per-document count of word ``n``-grams
    shared with a benchmark/eval set (the GPT-3 appendix-C / Gopher
    13-gram-overlap check; ``n`` parametrized — the synthetic docs are
    short, so tests use trigrams).

    Returns ``(doc_id, n_hit_ngrams)`` for every document with ≥1 shared
    n-gram; a downstream ``left_anti`` on ``doc_id`` is the drop step.

    Scale design: eval sets are 10³-10⁵ rows against 10⁹+ training docs,
    so the benchmark's distinct n-grams are the broadcast side; the
    training side explodes to n-grams map-locally and LEFT SEMI
    broadcast-joins — no shuffle of training data at all. The only
    exchange is the per-doc hit count, which carries hit rows only
    (near-empty for a clean corpus). ``ngram_shingles`` is
    ``array_distinct``, so the count is distinct shared n-grams.
    """
    bench_ngrams = (
        benchmark.select(F.explode(ngram_shingles(F.col(text_col), n)).alias("ngram"))
        .distinct()
    )
    return (
        docs.select("doc_id", F.explode(ngram_shingles(F.col(text_col), n)).alias("ngram"))
        .join(F.broadcast(bench_ngrams), on="ngram", how="leftsemi")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hit_ngrams"))
    )


def span_dedup(
    docs: DataFrame,
    span_words: int | None = 3,
    min_df: int = 2,
    text_col: str = "text",
) -> DataFrame:
    """C4-style duplicate-span removal with document reassembly.

    Splits each document into units — consecutive non-overlapping
    ``span_words``-word chunks (C4 drops any three-sentence span occurring
    more than once in the corpus; the fixed-word chunk is the
    punctuation-free analogue), or physical lines when ``span_words`` is
    ``None`` (the RefinedWeb/CCNet boilerplate-line pass) — drops every
    unit whose normalized form occurs in ``>= min_df`` distinct documents,
    and reassembles the surviving units in original document order.

    Returns ``(doc_id, clean_text, n_spans, n_spans_dropped)`` — one row
    per input document (``clean_text = ''`` when everything was dropped).

    Scale design: the duplicate-span table is corpus-sized (every nav
    menu / cookie banner on the web), so it is NOT broadcast — the
    span→dup join is a shuffle hash join keyed on the span text, which is
    exactly where AQE's skew-join split handles the hot boilerplate spans.
    The df aggregation is two-phase (map-side partial distinct on
    (span, doc_id)); reassembly shuffles each span exactly once on
    ``doc_id`` and orders within the group via ``array_sort`` on a
    ``(pos, span)`` struct — no window function, no second exchange.
    Empty units never count toward df and are always kept (they are
    document structure, not content).
    """
    if span_words is None:
        units = F.split(F.col(text_col), "\n", -1)
        sep = "\n"
    else:
        ws = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
        k = span_words
        # split() never yields an empty array, so n_chunks >= 1 and the
        # sequence below is never descending
        n_chunks = F.ceil(F.size(ws) / F.lit(k)).cast("int")
        units = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.array_join(F.slice(ws, i * k + 1, k), " "),
        )
        sep = " "
    spans = docs.select(
        "doc_id", F.posexplode(units).alias("pos", "span")
    ).withColumn("k", F.lower(F.trim(F.col("span"))))
    dup = (
        spans.filter(F.col("k") != "")
        .groupBy("k")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= min_df)
        .select("k", F.lit(True).alias("_dup"))
    )
    flagged = spans.join(dup, on="k", how="left")
    return flagged.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_dup").isNull(),
                            F.struct(F.col("pos"), F.col("span")),
                        )
                    )
                ),
                lambda s: s["span"],
            ),
            sep,
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("n_spans"),
        F.sum(F.when(F.col("_dup").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_spans_dropped"),
    )


def simhash64(docs: DataFrame) -> DataFrame:
    """64-bit SimHash: per-bit majority vote over a portable token hash.

    Columnar construction: aggregate over the words array summing ±1 per
    bit, then reassemble the sign bits — one map-only pass, no UDF.
    The 64 token-hash bits come from the first 16 hex chars of md5(word)
    (two 32-bit halves, long-safe) — portable, so the DuckDB oracle can
    recompute the identical signature (same trick as minhash above).
    """
    ws = words()
    # per-word (hi, lo) 32-bit hash halves, md5 computed ONCE per word
    word_hash = F.transform(
        ws,
        lambda w: F.struct(
            F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long").alias("hi"),
            F.conv(F.substring(F.md5(w), 9, 8), 16, 10).cast("long").alias("lo"),
        ),
    )
    # per-word ±1 votes for each of the 64 bits (bit positions are Python
    # literals — shiftright requires a literal shift amount)
    per_word_bits = F.transform(
        word_hash,
        lambda h: F.array(
            *[
                F.when(
                    F.shiftright(
                        h["lo"] if b < 32 else h["hi"], b if b < 32 else b - 32
                    ).bitwiseAND(F.lit(1))
                    == 1,
                    F.lit(1),
                )
                .otherwise(F.lit(-1))
                .cast("long")
                for b in range(64)
            ]
        ),
    )
    bit_votes = F.aggregate(
        per_word_bits,
        F.array_repeat(F.lit(0).cast("long"), 64),
        lambda acc, bits: F.zip_with(acc, bits, lambda a, v: a + v),
    )
    sim = F.lit(0).cast("long")
    for b in range(64):
        sim = sim.bitwiseOR(
            F.when(F.element_at(bit_votes, b + 1) > 0, F.shiftleft(F.lit(1).cast("long"), b))
            .otherwise(F.lit(0).cast("long"))
        )
    return docs.select("doc_id", sim.alias("simhash"))


def simhash_bucket_pairs(docs: DataFrame, band_bits: int = 16) -> DataFrame:
    """Candidate near-dups: docs sharing any 16-bit band of the simhash
    (Hamming-distance blocking, the standard 4-band scheme)."""
    sh = simhash64(docs)
    mask = (1 << band_bits) - 1
    bands = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).cast("int").alias("band"),
                        F.shiftright(F.col("simhash"), b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(64 // band_bits)
                ]
            )
        ).alias("bk"),
    ).select(F.col("doc_id").alias("doc"), "bk.band", "bk.band_val")
    return blocked_pairs(bands, "doc", ["band", "band_val"]).select("doc_a", "doc_b").distinct()


def bloom_positions(key, k: int = 5, m: int = 1 << 20, salt: str = "bloom"):
    """The ``k`` bit positions of ``key`` in an ``m``-bit Bloom filter,
    as an array<long> Column.  Hashes are md5-derived (first 8 hex chars
    of ``md5('<salt>:<i>:<key>')`` mod ``m``) so the identical positions
    are computable in any engine — the DuckDB oracle recomputes them with
    ``CAST('0x' || substring(md5(...), 1, 8) AS BIGINT) % m``."""
    key = F.col(key) if isinstance(key, str) else key
    return F.array(
        *[
            F.conv(
                F.substring(F.md5(F.concat(F.lit(f"{salt}:{i}:"), key)), 1, 8), 16, 10
            ).cast("long")
            % m
            for i in range(k)
        ]
    )


def bloom_build(corpus: DataFrame, key, k: int = 5, m: int = 1 << 20) -> DataFrame:
    """Distill a reference corpus into its Bloom-filter bit set: the
    DISTINCT positions lit by any corpus key — a DataFrame with a single
    ``pos`` long column, at most ``m`` rows (≈ ``min(k·n, m)``).

    This is the 100 TB incremental-ingest pattern: the existing corpus is
    reduced ONCE to ≤ m integers (m = 2^20 ⇒ ≤ 8 MiB), and every future
    batch tests membership against the broadcast bit set — no shuffle of,
    or join against, the corpus itself ever again.  The reduction is one
    map-side explode + a distinct on a bounded-cardinality integer key
    (map-side combine absorbs almost everything before the shuffle)."""
    key = F.col(key) if isinstance(key, str) else key
    return (
        corpus.select(F.explode(bloom_positions(key, k=k, m=m)).alias("pos"))
        .distinct()
    )


def bloom_dedup_incremental(
    incoming: DataFrame,
    bloom: DataFrame,
    key,
    k: int = 5,
    m: int = 1 << 20,
    id_col: str = "doc_id",
) -> DataFrame:
    """Flag each incoming document whose key is *possibly* already in the
    reference corpus (``maybe_dup`` = every one of its Bloom positions is
    lit; false positives at the classic ``(1-e^{-kn/m})^k`` rate, never
    false negatives).  Returns ``(id_col, fp, maybe_dup)``.

    Plan: explode the k positions (map-side), LEFT join the (small,
    ≤ m-row) bloom side — Spark broadcasts it — then a groupBy on the
    incoming ids only: ``maybe_dup ⇔ #distinct positions matched =
    #distinct positions``.  The only shuffle is the k×|incoming| rows of
    the per-doc count; the corpus never moves.
    """
    key = F.col(key) if isinstance(key, str) else key
    pos = incoming.select(
        F.col(id_col), key.alias("fp"), F.explode(bloom_positions("fp", k=k, m=m)).alias("pos")
    ).dropDuplicates([id_col, "pos"])
    lit_marked = pos.join(
        F.broadcast(bloom.withColumn("hit", F.lit(1))), on="pos", how="left"
    )
    return (
        lit_marked.groupBy(id_col, "fp")
        .agg(
            F.count("*").alias("_npos"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("_nhit"),
        )
        .select(
            id_col, "fp", (F.col("_nhit") == F.col("_npos")).alias("maybe_dup")
        )
    )
