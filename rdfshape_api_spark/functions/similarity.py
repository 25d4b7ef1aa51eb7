"""Similarity search over the ``embeddings`` table (``vec_id``,
``embedding: array<float>``, ``label``).

* **brute-force cosine top-k** — the exactness baseline: broadcast the
  (small) query set against all vectors; dot products via
  ``zip_with``+``aggregate`` (JVM-side, no Python); rank with a window.
  Output is (query_id, rank, neighbor_id) — integer-only, so the DuckDB
  oracle hashes identically (float scores stay internal).
* **label-blocked near-dup** — IVF-style: pairs compared only within a
  coarse partition (here the ``label`` column stands in for the coarse
  centroid assignment), turning O(n²) into Σ O(|cell|²).
* **LSH-bucketed ANN** — the scale path: random-hyperplane sign bits
  (deterministic planes derived from md5 of (plane, dim)) → bucket join;
  only same-bucket candidates are scored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from rdfshape_api_spark.functions.dedup import blocked_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(emb: DataFrame, k: int = 5, n_queries: int = 10) -> DataFrame:
    """Exact top-k cosine neighbors for query vectors (vec_id < n_queries).

    The query side is tiny → ``broadcast``; the big side is scanned once,
    map-side scored, then a per-query window keeps k rows. Output
    ``(query_id, rank, neighbor_id)`` — deterministic tie-break on
    (score desc, neighbor_id asc)."""
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    scored = (
        emb.join(F.broadcast(q), on=emb["vec_id"] != q["query_id"])
        .withColumn("score", cosine(F.col("q_emb"), F.col("embedding")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "score")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id")
    )


def embedding_near_dups(
    emb: DataFrame, threshold: float = 0.95, max_cell: int | None = None
) -> DataFrame:
    """IVF-style near-dup pairs: cosine ≥ threshold within a coarse cell
    (``label``). Output (vec_a, vec_b, cos_sim rounded 4).

    ``max_cell`` is the corpus-scale guard, the
    :func:`~rdfshape_api_spark.functions.dedup.blocked_pairs` ``cap`` over
    cells: with a FIXED number of cells Σ|cell|² grows quadratically in
    corpus size.  Cells larger than ``max_cell`` are excluded from the
    pair join — at scale their members should be routed through a finer
    quantizer (k-means cells sized to N, see :func:`ivf_ann_topk`) or
    treated as one dense family."""
    cells = emb.select("label", F.col("vec_id").alias("vec"), "embedding")
    return (
        blocked_pairs(cells, "vec", ["label"], cap=max_cell, carry=["embedding"])
        .withColumn("cos_sim", F.round(cosine(F.col("embedding_a"), F.col("embedding_b")), 4))
        .filter(F.col("cos_sim") >= threshold)
        .select("vec_a", "vec_b", "cos_sim")
    )


def _plane_component(plane: int, dim) -> F.Column:
    """Deterministic pseudo-random hyperplane component in [-0.5, 0.5):
    md5-derived so planes are reproducible across runs and languages."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"plane{plane}:"), dim.cast("string"))), 1, 8), 16, 10)
    return (h.cast("double") / F.lit(float(0xFFFFFFFF))) - 0.5


def rp_bucket(embedding, n_planes: int = 8) -> F.Column:
    """Random-hyperplane sign-bit bucket string ('0110…') for an
    embedding column — deterministic md5-derived planes, portable to the
    DuckDB oracle."""
    dims = F.sequence(F.lit(0), F.size(embedding) - 1)
    sig_bits = [
        F.when(
            F.aggregate(
                F.zip_with(
                    embedding,
                    dims,
                    lambda x, i: x.cast("double") * _plane_component(p, i),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            > 0,
            F.lit(1),
        ).otherwise(F.lit(0))
        for p in range(n_planes)
    ]
    return F.concat_ws("", *[b.cast("string") for b in sig_bits])


def lsh_ann_topk(emb: DataFrame, k: int = 5, n_queries: int = 10, n_planes: int = 8) -> DataFrame:
    """Approximate top-k: random-hyperplane LSH bucket join, then exact
    scoring inside buckets only — the 100 TB path (bucket join instead of
    cross product; recall tunable by n_planes / multi-probe)."""
    hashed = emb.withColumn("bucket", rp_bucket(F.col("embedding"), n_planes))
    q = hashed.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"), F.col("bucket").alias("q_bucket")
    )
    cand = hashed.join(
        F.broadcast(q),
        on=[hashed["bucket"] == q["q_bucket"], hashed["vec_id"] != q["query_id"]],
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("score", cosine(F.col("q_emb"), F.col("embedding")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "score")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id")
    )


def ivf_ann_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    seed: int = 7,
) -> DataFrame:
    """IVF approximate top-k: a k-means coarse quantizer (pyspark.ml,
    deterministic seed) assigns every vector to a cell; each query scores
    candidates only in its ``n_probe`` nearest cells — the classic
    inverted-file layout (Σ O(|cell|·q) instead of O(n·q)).

    At 100 TB the cell assignment is a write-once batch job (the cells
    become the table's partition key) and queries touch n_probe
    partitions; here both phases run inline.  Deterministic for a fixed
    seed; correctness is gated by a recall@k test against
    :func:`cosine_topk` (tests/test_functions.py) — k-means has no SQL
    twin, so this operator stays out of the driver-oracle contract.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = emb.withColumn("_features", array_to_vector(F.col("embedding").cast("array<double>")))
    model = KMeans(k=n_cells, seed=seed, featuresCol="_features", predictionCol="_cell").fit(vecs)
    assigned = model.transform(vecs).select("vec_id", "embedding", "_cell")

    # centroids as a tiny broadcast table: (cell, centroid array)
    spark = emb.sparkSession
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, centroid array<double>",
    )

    q = assigned.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    # per query: the n_probe closest centroids (cells to scan)
    qc = q.join(F.broadcast(centroids))
    wq = Window.partitionBy("query_id").orderBy(
        F.col("_cdist").asc(), F.col("cell").asc()
    )
    probes = (
        qc.withColumn(
            "_cdist",
            -cosine(F.col("q_emb"), F.col("centroid")),  # max cosine = min dist
        )
        .withColumn("_r", F.row_number().over(wq))
        .filter(F.col("_r") <= n_probe)
        .select("query_id", "q_emb", "cell")
    )
    cand = assigned.join(
        F.broadcast(probes),
        on=[assigned["_cell"] == probes["cell"], assigned["vec_id"] != probes["query_id"]],
    )
    w = Window.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("score", cosine(F.col("q_emb"), F.col("embedding")))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "score")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id")
    )


def semantic_dedup_kmeans(
    emb: DataFrame,
    threshold: float = 0.4,
    n_cells: int = 16,
    max_bucket: int | None = None,
    seed: int = 7,
) -> DataFrame:
    """:func:`semantic_dedup` with a k-means coarse quantizer as the
    blocking key — the paper's actual clustering step, and the
    corpus-scale answer to fixed-plane buckets: ``n_cells`` scales with N
    (e.g. N/10k cells keeps expected pair work linear), where 2^n_planes
    is a constant.  Cells come from the same deterministic-seed
    ``pyspark.ml`` KMeans as :func:`ivf_ann_topk`; the keep-the-min rule
    and the optional ``max_bucket`` dense-family fall-through are shared
    with the hyperplane form.  No SQL twin (k-means) — pytest-gated like
    IVF."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    vecs = emb.select("vec_id", "embedding").withColumn(
        "_features", array_to_vector(F.col("embedding").cast("array<double>"))
    )
    model = KMeans(
        k=n_cells, seed=seed, featuresCol="_features", predictionCol="_cell"
    ).fit(vecs)
    assigned = model.transform(vecs).select(
        "vec_id", "embedding", F.col("_cell").cast("string").alias("bucket")
    )
    return _semantic_dedup_blocked(emb, assigned, threshold, max_bucket)


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.4,
    n_planes: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """SemDeDup-style embedding dedup (Abbas et al. 2023, public paper):
    keep one representative per group of semantically near-identical
    vectors. Candidates are generated inside random-hyperplane buckets
    (:func:`rp_bucket` — fewer planes than ANN search: dedup wants recall,
    so buckets are coarse); within a bucket every pair is cosine-scored
    and a vector is DROPPED when a same-bucket near-dup with a smaller
    ``vec_id`` exists (the deterministic keep-the-min rule — SemDeDup
    keeps one arbitrary member per group; min-id makes it reproducible).

    Returns one row per input vector: ``(vec_id, keep, n_near_dups)``
    with ``keep`` 0/1 and ``n_near_dups`` the same-bucket neighbor count
    at ``cosine >= threshold``.

    Scale design: the only quadratic term is Σ O(|bucket|²).  With the
    default ``max_bucket=None`` that sum is bounded only by ``n_planes``
    (2^n_planes buckets) — fine at fixture scale, quadratic at corpus
    scale if n_planes stays fixed while N grows.  ``max_bucket`` is the
    100 TB guard, with the inclusive cap rule of
    :func:`~rdfshape_api_spark.functions.dedup.blocked_pairs` (a bucket
    of exactly ``max_bucket`` vectors is still pair-scored): larger
    buckets skip pair scoring entirely and fall through to the O(b)
    dense-family rule, which drops every member except the min-id with
    NO similarity check and sets ``n_near_dups`` = bucket size − 1.  That
    rule assumes the blocking hash is fine enough that an over-cap bucket
    is a true near-duplicate family; over a diverse corpus with too few
    planes (or cells) it drops distinct vectors, so size the blocking so
    that over-cap buckets are rare.  Per-bucket pair work is then
    ≤ max_bucket² by construction (asserted by a property test); pick
    the cap from the cell budget, e.g. max_bucket ≈ c·N/2^n_planes.  The
    keep rule is a single map-side-combinable agg over the pair list (no
    iteration, unlike connected-components dedup — the paper's semantics
    are per-cluster, not transitive). The final join back to the vector
    set is on ``vec_id`` — broadcast-able when the near-dup set is small,
    shuffle hash join otherwise.
    """
    hashed = emb.select("vec_id", "embedding").withColumn(
        "bucket", rp_bucket(F.col("embedding"), n_planes)
    )
    return _semantic_dedup_blocked(emb, hashed, threshold, max_bucket)


def _semantic_dedup_blocked(
    emb: DataFrame, hashed: DataFrame, threshold: float, max_bucket: int | None
) -> DataFrame:
    """Shared SemDeDup core over any (vec_id, embedding, bucket) blocking:
    within-bucket pair scoring + keep-the-min, with the optional over-cap
    dense-family fall-through.  The over-cap buckets are counted here, not
    by the ``blocked_pairs`` cap, because the fall-through needs their
    sizes and min ids."""
    dense_stats = None
    if max_bucket is not None:
        # one extra hash-agg over the bucket table; over-cap buckets are
        # resolved without ANY pair join (min-id survives the family)
        hashed = hashed.localCheckpoint()  # hash once, reuse on all branches
        counts = hashed.groupBy("bucket").agg(
            F.count("*").alias("_bn"), F.min("vec_id").alias("_bmin")
        )
        over = F.broadcast(counts.filter(F.col("_bn") > max_bucket))
        dense_stats = hashed.join(over, on="bucket").select(
            F.col("vec_id").alias("va"),
            (F.col("_bn") - 1).cast("bigint").alias("n_near_dups"),
            (F.col("vec_id") > F.col("_bmin")).cast("int").alias("_smaller"),
        )
        hashed = hashed.join(over.select("bucket"), on="bucket", how="left_anti")
    pairs = (
        blocked_pairs(hashed, "vec_id", ["bucket"], carry=["embedding"], symmetric=True)
        .filter(F.round(cosine(F.col("embedding_a"), F.col("embedding_b")), 4) >= threshold)
        .select(F.col("vec_id_a").alias("va"), F.col("vec_id_b").alias("vb"))
    )
    stats = pairs.groupBy("va").agg(
        F.count("*").cast("bigint").alias("n_near_dups"),
        F.max((F.col("vb") < F.col("va")).cast("int")).alias("_smaller"),
    )
    if dense_stats is not None:
        stats = stats.unionByName(dense_stats)
    return (
        emb.select("vec_id")
        .join(stats, on=F.col("vec_id") == F.col("va"), how="left")
        .select(
            "vec_id",
            F.when(F.coalesce(F.col("_smaller"), F.lit(0)) == 1, F.lit(0))
            .otherwise(F.lit(1))
            .cast("int")
            .alias("keep"),
            F.coalesce(F.col("n_near_dups"), F.lit(0)).cast("bigint").alias("n_near_dups"),
        )
    )


def pca_fit(emb: DataFrame, k: int = 8, vec_col: str = "embedding"):
    """Distributed PCA fit: ONE pass of per-partition partial moments
    (count, Σx, Σxxᵀ) via ``mapInPandas`` — each partition emits a single
    d+1 × d block, so the driver reduce sees ``n_partitions`` tiny rows
    regardless of table size — then a d×d eigendecomposition on the
    driver (d=64 here; the covariance never leaves O(d²) memory).

    Returns ``(mean: list[float], components: list[list[float]],
    explained: list[float])`` with components as the top-``k`` rows.
    Eigenvector sign is fixed deterministically (largest-|coefficient|
    entry made positive) — eigh's sign choice is arbitrary and would
    otherwise differ run-to-run.

    The moment pass is the textbook scale path (e.g. Spark MLlib's
    RowMatrix.computeCovariance does the same Σxxᵀ reduce); implemented
    directly on the DataFrame so the embedding column prunes to the
    Python workers via Arrow.
    """
    import numpy as np

    d = len(emb.select(vec_col).first()[0])

    def _partials(batches):
        import pandas as pdl

        cnt, s, ss = 0, np.zeros(d), np.zeros((d, d))
        for b in batches:
            X = np.asarray(list(b[vec_col]), dtype=np.float64)
            if len(X):
                cnt += len(X)
                s += X.sum(axis=0)
                ss += X.T @ X
        yield pdl.DataFrame(
            {"cnt": [cnt], "s": [s.tolist()], "ss": [ss.reshape(-1).tolist()]}
        )

    parts = emb.select(vec_col).mapInPandas(
        _partials, schema="cnt long, s array<double>, ss array<double>"
    ).collect()
    n = sum(r["cnt"] for r in parts)
    if n < 2:
        raise ValueError("PCA needs at least 2 vectors")
    s = np.sum([np.array(r["s"]) for r in parts], axis=0)
    ss = np.sum([np.array(r["ss"]).reshape(d, d) for r in parts], axis=0)
    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)          # ascending eigenvalues
    order = np.argsort(vals)[::-1][:k]
    comps = []
    for idx in order:
        v = vecs[:, idx]
        if v[int(np.argmax(np.abs(v)))] < 0:  # deterministic sign
            v = -v
        comps.append(v.tolist())
    return mean.tolist(), comps, [float(vals[i]) for i in order]


def pca_project(
    emb: DataFrame,
    mean: list[float],
    components: list[list[float]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1000,
) -> DataFrame:
    """Project onto fitted components — pure JVM Column arithmetic: the
    (tiny) mean/component constants are inlined as array literals and each
    coordinate is a ``zip_with``+``aggregate`` dot product, so projection
    is a map-only codegen stage (no Python, no shuffle, broadcast-free).
    Coordinates are emitted integerized (``floor(x*scale)``) for
    cross-engine comparability, same convention as tfidf_topk."""
    centered = F.zip_with(
        F.col(vec_col).cast("array<double>"),
        F.array(*[F.lit(float(m)) for m in mean]),
        lambda a, b: a - b,
    )
    coords = [
        F.floor(
            F.aggregate(
                F.zip_with(
                    centered,
                    F.array(*[F.lit(float(c)) for c in comp]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            * scale
        ).cast("bigint")
        for comp in components
    ]
    return emb.select(F.col(id_col), F.array(*coords).alias("proj"))


def pq_fit(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 7,
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Product-quantization codebooks (Jégou/Douze/Schmid PAMI'11): the
    D-dim space splits into ``m`` subspaces of D/m dims; each subspace
    gets its own ``n_codes``-centroid k-means (pyspark.ml, deterministic
    seed) fit on the full distributed table.  Vectors are L2-normalized
    first so ADC ranking by L2 distance is cosine-consistent.

    Returns ``codebooks[m][n_codes][D/m]`` — a few KB of driver-side
    constants (the broadcast dictionary of the encode/query stages).
    At 100 TB the fit runs on a sample; the codebook is write-once.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    d = len(emb.select(vec_col).first()[0])
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m}")
    ds = d // m
    unit = _unit_vec(F.col(vec_col))
    books: list[list[list[float]]] = []
    for j in range(m):
        sub = emb.select(
            array_to_vector(
                F.slice(unit, j * ds + 1, ds).cast("array<double>")
            ).alias("_features")
        )
        model = KMeans(
            k=n_codes, seed=seed + j, featuresCol="_features", predictionCol="_c"
        ).fit(sub)
        books.append([[float(x) for x in c] for c in model.clusterCenters()])
    return books


def _unit_vec(vec) -> F.Column:
    v = vec.cast("array<double>")
    nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.transform(v, lambda x: x / nrm)


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector to its PQ codes ``(id_col, codes array<int>)``
    — map-only JVM arithmetic: the codebooks inline as array literals,
    each subspace code is argmin of ``n_codes`` squared distances
    (``transform`` + ``aggregate``), first-min tiebreak via
    ``array_position``.  No Python, no shuffle; 64x compression at
    m=8 × 16 codes (64 float32 → 8 nibbles)."""
    m = len(codebooks)
    ds = len(codebooks[0][0])
    unit = _unit_vec(F.col(vec_col))
    codes = []
    for j, book in enumerate(codebooks):
        sub = F.slice(unit, j * ds + 1, ds)
        lits = F.array(*[
            F.array(*[F.lit(float(x)) for x in c]) for c in book
        ])
        dists = F.transform(
            lits,
            lambda c: F.aggregate(
                F.zip_with(sub, c, lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        )
        codes.append(
            (F.array_position(dists, F.array_min(dists)) - 1).cast("int")
        )
    return emb.select(id_col, F.array(*codes).alias("codes"))


def pq_ann_topk(
    emb: DataFrame,
    k: int = 5,
    n_queries: int = 10,
    m: int = 8,
    n_codes: int = 16,
    seed: int = 7,
    rerank: int = 50,
) -> DataFrame:
    """PQ asymmetric-distance top-k (ADC): queries stay full-precision,
    candidates are ranked by Σ_j ||q_j − centroid(code_j)||² looked up
    from a per-query table — the relational form of the ADC scan:

    * LUT = queries × (subspace, code) partial distances — ``n_queries ×
      m × n_codes`` rows (KBs), broadcast;
    * candidates' codes EXPLODE to (vec_id, subspace, code) and join the
      LUT on (query, subspace, code) — a broadcast hash join, no
      full-precision vectors move;
    * groupBy (query, candidate) sums m partials (map-side combine) and a
      per-query top-k window ranks.

    At 100 TB the encoded table is 64x smaller than the vectors and the
    scan never touches float arrays — this is the standard IVF-PQ
    candidate stage.  ``rerank`` applies the equally standard refinement:
    the ADC shortlist (top-``rerank`` per query) joins back to the
    full-precision vectors — ``n_queries × rerank`` rows, not the corpus —
    and exact cosine picks the final k.  k-means has no SQL twin, so the
    operator is recall-gated by pytest (vs :func:`cosine_topk`), outside
    the hash-oracle contract.
    """
    books = pq_fit(emb, m=m, n_codes=n_codes, seed=seed)
    ds = len(books[0][0])
    enc = pq_encode(emb, books)
    cand = enc.select(
        F.col("vec_id").alias("neighbor_id"),
        F.posexplode("codes").alias("subspace", "code"),
    )
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), _unit_vec(F.col("embedding")).alias("_q")
    )
    spark = emb.sparkSession
    book_rows = [
        (j, c, books[j][c]) for j in range(m) for c in range(n_codes)
    ]
    bdf = spark.createDataFrame(
        book_rows, "subspace int, code int, centroid array<double>"
    )
    lut = (
        q.crossJoin(F.broadcast(bdf))
        .select(
            "query_id",
            "subspace",
            "code",
            F.aggregate(
                F.zip_with(
                    F.slice(F.col("_q"), F.col("subspace") * ds + 1, ds),
                    F.col("centroid"),
                    lambda a, b: (a - b) * (a - b),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("partial"),
        )
    )
    scored = (
        cand.join(F.broadcast(lut), on=["subspace", "code"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("partial").alias("adc_dist"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= max(k, rerank))
        .select("query_id", "neighbor_id")
    )
    if rerank <= k:
        wk = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").asc(), F.col("neighbor_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(wk))
            .filter(F.col("rank") <= k)
            .select(
                "query_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id"
            )
        )
    # exact re-rank of the shortlist: join full vectors back (tiny), score
    vecs = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("n_emb")
    )
    refined = (
        shortlist.join(vecs, "neighbor_id")
        .join(
            q.select("query_id", F.col("_q").alias("q_emb")), "query_id"
        )
        .withColumn("score", cosine(F.col("q_emb"), F.col("n_emb")))
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        refined.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= k)
        .select("query_id", F.col("rank").cast("bigint").alias("rank"), "neighbor_id")
    )
