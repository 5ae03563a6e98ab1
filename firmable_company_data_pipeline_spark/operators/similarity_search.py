"""Approximate-nearest-neighbor search over an embedding column
(charter extension, SURVEY.md §7 phase 5).

Two paths:

* ``brute_force_topk`` — exact cosine top-k per query: broadcast the
  (small) query set against the corpus, window-rank per query.  The
  correctness baseline; O(|Q|·N) but embarrassingly parallel — at
  100 TB with |Q| queries this is a map-side broadcast join, one
  shuffle on the query key for the top-k window.

* ``lsh_bucketed_topk`` — sign-bit LSH: bucket every vector by the sign
  pattern of its first ``planes`` dimensions (a deterministic
  hyperplane family — axis-aligned planes, so the oracle reproduces the
  bucketing exactly), search only the query's bucket.  Sub-linear
  candidate sets; recall is approximate (documented).  The same shape
  generalizes to IVF (replace the sign pattern with a centroid id).

Both are pure Column expressions — the cosine is the oracle-exact
sequential double fold from ``functions/vectors.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast

from firmable_company_data_pipeline_spark.functions.vectors import (
    dot,
    dot_literal,
    norm2,
    probe_dim,
    to_double,
)
from firmable_company_data_pipeline_spark.session import materialize, release, spread


def kmeans_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_cells: int = 8,
    seed: int = 7,
    max_iter: int = 20,
) -> DataFrame:
    """Real IVF centroids via MLlib KMeans (Lloyd's over the distributed
    corpus — only the n_cells × dim centers ever reach the driver, as
    model parameters).  Returns (cell, centv, centn) ready for
    :func:`ivf_topk`'s ``centroids=`` parameter.  Deterministic for a
    fixed seed, but not oracle-expressible in SQL — use the default
    lowest-id centroids where bit-for-bit reproducibility matters and
    this where recall matters.

    When it matters, measured (round 9): on data with real cluster
    structure trained centers dominate — recall@10 0.9+ at nprobe=1
    where pathological lowest-id centers score far lower
    (``tests/test_similarity_search.py``) — while on the driver's
    UNIFORM synthetic embeddings there is no structure to learn and
    the deterministic baseline is already competitive (0.4-0.8 for
    both across nprobe 1-4, baseline slightly ahead, its Voronoi cells
    slightly better balanced).  Train on a sample when the corpus is
    100 TB; assignment cost is unchanged either way."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = corpus.select(
        array_to_vector(to_double(F.col(vec_col))).alias("features")
    )
    model = KMeans(k=n_cells, seed=seed, maxIter=max_iter).fit(feats)
    spark = corpus.sparkSession
    rows = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    cents = spark.createDataFrame(rows, "cell long, centv array<double>")
    return cents.select(
        "cell", "centv", F.sqrt(norm2(F.col("centv"))).alias("centn")
    )


def default_centroids(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
) -> DataFrame:
    """Deterministic stand-in centroids: the ``n_cells`` lowest-id corpus
    vectors, so the DuckDB oracle can reproduce the index bit-for-bit
    (swap in :func:`kmeans_centroids` where recall matters).

    Cell key = the centroid's own id (k lowest ids via TakeOrdered — no
    global window/sort). Any consistent key works; using the id keeps
    the nearest-cell tie-break identical to an ordinal index since ids
    and ordinals sort the same way."""
    return (
        corpus.select(
            F.col(id_col).alias("cid"), to_double(F.col(vec_col)).alias("centv")
        )
        .orderBy("cid")
        .limit(n_cells)
        .select(
            F.col("cid").alias("cell"),
            "centv",
            F.sqrt(norm2(F.col("centv"))).alias("centn"),
        )
    )


def nearest_cells(
    side: DataFrame,
    cents: DataFrame,
    id_col: str,
    vec_col: str,
    out_id: str,
    keep: int,
) -> DataFrame:
    """Attach the ``keep`` nearest centroid cells (by cosine) to every
    vector — genuinely map-only: the centroid set folds into ONE
    broadcast array-of-structs row, each vector sorts that array
    in-expression on (negated cosine, cell) — the identical
    descending-cosine / ascending-cell tie-break the former window
    applied — and explodes its ``keep`` head.  No window, no exchange:
    advice r7 flagged the previous ``Window.partitionBy(vector id)``
    formulation as a corpus-sized hash exchange + sort contradicting
    the stated 100-TB contract; this keeps scan → score → explode in a
    single stage."""
    v = side.select(
        F.col(id_col).alias(out_id),
        to_double(F.col(vec_col)).alias("v"),
        F.sqrt(norm2(to_double(F.col(vec_col)))).alias("n"),
    )
    cent_arr = broadcast(
        cents.agg(
            F.collect_list(F.struct("cell", "centv", "centn")).alias("_cents")
        )
    )
    scored = F.transform(
        F.col("_cents"),
        lambda c: F.struct(
            (-(dot(F.col("v"), c["centv"]) / (F.col("n") * c["centn"]))).alias(
                "negcos"
            ),
            c["cell"].alias("cell"),
        ),
    )
    return (
        v.join(cent_arr, F.lit(True))
        .withColumn("_pick", F.explode(F.slice(F.array_sort(scored), 1, keep)))
        .select(out_id, F.col("_pick.cell").alias("cell"), "v", "n")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Build (or extend) the IVF index: assign every corpus vector to its
    nearest centroid cell.  Returns (neighbor_id, cell, cv, cn).

    Assignment is per-vector independent — a broadcast cross-score
    against the n_cells centroid rows, map-only — so a delta batch can
    be assigned against FROZEN centroids and unioned with the existing
    index without touching any previously indexed vector: the
    incremental-upsert path (``ann_ivf_incremental``).  At 100 TB the
    index lives in parquet partitioned by cell and a daily delta is one
    map pass over the delta plus an append."""
    cents = broadcast(centroids)
    return nearest_cells(
        spread(corpus), cents, id_col, vec_col, "neighbor_id", 1
    ).withColumnsRenamed({"v": "cv", "n": "cn"})


def ivf_search(
    assigned: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    nprobe: int = 2,
) -> DataFrame:
    """Search an IVF index built by :func:`ivf_assign`: probe the
    ``nprobe`` cells nearest each query, exact-score within the probed
    cells.  Output: (query_id, neighbor_id, cos_sim, rank); self-matches
    excluded."""
    cents = broadcast(centroids)
    probes = nearest_cells(
        queries, cents, id_col, vec_col, "query_id", nprobe
    ).withColumnsRenamed({"v": "qv", "n": "qn"})
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_cells: int = 8,
    nprobe: int = 2,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF-style ANN: partition the corpus into cells around centroids,
    probe only the ``nprobe`` cells nearest each query, exact-score
    within the probed cells.  Composition of :func:`ivf_assign` (index
    build) and :func:`ivf_search`.

    Centroid selection defaults to the deterministic stand-in
    (:func:`default_centroids`) so the DuckDB oracle can reproduce the
    index bit-for-bit; swap in MLlib KMeans centers for real recall.
    The *structure* is the scale contract: assignment is a broadcast
    cross-score against n_cells rows (map-only), the search joins
    queries to corpus on the cell id — at 100 TB the corpus shuffles
    once on cell, and per-query work is |cell|·nprobe instead of N.

    Output: (query_id, neighbor_id, cos_sim, rank) like
    :func:`brute_force_topk`; self-matches excluded.

    ``centroids``: optionally pass a (cell, centv, centn) DataFrame —
    e.g. from :func:`kmeans_centroids` — to replace the deterministic
    lowest-id centers.
    """
    if centroids is None:
        centroids = default_centroids(corpus, id_col, vec_col, n_cells)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    return ivf_search(assigned, queries, centroids, id_col, vec_col, k, nprobe)


def write_ivf_index(assigned: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Persist an :func:`ivf_assign` index PARTITIONED BY cell — the
    100-TB layout the assignment docstring promises.  With the index
    laid out as ``cell=<id>/`` directories, :func:`ivf_search` over the
    read-back index triggers DYNAMIC PARTITION PRUNING: the broadcast
    probes side's cell ids become a runtime partition filter on the
    index scan, so an nprobe-cell search reads only the probed cells'
    files — search I/O is Σ|probed cells|, independent of index size.
    Pinned by ``tests/test_similarity_search.py::
    test_ivf_search_over_cell_partitions_prunes``."""
    assigned.write.partitionBy("cell").mode(mode).parquet(path)


def sign_bucket(vec, planes: int = 6):
    """Deterministic LSH bucket: integer from the sign bits of the first
    ``planes`` dimensions (axis-aligned hyperplanes)."""
    bucket = F.lit(0)
    for i in range(planes):
        bucket = bucket + F.when(
            F.element_at(vec, i + 1) > 0, F.lit(1 << i)
        ).otherwise(F.lit(0))
    return bucket


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    d: int | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector (self-matches
    excluded).  Output: (query_id, neighbor_id, cos_sim, rank).  The
    per-candidate dot runs the dimension-unrolled codegen path (r13) —
    bit-identical values, no interpreted per-pair fold.  ``d``: pass
    the known vector dimension to skip the per-call driver probe
    (verdict r13 #8 — callers composing several ANN operators probe
    once and thread it through)."""
    if d is None:
        d = probe_dim(corpus, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double(F.col(vec_col)).alias("qv"),
        F.sqrt(norm2(to_double(F.col(vec_col)), d)).alias("qn"),
    )
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        to_double(F.col(vec_col)).alias("cv"),
        F.sqrt(norm2(to_double(F.col(vec_col)), d)).alias("cn"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        c.crossJoin(broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv"), d) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def lsh_bucketed_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    planes: int = 6,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    d: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k: candidates restricted to the query's
    sign-bucket (≈ N/2^planes of the corpus per query).  Same output
    shape as ``brute_force_topk``; recall < 1 by construction.
    ``d``: see :func:`brute_force_topk`."""
    if d is None:
        d = probe_dim(corpus, vec_col)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double(F.col(vec_col)).alias("qv"),
        F.sqrt(norm2(to_double(F.col(vec_col)), d)).alias("qn"),
    ).withColumn("bucket", sign_bucket(F.col("qv"), planes))
    c = spread(corpus).select(
        F.col(id_col).alias("neighbor_id"),
        to_double(F.col(vec_col)).alias("cv"),
        F.sqrt(norm2(to_double(F.col(vec_col)), d)).alias("cn"),
    ).withColumn("bucket", sign_bucket(F.col("cv"), planes))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    return (
        c.join(broadcast(q), "bucket")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv"), d) / (F.col("qn") * F.col("cn")), 6
            ).alias("cos_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def dimension_scales(
    corpus: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """ONE-row frame with the per-dimension max-|v| scale vector of the
    corpus (array<double>) — the calibration pass of symmetric int8
    quantization.  posexplode → per-dim max aggregate → re-assembled in
    dimension order; only n_dims values ever leave the aggregation."""
    ex = spread(corpus).select(
        F.posexplode(to_double(F.col(vec_col))).alias("pos", "val")
    )
    per_dim = ex.groupBy("pos").agg(F.max(F.abs(F.col("val"))).alias("mx"))
    return per_dim.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mx"))),
            lambda s: s["mx"],
        ).alias("scales")
    )


def quantize(vec: F.Column, scales: F.Column) -> F.Column:
    """Dequantized int8 representation of ``vec``: each element snapped
    to its nearest (round-half-up, floor-based — identical semantics in
    Spark and DuckDB, unlike banker's rounding) of 255 levels spanning
    [-scale_d, +scale_d].  Returned dequantized (array<double>) so the
    existing cosine machinery applies unchanged; a storage-bound
    deployment would keep the raw int8 and the scale vector (4× smaller
    than float32, 8× smaller than the double working form)."""
    return F.zip_with(
        vec,
        scales,
        lambda x, s: F.when(
            s > 0.0, F.floor(x * 127.0 / s + 0.5) * s / 127.0
        ).otherwise(F.lit(0.0)),
    )


def quantized_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors — the memory-bound scale
    path: at 100 TB of embeddings the working set shrinks 4× vs float32
    (the scan reads the int8 column; the scale vector is a broadcast
    1-row literal), at the cost of quantization noise in the ranking.
    Same output shape as :func:`brute_force_topk` (query_id, neighbor_id,
    approx_sim, rank); the candidate-generation strategies (LSH buckets,
    IVF cells) compose on top unchanged."""
    scales = dimension_scales(corpus, vec_col)
    q = (
        queries.crossJoin(broadcast(scales))
        .select(
            F.col(id_col).alias("query_id"),
            quantize(to_double(F.col(vec_col)), F.col("scales")).alias("qv"),
        )
        .select("query_id", "qv", F.sqrt(norm2(F.col("qv"))).alias("qn"))
    )
    c = (
        spread(corpus)
        .crossJoin(broadcast(scales))
        .select(
            F.col(id_col).alias("neighbor_id"),
            quantize(to_double(F.col(vec_col)), F.col("scales")).alias("cv"),
        )
        .select("neighbor_id", "cv", F.sqrt(norm2(F.col("cv"))).alias("cn"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("approx_sim"), F.asc("neighbor_id"))
    return (
        c.crossJoin(broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
            ).alias("approx_sim"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def norm_histogram(
    emb: DataFrame,
    bin_width: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Equi-width histogram of embedding L2 norms — the standard
    embedding-hygiene report (zero-norm and outlier-norm vectors break
    cosine math downstream; a drifting norm distribution flags encoder
    regressions).

    Output (bin, lo, n_vecs) with ``lo = bin · bin_width`` rounded to
    2 dp.  Shape: map-only norm + band id (the computed-key range-join
    device), one bounded hash-agg — a grouped count at any scale.
    """
    norm = F.sqrt(norm2(to_double(F.col(vec_col))))
    return (
        spread(emb)
        .select(F.floor(norm / bin_width).cast("long").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .select("bin", F.round(F.col("bin") * bin_width, 2).alias("lo"), "n_vecs")
    )


# Product-quantization geometry (Jégou et al. 2011, "Product
# Quantization for Nearest Neighbor Search"): split the D-dim space
# into PQ_M subspaces of D/PQ_M dims, learn PQ_KS centroids per
# subspace, store each vector as PQ_M small codes — PQ_M bytes per
# vector at PQ_KS <= 256, the memory shape that keeps a 100-TB-scale
# index resident (64-dim float32 = 256 B/vector; m=8, ks=8 codes =
# 8 B/vector, a 32x reduction).
PQ_M = 8
PQ_KS = 8


def _pq_dim(corpus: DataFrame, vec_col: str) -> int:
    """One dimension probe (a 1-row Spark job) shared by the PQ entry
    points — advice r11: pq_topk ran it twice (codebooks + encode) and
    ivf_pq_topk three times; now each top-level call probes once and
    passes ``d`` down."""
    return corpus.select(F.size(to_double(F.col(vec_col))).alias("n")).first()["n"]


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
    d: int | None = None,
) -> DataFrame:
    """Per-subspace PQ codebooks from the deterministic-centroid seam:
    centroid ``cell`` of subspace ``sub`` is the sub-slice of the
    ``cell``-th lowest-id corpus vector — bit-for-bit reproducible by
    the DuckDB oracle, exactly :func:`default_centroids`' contract
    (swap in per-subspace :func:`kmeans_centroids` sub-slices where
    recall matters; the scorer only reads (sub, cell, centv)).  Output:
    (sub, cell, centv) with ``m × ks`` rows — broadcast-sized at any
    corpus scale.  The dim must divide evenly into ``m`` subspaces
    (raise otherwise: a ragged tail would silently mis-slice)."""
    if d is None:
        d = _pq_dim(corpus, vec_col)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible into {m} PQ subspaces")
    sub_d = d // m
    base = (
        corpus.select(
            F.col(id_col).alias("cid"), to_double(F.col(vec_col)).alias("v")
        )
        .orderBy("cid")
        .limit(ks)
    )
    # ordinal cell ids via a window over <= ks rows (tiny by contract)
    cells = base.withColumn(
        "cell", F.row_number().over(Window.orderBy("cid")) - 1
    )
    return cells.select(
        F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("sub"),
        "cell",
        "v",
    ).select(
        "sub",
        "cell",
        F.slice("v", F.col("sub") * sub_d + 1, sub_d).alias("centv"),
    )


def _pq_cb_array(codebooks: DataFrame, m: int, ks: int):
    """Fold the m × ks codebook into ONE broadcast array-of-structs row
    sorted by (sub, cell) so ``element_at(cb, sub*ks + cell + 1)`` is a
    direct index — the in-expression lookup-table device shared with
    :func:`nearest_cells`.  The direct index is only sound when the
    table is EXACTLY m × ks rows (review r11: a corpus with fewer than
    ks vectors, or a trained model returning fewer centers, would shift
    the stride and silently decode the wrong subspace's centroids) —
    short tables fail loudly at execution.  The row COUNT alone is not
    enough (advice r11): a caller-supplied table with a duplicated
    (sub, cell) and a missing one passes the size check yet still
    shifts the stride — so the sorted array's (sub, cell) sequence is
    also checked against the expected grid position-by-position."""
    grid_ok = F.forall(
        F.transform(
            F.col("cb"),
            lambda e, i: (e["sub"] == (i / ks).cast("int"))
            & (e["cell"] == i % ks),
        ),
        lambda ok: ok,
    )
    return broadcast(
        codebooks.agg(
            F.array_sort(
                F.collect_list(F.struct("sub", "cell", "centv"))
            ).alias("cb")
        ).select(
            F.when((F.size("cb") == m * ks) & grid_ok, F.col("cb"))
            .otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            f"PQ codebook must be the complete {m} x {ks} "
                            f"(sub, cell) grid ({m * ks} rows, no gaps or "
                            "duplicates), got "
                        ),
                        F.size("cb").cast("string"),
                        F.lit(" rows"),
                    )
                )
            )
            .alias("cb")
        )
    )


def _pq_reconstruct(m: int, ks: int, codes_col: str = "codes"):
    """The codebook-reconstruction expression shared by :func:`pq_topk`
    and :func:`ivf_pq_topk` (review r11: it was duplicated — a decode
    fix must land once): concatenate each subspace's chosen centroid
    from the broadcast ``cb`` array row."""
    return F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda j: F.element_at(
                F.col("cb"), j * ks + F.element_at(F.col(codes_col), j + 1) + 1
            )["centv"],
        )
    )


def _pq_codes(sub_d: int, m: int, ks: int):
    """The code-word expression shared by :func:`pq_encode` and the
    fused :func:`ivf_pq_topk` scan — expects columns ``v`` (double
    vector) and ``cb`` (the :func:`_pq_cb_array` row) in scope:
    ``codes[j] = argmin_c L2²(v_subj, centv(j, c))``, ties to the
    lowest cell, the sequential-left-fold distance both engines
    reproduce bit-for-bit."""

    def dist(j, c):
        cent = F.element_at(F.col("cb"), j * ks + c + 1)["centv"]
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(sub_d)),
            F.lit(0.0),
            lambda acc, i: acc
            + (F.element_at(F.col("v"), j * sub_d + i) - F.element_at(cent, i))
            * (F.element_at(F.col("v"), j * sub_d + i) - F.element_at(cent, i)),
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.element_at(
            F.array_sort(
                F.transform(
                    F.sequence(F.lit(0), F.lit(ks - 1)),
                    lambda c: F.struct(dist(j, c).alias("d"), c.alias("cell")),
                )
            ),
            1,
        )["cell"],
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
    d: int | None = None,
) -> DataFrame:
    """Encode every vector as its PQ code word — (vec_id, codes
    array<int> of length m) with ``codes[j] = argmin_c L2²(v_subj,
    centv(j, c))``, ties to the lowest cell (array_sort on (dist,
    cell) structs; the distance fold is the sequential left fold both
    engines reproduce bit-for-bit).  MAP-ONLY against the broadcast
    codebook row: encoding 100 TB is a scan — no shuffle, no window,
    the index append is one write of m-byte codes per vector."""
    if d is None:
        d = _pq_dim(corpus, vec_col)
    # re-checked here, not only in pq_codebooks (review r11): with a
    # CALLER-supplied codebook a non-divisible dim would silently
    # mis-slice and zip_with would NULL-pad every similarity downstream
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible into {m} PQ subspaces")
    sub_d = d // m
    v = corpus.select(
        F.col(id_col).alias("vec_id"), to_double(F.col(vec_col)).alias("v")
    )
    cb = _pq_cb_array(codebooks, m, ks)
    return v.join(cb, how="cross").select(
        "vec_id", _pq_codes(sub_d, m, ks).alias("codes")
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """PQ-approximate cosine top-k (asymmetric distance computation):
    exact query vectors scored against each neighbor's CODEBOOK
    RECONSTRUCTION — approx_sim = cos(q, recon(codes)) — so the only
    per-neighbor state the index needs is the m-code word (m bytes) and
    the scan reconstructs sub-vectors from the broadcast codebook
    in-expression.  This reconstruct-then-fold form is value-identical
    to Jégou-style per-query ADC lookup tables up to float-sum
    association (the table precomputes the same subspace dot products);
    the fold form is what the ann_pq oracle reproduces bit-for-bit, so
    it stays this query's registered contract — the ADC table form is
    implemented in :func:`pq_adc_tables` and is :func:`ivf_pq_topk`'s
    default scorer (r12).  Output: (query_id, neighbor_id, approx_sim,
    rank) for ``rank <= k`` — same contract as :func:`quantized_topk`,
    recall pinned against it on the clustered fixture in
    tests/test_similarity_search.py.

    Scale shape: encode is map-only (see :func:`pq_encode`); scoring
    joins the (small, sampled) query set against the code table with a
    broadcast of the queries, reconstructing and folding inside
    whole-stage codegen; the per-query top-k window partitions on
    query_id.  Index memory: m bytes/vector + the m×ks×(D/m)-double
    codebook — independent of corpus size."""
    d = _pq_dim(corpus, vec_col)
    cbs = (
        codebooks
        if codebooks is not None
        else pq_codebooks(corpus, id_col, vec_col, m, ks, d=d)
    )
    codes = pq_encode(corpus, cbs, id_col, vec_col, m, ks, d=d)
    cb = _pq_cb_array(cbs, m, ks)
    recon = _pq_reconstruct(m, ks)
    docs = codes.join(cb, how="cross").select(
        F.col("vec_id").alias("neighbor_id"),
        recon.alias("rv"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        to_double(F.col(vec_col)).alias("qv"),
    )
    scored = docs.join(broadcast(q), F.col("neighbor_id") != F.col("query_id"))
    sim = F.round(
        dot(F.col("qv"), F.col("rv"))
        / (F.sqrt(norm2(F.col("qv"))) * F.sqrt(norm2(F.col("rv")))),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    return (
        scored.select("query_id", "neighbor_id", sim.alias("approx_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def pq_kmeans_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
    seed: int = 7,
    max_iter: int = 20,
) -> DataFrame:
    """TRAINED per-subspace PQ codebooks via MLlib KMeans — the
    real-recall arm of :func:`pq_codebooks`, same (sub, cell, centv)
    contract so :func:`pq_encode` / :func:`pq_topk` serve either table
    (the kmeans_centroids / lr_quality_weights import-gate seam: solver
    outputs are not oracle-expressible, so this arm is pytest-gated,
    never registered).  One KMeans fit per subspace over the sub-sliced
    vectors; only the m × ks × (D/m) centers reach the driver, as model
    parameters.  Train on a sample at 100 TB; encoding cost is
    unchanged either way."""
    try:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector
    except ImportError as exc:  # pragma: no cover - env-gated
        raise NotImplementedError(
            "pq_kmeans_codebooks needs pyspark.ml (numpy): " + str(exc)
        ) from exc

    d = _pq_dim(corpus, vec_col)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible into {m} PQ subspaces")
    sub_d = d // m
    v = materialize(corpus.select(to_double(F.col(vec_col)).alias("v")), "iterate")
    spark = corpus.sparkSession
    rows = []
    for j in range(m):
        feats = v.select(
            array_to_vector(F.slice("v", j * sub_d + 1, sub_d)).alias("features")
        )
        model = KMeans(k=ks, seed=seed + j, maxIter=max_iter).fit(feats)
        for c, center in enumerate(model.clusterCenters()):
            rows.append((j, c, [float(x) for x in center]))
    release(v)
    return spark.createDataFrame(
        rows, "sub int, cell int, centv array<double>"
    )


def pq_adc_tables(
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = PQ_M,
    ks: int = PQ_KS,
    d: int | None = None,
) -> DataFrame:
    """Per-query ADC lookup tables (Jégou et al. 2011 §III-B — the
    production PQ scorer the r11 docstrings promised as "the documented
    production rewrite"): ONE row per query carrying ``lut[sub*ks +
    cell] = (pdot, pnorm)`` where pdot = ⟨q_sub, centv(sub, cell)⟩ and
    pnorm = |centv(sub, cell)|², each a sequential left fold over the
    sub_d elements.  Scoring a candidate then costs m ``element_at``
    lookups + an m-term fold (O(m)) instead of reconstructing and
    folding the full d-dim vector (O(d)) — at m=8, d=64 an 8× cut in
    per-candidate work, and the gap widens with d.  The table frame is
    |Q| rows of m×ks structs — broadcast-sized for any sampled query
    set, built by one cross join against the broadcast codebook row."""
    if d is None:
        d = _pq_dim(queries, vec_col)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible into {m} PQ subspaces")
    sub_d = d // m
    cb = _pq_cb_array(codebooks, m, ks)
    q = queries.select(
        F.col(id_col).alias("query_id"), to_double(F.col(vec_col)).alias("qv")
    )

    def entry(t):
        cent = F.element_at(F.col("cb"), t + 1)["centv"]
        sub = (t / ks).cast("int")
        pdot = F.aggregate(
            F.sequence(F.lit(1), F.lit(sub_d)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(F.col("qv"), sub * sub_d + i) * F.element_at(cent, i),
        )
        pnorm = F.aggregate(
            F.sequence(F.lit(1), F.lit(sub_d)),
            F.lit(0.0),
            lambda acc, i: acc + F.element_at(cent, i) * F.element_at(cent, i),
        )
        return F.struct(pdot.alias("pdot"), pnorm.alias("pnorm"))

    lut = F.transform(F.sequence(F.lit(0), F.lit(m * ks - 1)), entry)
    return q.join(cb, how="cross").select("query_id", lut.alias("lut"))


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = PQ_M,
    ks: int = PQ_KS,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
    scorer: str = "adc",
) -> DataFrame:
    """IVF-PQ — the production ANN composition (Jégou et al. 2011 §IV:
    coarse quantizer prunes the candidate set, product codes bound the
    per-candidate memory): probe the ``nprobe`` IVF cells nearest each
    query, then score ONLY the probed cells' vectors from their m-byte
    PQ codes.  Per-query work is |cell|·nprobe instead of N,
    per-candidate state is m bytes instead of the raw vector — the
    index that stays RAM-resident at 100 TB.

    ``scorer='adc'`` (default, registered r12): per-query lookup tables
    from :func:`pq_adc_tables` — approx_sim = Σⱼ lut[j, codeⱼ].pdot /
    (|q| · sqrt(Σⱼ lut[j, codeⱼ].pnorm)), an O(m) fold per candidate.
    ``scorer='reconstruct'`` keeps the r11 oracle-contract form
    (concatenate centroids, O(d) cosine fold) — value-identical up to
    float-sum association, rank-identical on the fixtures (pinned in
    tests/test_similarity_search.py).

    Scale shape (r12 rewrite): cell id and code word are BOTH computed
    in the same single corpus scan against broadcast rows
    (:func:`ivf_assign`'s nearest-cell explode + :func:`_pq_codes`) —
    r11 built them as two scans joined on vec_id, a corpus-sized
    shuffle the fusion deletes.  The probe side is |Q|·nprobe rows, so
    the cell join broadcasts it; the only exchange left is the
    per-query top-k window.  Output: (query_id, neighbor_id,
    approx_sim, rank), self-matches excluded — restricted to probed
    cells, so recall vs :func:`pq_topk` follows the IVF nprobe/n_cells
    trade exactly."""
    if scorer not in ("adc", "reconstruct"):
        raise ValueError(f"unknown scorer {scorer!r}")
    d = _pq_dim(corpus, vec_col)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible into {m} PQ subspaces")
    cents = (
        centroids
        if centroids is not None
        else default_centroids(corpus, id_col, vec_col, n_cells)
    )
    cbs = (
        codebooks
        if codebooks is not None
        else pq_codebooks(corpus, id_col, vec_col, m, ks, d=d)
    )
    cb = _pq_cb_array(cbs, m, ks)
    # ONE corpus scan: nearest cell (broadcast centroid row) and PQ code
    # word (broadcast codebook row) computed side by side.
    docs = (
        ivf_assign(corpus, cents, id_col, vec_col)
        .select("neighbor_id", "cell", F.col("cv").alias("v"))
        .join(cb, how="cross")
        .select("neighbor_id", "cell", _pq_codes(d // m, m, ks).alias("codes"))
    )
    probes = nearest_cells(
        queries, broadcast(cents), id_col, vec_col, "query_id", nprobe
    ).withColumnsRenamed({"v": "qv", "n": "qn"})
    cand = (
        broadcast(probes.select("query_id", "cell", "qn"))
        .join(docs, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    if scorer == "adc":
        lut = pq_adc_tables(queries, cbs, id_col, vec_col, m, ks, d=d)

        def fold(field):
            return F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc
                + F.element_at(
                    F.col("lut"),
                    j * ks + F.element_at(F.col("codes"), j + 1) + 1,
                )[field],
            )

        sim = F.round(
            fold("pdot") / (F.col("qn") * F.sqrt(fold("pnorm"))), 6
        )
        scored = cand.join(broadcast(lut), "query_id").select(
            "query_id", "neighbor_id", sim.alias("approx_sim")
        )
    else:
        recon = _pq_reconstruct(m, ks)
        qv = broadcast(
            probes.select("query_id", "qv").dropDuplicates(["query_id"])
        )
        sim = F.round(
            dot(F.col("qv"), F.col("rv"))
            / (F.col("qn") * F.sqrt(norm2(F.col("rv")))),
            6,
        )
        scored = (
            cand.join(cb, how="cross")
            .withColumn("rv", recon)
            .join(qv, "query_id")
            .select("query_id", "neighbor_id", sim.alias("approx_sim"))
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def ivf_residuals(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell, resid) — each vector's IVF cell and its residual
    against that cell's centroid, in ONE fused corpus scan (assignment
    and subtraction both against broadcast rows).  The encoding input
    of :func:`ivf_pq_residual_topk`, exposed so callers can train
    residual sub-codebooks (``pq_kmeans_codebooks(..., vec_col='resid')``)
    on the same frame the index encodes."""
    return (
        ivf_assign(corpus, centroids, id_col, vec_col)
        .join(broadcast(centroids), "cell")
        .select(
            F.col("neighbor_id").alias("vec_id"),
            "cell",
            F.zip_with(F.col("cv"), F.col("centv"), lambda a, b: a - b).alias(
                "resid"
            ),
        )
    )


def ivf_pq_residual_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    nprobe: int = 2,
    m: int = PQ_M,
    ks: int = PQ_KS,
    centroids: DataFrame | None = None,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVFADC proper (Jégou et al. 2011 §IV-A): product-quantize the
    RESIDUAL ``r = v − c(cell(v))`` instead of the raw vector.  The
    coarse quantizer absorbs the between-cell variance, so the m-byte
    code only has to cover the (much smaller) within-cell spread —
    the encoding FAISS's IndexIVFPQ ships, and the recall upgrade over
    :func:`ivf_pq_topk` at identical index memory when centroids carry
    real cluster structure (pinned on the clustered fixture in
    tests/test_similarity_search.py).

    Scoring is pure ADC with the residual decomposition
    ``v̂ = c(cell) + recon(codes)``:

        num   = ⟨q, c⟩ + Σⱼ lut[j, codeⱼ].pdot
        ‖v̂‖² = ‖c‖² + 2·Σⱼ xdot(cell)[j, codeⱼ] + Σⱼ lut[j, codeⱼ].pnorm

    where ``lut`` is :func:`pq_adc_tables` over the residual codebook
    (raw query against residual centroids — ⟨q, recon⟩ splits by
    subspace), and ``xdot`` is the query-independent cells × (m·ks)
    cross-term table ⟨c_sub, centvₚ⟩ — n_cells·m·ks doubles, broadcast.
    Per-candidate work stays O(m): three ordered m-term folds.

    Deterministic seams for the oracle: lowest-id coarse centroids
    (:func:`default_centroids`), residual codebooks from the ks
    lowest-id NON-centroid vectors (the centroid vectors' own residuals
    are identically zero — a degenerate codebook — so they are
    anti-joined out of the base).  Everything else composes the audited
    pieces: one fused corpus scan (assign + residual + code word, all
    against broadcast rows), broadcast probes/luts/cross-terms, one
    top-k window exchange."""
    d = _pq_dim(corpus, vec_col)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible into {m} PQ subspaces")
    sub_d = d // m
    cents = (
        centroids
        if centroids is not None
        else default_centroids(corpus, id_col, vec_col, n_cells)
    )
    cents_b = broadcast(cents)
    resid_full = ivf_residuals(corpus, cents, id_col, vec_col)
    if codebooks is None:
        base = resid_full.join(
            cents.select(F.col("cell").alias("vec_id")), "vec_id", "left_anti"
        )
        codebooks = pq_codebooks(base, "vec_id", "resid", m, ks, d=d)
    cb = _pq_cb_array(codebooks, m, ks)
    docs = (
        resid_full.select(
            F.col("vec_id").alias("neighbor_id"), "cell", F.col("resid").alias("v")
        )
        .join(cb, how="cross")
        .select("neighbor_id", "cell", _pq_codes(sub_d, m, ks).alias("codes"))
    )

    # query-independent cross-term table: xarr[t] = <c_sub(t), centv_pq(t)>
    def xentry(t):
        centp = F.element_at(F.col("cb"), t + 1)["centv"]
        sub = (t / ks).cast("int")
        return F.aggregate(
            F.sequence(F.lit(1), F.lit(sub_d)),
            F.lit(0.0),
            lambda acc, i: acc
            + F.element_at(F.col("centv"), sub * sub_d + i)
            * F.element_at(centp, i),
        )

    xt = broadcast(
        cents.join(cb, how="cross").select(
            "cell",
            F.transform(F.sequence(F.lit(0), F.lit(m * ks - 1)), xentry).alias(
                "xarr"
            ),
            norm2(F.col("centv")).alias("cnorm2"),
        )
    )
    probes = (
        nearest_cells(queries, cents_b, id_col, vec_col, "query_id", nprobe)
        .join(cents_b, "cell")
        .select(
            "query_id",
            "cell",
            F.col("n").alias("qn"),
            dot(F.col("v"), F.col("centv")).alias("qcdot"),
        )
    )
    lut = pq_adc_tables(queries, codebooks, id_col, vec_col, m, ks, d=d)

    def fold_lut(field):
        return F.aggregate(
            F.sequence(F.lit(0), F.lit(m - 1)),
            F.lit(0.0),
            lambda acc, j: acc
            + F.element_at(
                F.col("lut"), j * ks + F.element_at(F.col("codes"), j + 1) + 1
            )[field],
        )

    xfold = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc
        + F.element_at(
            F.col("xarr"), j * ks + F.element_at(F.col("codes"), j + 1) + 1
        ),
    )
    sim = F.round(
        (F.col("qcdot") + fold_lut("pdot"))
        / (
            F.col("qn")
            * F.sqrt(F.col("cnorm2") + 2 * xfold + fold_lut("pnorm"))
        ),
        6,
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("approx_sim"), F.asc("neighbor_id")
    )
    return (
        broadcast(probes)
        .join(docs, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(broadcast(lut), "query_id")
        .join(xt, "cell")
        .select("query_id", "neighbor_id", sim.alias("approx_sim"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


# ---------------------------------------------------------------------------
# MMR diversified reranking (round 12) — Maximal Marginal Relevance
# (Carbonell & Goldstein 1998): greedily build a k-set maximizing
# λ·rel(v) − (1−λ)·max_{s∈S} cos(v, s), the standard diversity rerank
# between ANN retrieval and the consumer (RAG context assembly, dedup-
# aware sampling).  Inherently sequential in k, so the loop follows the
# ``bpe_train`` bounded-iteration convention: k tiny argmax jobs, each
# collecting exactly ONE row; the candidate scoring itself is a full
# DataFrame pass (distributed over any corpus size), with the selected
# set — k vectors, kilobytes — folded into the expression as literals.
# Every cosine is rounded to 6 dp BEFORE the argmax compare, and ties
# break on vec_id, so both engines pick identical rows.
def mmr_rerank(
    corpus: DataFrame,
    query_id: int = 0,
    k: int = 8,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    d: int | None = None,
) -> DataFrame:
    """Output: (rank 1..k, vec_id, mmr_score) — the diversified top-k
    for the query vector ``query_id`` over the rest of the corpus.

    r13 per-task-work pass (guide §1.2): the candidate norm
    ``sqrt(norm2(v))`` is computed ONCE into the checkpointed frame
    instead of once per penalty term per step (same expression on the
    same data — identical IEEE value); the per-step penalty norm over
    the SELECTED vector is a Python-computed literal (the same
    sequential x*x left fold in doubles — bit-identical to the JVM
    fold); and every dot runs the dimension-unrolled codegen path.
    Values are unchanged — only the k probe jobs got cheaper.
    ``d``: see :func:`brute_force_topk`."""
    if d is None:
        d = probe_dim(corpus, vec_col)
    e = spread(corpus).select(
        F.col(id_col).alias("vid"), to_double(F.col(vec_col)).alias("v")
    )
    qv = e.filter(F.col("vid") == query_id).select(F.col("v").alias("qv"))
    rel = (
        e.filter(F.col("vid") != query_id)
        .crossJoin(broadcast(qv))
        .select(
            "vid",
            "v",
            F.round(
                dot(F.col("v"), F.col("qv"), d)
                / (F.sqrt(norm2(F.col("v"), d)) * F.sqrt(norm2(F.col("qv"), d))),
                6,
            ).alias("rel"),
            F.sqrt(norm2(F.col("v"), d)).alias("nrm"),
        )
        .transform(materialize, "iterate", eager=True)  # scored once, probed k times
    )
    spark = corpus.sparkSession

    def _py_norm(vec: list[float]) -> float:
        import math

        acc = 0.0
        for x in vec:  # the same sequential left fold as norm2()
            acc = acc + x * x
        return math.sqrt(acc)

    selected: list[tuple[int, list[float]]] = []
    out_rows: list[tuple[int, int, float]] = []
    for step in range(1, k + 1):
        if selected:
            # dot_literal, not dot(v, F.lit(sv), d) (r14): the generic
            # unroll embeds the full 64-literal array under every
            # element_at — ~6·d² nodes per penalty term, and every step
            # compiles a FRESH plan (new literals), so plan analysis +
            # codegen dominated the query.  Values bit-identical.
            pens = [
                F.round(
                    dot_literal(F.col("v"), sv)
                    / (F.col("nrm") * F.lit(_py_norm(sv))),
                    6,
                )
                for _, sv in selected
            ]
            pen = F.greatest(*pens) if len(pens) > 1 else pens[0]
            pool = rel.filter(~F.col("vid").isin([sid for sid, _ in selected]))
        else:
            pen = F.lit(0.0)
            pool = rel
        # round(1-λ, 10), matching the oracle's constant: the raw float
        # 1.0-0.7 is 0.30000000000000004, and a different multiplier can
        # flip a 6-dp half-boundary round and with it the argmax
        # (review r12).
        score = F.round(
            F.lit(lam) * F.col("rel") - F.lit(round(1.0 - lam, 10)) * pen, 6
        )
        rows = (
            pool.select("vid", "v", score.alias("mmr"))
            .orderBy(F.desc("mmr"), F.asc("vid"))
            .limit(1)
            .collect()
        )
        if not rows:  # k exceeds the candidate pool: emit the total order
            break
        top = rows[0]
        selected.append((top["vid"], list(top["v"])))
        out_rows.append((step, top["vid"], float(top["mmr"])))
    return spark.createDataFrame(out_rows, "rank int, vec_id long, mmr_score double")
