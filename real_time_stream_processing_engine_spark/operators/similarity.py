"""Similarity search over embedding columns.

Brute-force cosine top-k is the exact baseline (a scan-speed map — the
query vector is a literal in the plan, all math in codegen, the top-k a
TakeOrdered that never shuffles the scores).  The blocked/IVF variants
are the sub-linear scale path: restrict the scan to the partitions
whose centroid is near the query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import fan_out_buckets
from ..functions.vectors import dot, l2_norm, lit_double_array
from .dedup import MAX_BUCKET, _cap_buckets


def brute_force_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.  Scores are
    rounded to 6dp before ordering so the result set is deterministic
    under floating-point reassociation.  The query norm is a driver-side
    constant (HOFs over literal arrays are not constant-folded, so
    leaving it symbolic would re-reduce 64 literals per row).
    Delegates to :func:`_exact_rank` — the IVF probe paths rank through
    the SAME code, which is what makes their exact-baseline comparison
    (q111 recall@10) a statement about pruning, not scoring."""
    return _exact_rank(emb, query_vec, k, id_col, vec_col, exclude_id)


def blocked_neardup_pairs(
    emb: DataFrame,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    max_bucket: int | None = MAX_BUCKET,
    on_overflow: str = "drop",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key.

    Shape: bucket-pairs, not a self-join — the equi-keyed self-join
    scans the vector column (the table's dominant bytes) twice; one
    groupBy(block) + collect_list scans it once and expands each
    block's pair combinations in a single JVM expression, dot products
    included.  Cost is sum over blocks of |block|^2, never |corpus|^2.
    At 100 TB the block is an LSH bucket or IVF cell of a few thousand
    vectors; here the fixture's label plays that role.  Norms are
    computed once per vector BEFORE the grouping (|corpus| sqrts
    instead of 2x|pairs|).  ``max_bucket`` enforces the mega-block
    guard (a block of 10^6 vectors is a 10^12-dot-product task):
    oversized blocks drop with overflow accounting on the returned
    DataFrame's ``bucket_overflow`` stats frame, or fail loudly with
    ``on_overflow='error'``."""
    normed = emb.select(
        F.col(block_col).alias("_blk"),
        F.struct(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            l2_norm(F.col(vec_col)).alias("n"),
        ).alias("_m"),
    )
    buckets = (
        normed.groupBy("_blk")
        .agg(F.sort_array(F.collect_list("_m")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    buckets, overflow_stats = _cap_buckets(buckets, "ms", max_bucket, on_overflow)
    # The |bucket|² expansion is CPU-heavy but byte-light, so AQE
    # coalesces the post-aggregate exchange to ~1 partition and the
    # dot products run serial; spread the bucket rows when the source
    # is an under-split local file (no-op at scale — r12 opt, same
    # rationale as the dedup fan-out sites)
    buckets = fan_out_buckets(buckets)
    pairs = buckets.select(
        F.explode(_cosine_pair_expr(threshold)).alias("p")
    ).select("p.vec_a", "p.vec_b", "p.cos_sim")
    pairs.bucket_overflow = overflow_stats
    return pairs


def _cosine_pair_expr(threshold: float):
    """In-bucket pair expansion with exact cosine verification — ONE
    codegen expression shared by :func:`blocked_neardup_pairs` and
    :func:`rp_lsh_neardup_pairs` (they carried verbatim copies; a fix
    to one would have silently missed the other — r7 review).

    Buckets are sorted by id and (i < j) keeps vec_a < vec_b; the dot
    product runs inside the same codegen'd expression
    (double-promoted like dot()).  ``try_divide`` maps a zero-norm
    vector's cosine to NULL (a bare ``/`` would fail the whole job
    under ANSI), and the threshold filter then excludes its pairs —
    cosine against the zero vector is undefined, so exclusion is the
    declared semantics (same posture as ``_cell_assignment_expr``)."""
    return F.expr(
        f"""
      flatten(transform(ms, (x, i) ->
        filter(transform(ms, (y, j) ->
          CASE WHEN j > i THEN named_struct(
            'vec_a', x.id, 'vec_b', y.id,
            'cos_sim', round(
              try_divide(
                aggregate(zip_with(x.v, y.v,
                           (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE)),
                          CAST(0 AS DOUBLE), (acc, z) -> acc + z),
                x.n * y.n), 6)) END),
          p -> p IS NOT NULL AND p.cos_sim > {float(threshold)})))
    """
    )


def _rp_bucket_expr(hyperplanes: list[tuple[int, list[float]]], vec_col: str):
    """Random-projection LSH bucket id as ONE codegen expression.

    Charikar sign-LSH for cosine: bit j of the bucket is
    ``dot(v, h_j) > 0``; vectors bucket together iff the query's
    hyperplane set cannot separate them, with collision probability
    ``1 - angle/pi`` per bit.  The hyperplane set rides into the plan as
    a single array-of-structs literal folded by one
    ``aggregate(transform(...))`` — O(1) expression tree, map-only pass,
    no join, no shuffle (same plan discipline as
    :func:`_cell_assignment_expr`)."""

    def vec_sql(v: list[float]) -> str:
        return "array(" + ",".join(repr(float(x)) + "D" for x in v) + ")"

    hp_sql = "array(" + ",".join(
        f"struct({int(j)} AS j, {vec_sql(h)} AS h)"
        for j, h in sorted(hyperplanes, key=lambda t: int(t[0]))
    ) + ")"
    return F.expr(
        f"""
        aggregate(
          transform({hp_sql}, s ->
            CASE WHEN aggregate(zip_with({vec_col}, s.h,
                                 (x, y) -> CAST(x AS DOUBLE) * y),
                                0D, (a, x) -> a + x) > 0D
                 THEN shiftleft(CAST(1 AS BIGINT), s.j) ELSE CAST(0 AS BIGINT) END),
          CAST(0 AS BIGINT), (acc, x) -> acc + x)
        """
    )


def rp_lsh_neardup_pairs(
    emb: DataFrame,
    bands: list[list[tuple[int, list[float]]]],
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_bucket: int | None = MAX_BUCKET,
    on_overflow: str = "drop",
) -> DataFrame:
    """Embedding near-dup pairs via banded random-hyperplane (sign) LSH
    — the data-independent bucketing path next to
    :func:`blocked_neardup_pairs` (needs a blocking column) and IVF
    (needs trained centroids).

    ``bands`` is L lists of B hyperplanes each.  One map-only projection
    computes all L sign-buckets per vector (each an
    :func:`_rp_bucket_expr` fold); an L-way explode feeds the bucket-pair
    machinery — candidates collide in >= 1 band, exact cosine verifies
    inside buckets only, then pairs dedup.  A pair at cosine c collides
    with probability ``1 - (1 - (1 - acos(c)/pi)^B)^L``: B tunes bucket
    size, L buys back recall.  Cost is L x corpus through one shuffle
    plus Σ|bucket|² expansion; the mega-bucket cap is inherited
    (a zero vector or an all-positive corpus region is the degenerate
    bucket here)."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                _rp_bucket_expr(hps, vec_col).alias("bkt"),
            )
            for b, hps in enumerate(bands)
        ]
    )
    normed = emb.select(
        F.struct(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            l2_norm(F.col(vec_col)).alias("n"),
        ).alias("_m"),
        F.explode(band_structs).alias("_bb"),
    )
    buckets = (
        normed.groupBy("_bb.band", "_bb.bkt")
        .agg(F.sort_array(F.collect_list("_m")).alias("ms"))
        .filter(F.size("ms") > 1)
    )
    buckets, overflow_stats = _cap_buckets(buckets, "ms", max_bucket, on_overflow)
    # spread the CPU-heavy |bucket|² cosine expansion (measured on q47:
    # AQE coalesced the 48-bucket frame to ~1 partition; 4.4 s -> 1.9 s
    # isolated with fan-out, identical pairs — r12 opt)
    buckets = fan_out_buckets(buckets)
    pairs = (
        buckets.select(F.explode(_cosine_pair_expr(threshold)).alias("p"))
        .select("p.vec_a", "p.vec_b", "p.cos_sim")
        .distinct()
    )
    pairs.bucket_overflow = overflow_stats
    return pairs


def _cell_assignment_expr(centroids: list[tuple[int, list[float]]], vec_col: str):
    """Nearest-centroid cell id as ONE codegen expression.

    The codebook rides into the plan as a single array-of-structs
    literal consumed by one ``aggregate(transform(...))`` argmax, so the
    expression tree is O(1) in codebook size and the whole assignment is
    a map-only pass (no join, no shuffle).  The row vector's own norm is
    constant across centroids, so ranking by dot/|c| equals full cosine.
    Codebook sorted by cid + explicit lower-cid tie-break: ties assign
    deterministically (the oracle's cid-ASC policy).

    A NULL similarity (zero-norm centroid from an empty k-means cell —
    ``try_divide`` maps the division by zero to NULL under ANSI and
    non-ANSI alike — or a null/ragged embedding) coalesces to
    -Infinity: without that, the argmax fold would adopt the first
    struct and FREEZE (every later NULL comparison keeps acc),
    silently assigning the lowest cid (r5 review catch).  All-NULL
    rows thus assign the lowest cid deterministically instead of
    poisoning the fold or failing the job."""
    import math

    def vec_sql(v: list[float]) -> str:
        return "array(" + ",".join(repr(float(x)) + "D" for x in v) + ")"

    cb_sql = "array(" + ",".join(
        f"struct({int(cid)} AS cid, {vec_sql(c)} AS c, "
        f"{math.sqrt(sum(float(x) * float(x) for x in c))!r}D AS nrm)"
        for cid, c in sorted(centroids, key=lambda t: int(t[0]))
    ) + ")"
    return F.expr(
        f"""
        aggregate(
          transform({cb_sql}, s -> struct(
            coalesce(
              try_divide(
                aggregate(zip_with({vec_col}, s.c, (x, y) -> CAST(x AS DOUBLE) * y),
                          0D, (a, x) -> a + x),
                s.nrm),
              CAST('-Infinity' AS DOUBLE)) AS sim,
            s.cid AS cid)),
          CAST(NULL AS STRUCT<sim: DOUBLE, cid: INT>),
          (acc, x) -> CASE WHEN acc IS NULL OR x.sim > acc.sim
                            OR (x.sim = acc.sim AND x.cid < acc.cid)
                      THEN x ELSE acc END
        ).cid
        """
    )


def _probe_cells(
    query_vec: list[float], centroids: list[tuple[int, list[float]]], n_probe: int
) -> list[int]:
    """Driver-side probe set: the n_probe cells whose centroids are
    cosine-closest to the query (codebook is tiny; ties by cid ASC)."""
    import math

    def cos(a: list[float], b: list[float]) -> float:
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb) if na and nb else 0.0

    return [
        cid
        for cid, _ in sorted(
            ((cid, cos(query_vec, c)) for cid, c in centroids),
            key=lambda t: (-t[1], t[0]),
        )[:n_probe]
    ]


def _exact_rank(
    df: DataFrame, query_vec: list[float], k: int, id_col: str, vec_col: str,
    exclude_id: int | None,
) -> DataFrame:
    """Exact cosine top-k over an (already pruned) frame — codegen dot
    product, TakeOrderedAndProject, 6dp rounding for determinism.

    A zero-norm corpus vector has undefined cosine: ``try_divide``
    keeps it NULL instead of ANSI-failing the whole query (the guard
    whitened/hard-negative already carry — r7 review), and
    ``desc_nulls_last`` keeps NULLs out of the top-k even when k
    exceeds the count of scored rows."""
    import math

    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    qlit = lit_double_array(query_vec)
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    return (
        df.select(
            id_col,
            F.round(
                F.try_divide(
                    dot(F.col(vec_col), qlit),
                    l2_norm(F.col(vec_col)) * F.lit(qnorm),
                ),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.desc_nulls_last("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def build_ivf_index(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    path: str,
    vec_col: str = "embedding",
    force: bool = False,
    source_path: str | None = None,
) -> None:
    """Materialize the inverted file: assign every vector its nearest
    centroid (one map-only pass) and write the table PARTITIONED BY the
    cell id.

    This turns ivf_topk's inline assignment into the real 100 TB shape:
    the assignment cost is paid ONCE at index-build time, and every
    subsequent probe prunes partitions at the source — a query reading
    ``n_probe`` of ``n_cells`` partitions scans n_probe/n_cells of the
    bytes, visible as ``PartitionFilters: [cell IN (...)]`` in the plan.

    IDEMPOTENT: a completed build with the same codebook at ``path`` is
    reused (manifest check, :mod:`.indexing`) — build-once/probe-many.
    A codebook change rebuilds automatically; a data change is detected
    from ``source_path``'s metadata fingerprint when given (else the
    caller's ``force=True``)."""
    from .indexing import (
        manifest_matches,
        params_fingerprint,
        source_params,
        write_manifest,
    )

    spark = emb.sparkSession
    fp = params_fingerprint(
        {"centroids": centroids, "vec_col": vec_col, "v": 1}
        | source_params(spark, source_path)
    )
    if not force and manifest_matches(spark, path, fp):
        return
    emb.withColumn("cell", _cell_assignment_expr(centroids, vec_col)).write.mode(
        "overwrite"
    ).partitionBy("cell").parquet(path)
    write_manifest(spark, path, fp)


def ivf_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """ANN over a materialized IVF index (:func:`build_ivf_index`).

    The probe-cell filter is a PARTITION filter on the index layout —
    pruned before any file is opened — then the exact rank runs only
    over the probed cells.  Same results as :func:`ivf_topk` with the
    same codebook (both sides assign by the identical expression)."""
    cells = _probe_cells(query_vec, centroids, n_probe)
    df = spark.read.parquet(index_path).filter(F.col("cell").isin(cells))
    return _exact_rank(df, query_vec, k, id_col, vec_col, exclude_id)


def ivf_topk(
    emb: DataFrame,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """IVF-style ANN with INLINE cell assignment: vectors are assigned
    to their nearest centroid (the inverted file); queries scan only the
    ``n_probe`` cells whose centroids are closest to the query.

    This form recomputes the assignment per query (one map-only codegen
    pass over the scan, see :func:`_cell_assignment_expr`) — right for
    ad-hoc probes over a table with no materialized cell column.  The
    production path is :func:`build_ivf_index` +
    :func:`ivf_topk_indexed`, where the assignment is paid once and the
    probe prunes PARTITIONS at the source instead of filtering rows."""
    probe = _probe_cells(query_vec, centroids, n_probe)
    cell = _cell_assignment_expr(centroids, vec_col)
    df = emb.withColumn("_cell", cell).filter(F.col("_cell").isin(probe))
    return _exact_rank(df, query_vec, k, id_col, vec_col, exclude_id)


def pq_encode(
    emb: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Product-quantization encode: split each vector into M subvectors
    and replace each with the index of its nearest subspace centroid
    (squared L2; ties break to the lowest index) — a D-dim float vector
    compresses to M small ints (64 floats -> 8 codes here: 32x).

    ``codebooks[m][k]`` is centroid k of subspace m (all same length).
    Codebooks are supplied by the caller, data-derived and
    deterministic, so an oracle can re-derive the identical codes.

    Implementation is a DECLARED Arrow boundary (``mapInPandas`` +
    numpy), not JVM expressions: the M*K distance argmin is a dense
    (n, K, sub) broadcast kernel, and the unrolled-expression form
    (2048 terms) exceeds whole-stage-codegen limits and falls back to
    interpreted evaluation ~1000x slower than numpy (measured: 10 s
    vs <0.1 s for 6k vectors at sf0.1).  Per-partition, no shuffle;
    compose with the IVF partitioner (`build_ivf_index`) for the
    standard IVF-PQ layout."""
    import numpy as np
    import pandas as pd

    cb = np.asarray(codebooks, dtype=np.float64)
    if cb.ndim != 3:
        raise ValueError("ragged codebooks")
    M, K, sub = cb.shape
    keep_cols = keep_cols or []

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            V = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            # exact-dim contract: silently encoding a prefix (too-long
            # vectors) or broadcasting garbage (too-short) is how a
            # codebook/embedding drift becomes a wrong-answer, so fail
            # loudly with the two shapes in the message
            if V.shape[1] != M * sub:
                raise ValueError(
                    f"pq_encode: {vec_col} has {V.shape[1]} dims but the "
                    f"codebooks cover M*sub = {M}*{sub} = {M * sub}; "
                    "rebuild the codebooks for this embedding width"
                )
            codes = np.empty((len(V), M), dtype=np.int32)
            for m in range(M):
                sv = V[:, m * sub : (m + 1) * sub]
                d = ((sv[:, None, :] - cb[m][None, :, :]) ** 2).sum(axis=2)
                # np.argmin keeps the FIRST minimum: ties -> lowest k
                codes[:, m] = np.argmin(d, axis=1)
            out = {id_col: pdf[id_col].astype("int64"), out_col: list(codes)}
            for c in keep_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    keep_schema = "".join(
        f", {f.name} {f.dataType.simpleString()}"
        for f in emb.schema.fields
        if f.name in keep_cols
    )
    return emb.select(id_col, vec_col, *keep_cols).mapInPandas(
        encode, f"{id_col} long, {out_col} array<int>{keep_schema}"
    )


def pq_adc_topk(
    encoded: DataFrame,
    lut: list[list[float]],
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    exclude_id: int | None = None,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes: ``lut[m][c]`` is the
    query's precomputed squared distance to centroid c of subspace m
    (M*K driver-side constants), so scoring a vector is M array lookups
    + adds — no float vector is ever read.  Returns the k smallest
    estimated distances (ties -> lowest id), rounded to 6dp for
    deterministic hashing; TakeOrdered keeps the top-k map-side."""
    M = len(lut)
    # one parsed expression: the nested Column-API literal cost
    # ~1 py4j round trip per LUT cell (r12 opt)
    lut_lit = F.array(*[lit_double_array(row) for row in lut])
    d = F.lit(0.0)
    for m in range(M):
        d = d + F.element_at(
            F.element_at(lut_lit, m + 1), F.col(codes_col)[m] + 1
        )
    df = encoded
    if exclude_id is not None:
        df = df.filter(F.col(id_col) != exclude_id)
    # only properly encoded rows are rankable (r7 review): a NULL or
    # short pq_codes is not "far", it is UNRANKABLE — and empirically a
    # NULL code index does NOT null-propagate through element_at on
    # this Spark build (it returned a bogus in-range lookup), so the
    # guard must be a filter, not null ordering.  asc_nulls_last stays
    # as defense in depth for any residual NULL distance.
    df = df.filter(F.col(codes_col).isNotNull() & (F.size(codes_col) == M))
    # order by the UNROUNDED estimate (round only for output hashing),
    # so the top-k cut agrees with an oracle ordering its own exact sum
    return (
        df.select(F.col(id_col), d.alias("_d"))
        .orderBy(F.asc_nulls_last("_d"), F.asc(id_col))
        .limit(k)
        .select(id_col, F.round("_d", 6).alias("adc_dist"))
    )


def pq_lut(
    query_vec: list[float], codebooks: list[list[list[float]]]
) -> list[list[float]]:
    """The ADC lookup table: lut[m][k] = ||q_m - c_mk||^2, computed
    once driver-side per query (M*K*sub flops) and shipped as a literal
    — the PQ trade that makes scoring a vector O(M) regardless of D."""
    M, sub = len(codebooks), len(codebooks[0][0])
    if len(query_vec) != M * sub:
        raise ValueError(
            f"pq_lut: query has {len(query_vec)} dims but the codebooks "
            f"cover M*sub = {M}*{sub} = {M * sub}"
        )
    lut = []
    for m in range(M):
        row = []
        for cent in codebooks[m]:
            d = 0.0
            for i in range(sub):
                t = float(query_vec[m * sub + i]) - float(cent[i])
                d += t * t
            row.append(d)
        lut.append(row)
    return lut


def build_ivfpq_index(
    emb: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    force: bool = False,
    source_path: str | None = None,
) -> None:
    """Materialize the full IVF-PQ layout: every vector assigned its
    IVF cell AND compressed to PQ codes, written ``partitionBy(cell)``
    with ONLY (id, codes) in the data files — the layout where a probe
    (a) partition-prunes to its cells and (b) never reads a float
    vector, the 10^11-vector shape (q78 derives codes on probe; this
    pays them once at build).  Idempotent via the shared manifest
    mechanism; the fingerprint covers the IVF codebook, the PQ
    codebooks, and (when ``source_path`` is given) the source data's
    metadata fingerprint."""
    from .indexing import (
        manifest_matches,
        params_fingerprint,
        source_params,
        write_manifest,
    )

    spark = emb.sparkSession
    fp = params_fingerprint(
        {"centroids": centroids, "codebooks": codebooks, "vec": vec_col, "v": 1}
        | source_params(spark, source_path)
    )
    if not force and manifest_matches(spark, path, fp):
        return
    with_cell = emb.withColumn("cell", _cell_assignment_expr(centroids, vec_col))
    encoded = pq_encode(
        with_cell, codebooks, id_col=id_col, vec_col=vec_col, keep_cols=["cell"]
    )
    encoded.write.mode("overwrite").partitionBy("cell").parquet(path)
    write_manifest(spark, path, fp)


def ivfpq_topk_indexed(
    spark,
    index_path: str,
    query_vec: list[float],
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[list[float]]],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Probe the materialized IVF-PQ index: partition-prune to the
    ``n_probe`` cells nearest the query, then ADC-score the stored
    codes — the scan reads (id, codes) only, never an embedding
    (pinned: ``ReadSchema`` excludes the vector column)."""
    cells = _probe_cells(query_vec, centroids, n_probe)
    df = spark.read.parquet(index_path).filter(F.col("cell").isin(cells))
    return pq_adc_topk(
        df, pq_lut(query_vec, codebooks), k=k, id_col=id_col, exclude_id=exclude_id
    )


def dot_product_topk(
    emb: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_id: int | None = None,
) -> DataFrame:
    """Exact INNER-PRODUCT top-k (MIPS) against a literal query vector
    — the retrieval metric of unnormalized recommender embeddings,
    where magnitude carries popularity signal that cosine deliberately
    erases.  Same plan shape as :func:`brute_force_topk` (codegen dot,
    TakeOrderedAndProject, 6dp rounding for reassociation-stable
    order); only the score differs, which is exactly why fusing the
    two runs (:func:`rrf_fuse`) is informative."""
    if exclude_id is not None:
        emb = emb.filter(F.col(id_col) != exclude_id)
    qlit = lit_double_array(query_vec)
    return (
        emb.select(
            id_col,
            F.round(dot(F.col(vec_col), qlit), 6).alias("dot_score"),
        )
        .orderBy(F.desc("dot_score"), F.asc(id_col))
        .limit(k)
    )


def rrf_fuse(
    runs: dict[str, DataFrame],
    id_col: str = "vec_id",
    rank_col: str = "rank",
    k0: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of N retrieval runs (Cormack et al.,
    SIGIR'09): every run contributes ``1 / (k0 + rank)`` for each item
    it retrieved; items missing from a run contribute 0 from it.  The
    contribution is computed as INTEGER ppm (``1000000 div (k0 +
    rank)``, floor) so the fused score is a BIGINT sum — deterministic
    on any engine at any parallelism, no float-reassociation risk in
    the ordering key.

    Inputs are top-k frames (id + 1-based rank), i.e. ALREADY bounded
    by their own TakeOrdered cuts — the fusion itself touches at most
    Σ k rows, so the chained full-outer joins here are toy-sized by
    construction no matter the corpus behind the runs.  Output carries
    ``rrf_ppm`` plus each run's rank as ``rank_<name>`` (NULL when the
    run missed the item)."""
    if not runs:
        raise ValueError("rrf_fuse needs at least one run")

    def _rank_ref(name: str):
        # backtick-quoted reference: F.col parses bare dots as nested-
        # field access, so "cos.v2" would resolve as `rank_cos`.`v2`
        # and fail — quoting makes any run name (space, dot, quote) a
        # plain top-level column lookup (r7 review catch).
        return F.col("`rank_" + name.replace("`", "``") + "`")

    fused = None
    contribs = []
    for name, df in runs.items():
        r = df.select(
            F.col(id_col),
            F.col(rank_col).cast("long").alias(f"rank_{name}"),
        )
        fused = r if fused is None else fused.join(r, id_col, "full_outer")
        # Column API, not f-string SQL: a run name with a space/quote
        # would otherwise parse-error (or worse) inside F.expr.
        contribs.append(
            F.coalesce(
                F.floor(
                    F.lit(1000000) / (F.lit(int(k0)) + _rank_ref(name))
                ).cast("long"),
                F.lit(0),
            )
        )
    score = contribs[0]
    for c in contribs[1:]:
        score = score + c
    return fused.select(
        id_col,
        score.cast("long").alias("rrf_ppm"),
        *[_rank_ref(n) for n in runs],
    )


def hard_negative_topk(
    emb: DataFrame,
    anchor_ids: list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining: for each anchor vector, the single most
    cosine-similar vector carrying a DIFFERENT label — the pairs
    contrastive training wants most (high similarity, wrong class) and
    the pairs a labeling audit flags first (near-identical items
    labeled apart).

    The anchor set is an explicit small list (broadcast side); the
    corpus side streams once through a codegen dot product, and the
    per-anchor argmax is ``max(struct(cos, -id, payload))`` — a real
    partial aggregate (map-side combine), NOT a row_number window, so
    no (anchor x corpus) rows ever shuffle: each task reduces to one
    candidate row per anchor before the exchange.  At 100 TB the
    corpus scan drops onto the IVF index (probe cells near each
    anchor) exactly as q28 does for retrieval; the argmax shape is
    unchanged.  Ties break to the LOWEST candidate id on the 6dp-
    rounded score (the struct's negated-id field)."""
    if not anchor_ids:
        raise ValueError("hard_negative_topk needs at least one anchor id")
    # zero-norm vectors have undefined cosine: excluded on both sides
    # (a bare /0 errors under ANSI mode — the whitened_topk posture)
    anchors = (
        emb.filter(F.col(id_col).isin([int(a) for a in anchor_ids]))
        .select(
            F.col(id_col).alias("anchor_id"),
            F.col(label_col).alias("anchor_label"),
            F.col(vec_col).alias("_avec"),
            l2_norm(F.col(vec_col)).alias("_anorm"),
        )
        .filter(F.col("_anorm") > 0.0)
    )
    cand = emb.select(
        F.col(id_col).alias("neg_id"),
        F.col(label_col).alias("neg_label"),
        F.col(vec_col).alias("_cvec"),
        l2_norm(F.col(vec_col)).alias("_cnorm"),
    ).filter(F.col("_cnorm") > 0.0)
    best = (
        cand.join(
            F.broadcast(anchors),
            F.col("neg_label") != F.col("anchor_label"),
        )
        .select(
            "anchor_id",
            "anchor_label",
            F.struct(
                F.round(
                    dot(F.col("_cvec"), F.col("_avec"))
                    / (F.col("_cnorm") * F.col("_anorm")),
                    6,
                ).alias("cos_sim"),
                (-F.col("neg_id")).alias("_negid"),
                F.col("neg_id").alias("neg_id"),
                F.col("neg_label").alias("neg_label"),
            ).alias("_s"),
        )
        .groupBy("anchor_id", "anchor_label")
        .agg(F.max("_s").alias("_m"))
    )
    return best.select(
        "anchor_id",
        "anchor_label",
        F.col("_m.neg_id").alias("neg_id"),
        F.col("_m.neg_label").alias("neg_label"),
        F.col("_m.cos_sim").alias("cos_sim"),
    )


def whitened_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k in PER-DIMENSION STANDARDIZED space: every
    dimension is centered on its corpus mean and scaled by its corpus
    stddev before the dot product — the classic retrieval fix when a
    few high-variance dimensions dominate raw cosine (whitening /
    z-scoring, the diagonal special case of Mahalanobis).

    One scan computes the 64 per-dim moments via posexplode + groupBy
    (partial-aggregated — the exchange carries |dims| rows per task);
    the |dims|-row stats frame is a documented BOUNDED collect (same
    posture as IVF centroids), compiled back into the plan as two
    literal arrays so the standardization runs per-row inside codegen
    (zip_with, no join, no Python).  Zero-variance dims are dropped
    from the metric (scale 0), not divided by.  Ranking reuses the
    brute-force contract: 6dp rounding before the TakeOrdered cut."""
    dims = (
        emb.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(
            F.avg(F.col("x").cast("double")).alias("mu"),
            F.stddev_pop(F.col("x").cast("double")).alias("sd"),
        )
        .orderBy("i")
        .collect()
    )
    mu = lit_double_array([r.mu for r in dims])
    # zero-variance dims contribute nothing: scale 0 on both sides
    inv = lit_double_array(
        [1.0 / float(r.sd) if r.sd and r.sd > 0.0 else 0.0 for r in dims]
    )
    def _whiten(col):
        centered = F.zip_with(col, mu, lambda x, m: x.cast("double") - m)
        return F.zip_with(centered, inv, lambda x, s: x * s)

    q = emb.filter(F.col(id_col) == query_id).select(vec_col).head()
    if q is None:
        raise ValueError(f"query_id {query_id} not found in {id_col}")
    if q[0] is None:
        # a NULL embedding used to surface as a bare TypeError from
        # zip() with no mention of the query id (r7 review)
        raise ValueError(
            f"query_id {query_id} has a NULL {vec_col} — no query vector"
        )
    qw_vals = [
        (float(x) - float(r.mu)) * (1.0 / float(r.sd) if r.sd and r.sd > 0.0 else 0.0)
        for x, r in zip(q[0], dims)
    ]
    qlit = lit_double_array(qw_vals)
    qnorm = sum(v * v for v in qw_vals) ** 0.5
    if qnorm == 0.0:
        raise ValueError(
            f"query {query_id} whitens to the zero vector (it sits at the "
            "corpus mean in every non-constant dimension); cosine is "
            "undefined for it"
        )
    w = _whiten(F.col(vec_col))
    wn = l2_norm(w)
    # a candidate AT the corpus mean whitens to zero: cosine undefined,
    # excluded (guarded division — ANSI mode errors on a bare /0)
    return (
        emb.filter(F.col(id_col) != query_id)
        .select(
            id_col,
            F.when(
                wn > 0.0, F.round(dot(w, qlit) / (wn * F.lit(qnorm)), 6)
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim").isNotNull())
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )
