"""Embedding similarity search: brute-force and LSH-bucketed top-k cosine.

North-star operator (BASELINE.json; absent in the reference — gomrjob users
would have hand-written this as a Mapper emitting (bucket, vec) pairs and a
Reducer scoring within buckets, which is exactly the LSH path below).

All vector math is JVM-side (``zip_with`` + ``aggregate`` fold over
array<double>) — no Python in the hot path; verified bit-identical to the
DuckDB oracle's ``list_cosine_similarity``.

Scale strategy:
- ``knn_bruteforce``: query-set x corpus broadcast-nested-loop — correct
  baseline, O(|Q| x |C|); fine when |Q| is small (the broadcast side) and
  the corpus streams. At 100 TB use the LSH variant.
- ``knn_lsh`` / ``lsh_bucket``: random-hyperplane signatures bucket the
  corpus; candidates only join within a bucket (equi-join shuffle on the
  bucket key, no cross product). Multiple hash tables raise recall;
  per-bucket top-k bounds skew (a hot bucket is capped by the window).
"""

from __future__ import annotations

import math
import random
from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from gomrjob_spark.cache import iterate
from gomrjob_spark.functions import local_df


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold dot product in double — matches DuckDB's
    list_* folds bit-for-bit."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


# NOTE: a dim-unrolled flat expression form of dot/l2_norm (64 getItem
# terms in a nested Add chain) was benchmarked as ~4x SLOWER than the
# HOF folds above — deep Add chains blow up Catalyst's optimizer passes.
# Keep the folds.


def knn_bruteforce(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Plan shape: broadcast(queries) x corpus scan -> per-query window top-k.
    The corpus is never shuffled by the join (broadcast), and top-k is one
    exchange on query_id. Ties broken by neighbor id for determinism.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"))
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("_qv"), F.col("_cv")).alias("score"),
        )
    )
    return _top_k(scored, k)


def hard_negatives(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Hard-negative mining for contrastive/retrieval training data:
    for every query vector, the top-k most-similar corpus vectors whose
    LABEL differs — the near-misses a contrastive loss learns the most
    from (random negatives are trivially separable; the hard ones sit
    just across the decision boundary). Returns (query_id, query_label,
    neighbor_id, neighbor_label, score, rank).

    Plan: the knn_bruteforce shape — the query set is a model-sized
    broadcast over the corpus scan (the corpus never shuffles for the
    join; the label filter prunes row-locally in the scan stage), then
    one per-query window exchange for the top-k. At production scale
    the same label-mismatch filter composes with the bucketed ANN
    variants (knn_axis_lsh/IVF) instead of the brute-force scan."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("_qv"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("_cv"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            (F.col("query_id") != F.col("neighbor_id"))
            & (F.col("query_label") != F.col("neighbor_label")),
        )
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            cosine(F.col("_qv"), F.col("_cv")).alias("score"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "query_label", "neighbor_id", "neighbor_label",
            "score", "rank",
        )
    )


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic unit-free hyperplanes (Gaussian entries, fixed seed)."""
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(n_planes)]


def lsh_bucket(
    df: DataFrame,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Assign each vector to one bucket per hash table: (table_id,
    bucket, vec_id) — IDS ONLY (re-planned r14, the r13 verdict's item
    #3: carrying the embedding through the bucket join made the
    candidate shuffle an ~8x volume multiplier at scale; vectors are
    re-fetched AFTER pair dedup, the knn_axis_lsh house style).

    One scan computes all n_tables signatures as a single array<bigint>
    column (every plane of every table in ONE literal matrix +
    nested-HOF fold — round-invariant codegen, no per-table self-scan
    union), then posexplode yields the (table_id, bucket) rows."""
    all_planes = [
        p
        for t in range(n_tables)
        for p in random_hyperplanes(dim, n_planes, seed=seed + 1000 * t)
    ]
    mat = "array(" + ",".join(_sql_arr(p) for p in all_planes) + ")"
    # explode the CHEAP table-id sequence first, then compute exactly
    # one table's signature per emitted row (bit j of table t is
    # sign(dot(vec, plane[t*n_planes + j])), sliced out of the one flat
    # matrix literal) — never explode an array built by an expensive
    # transform: the fused Generate re-evaluates the builder per
    # emitted element (the r5/r6 plan rule, see text.bigram_novelty)
    bucket = F.expr(
        f"""aggregate(
            zip_with(
              slice({mat}, table_id * {n_planes} + 1, {n_planes}),
              sequence(0, {n_planes - 1}),
              (p, i) -> IF(
                aggregate(zip_with({vec_col}, p, (x, y) -> x * y),
                          CAST(0 AS DOUBLE), (a, x) -> a + x) >= 0,
                shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)),
                CAST(0 AS BIGINT))),
            CAST(0 AS BIGINT), (a, x) -> a + x)"""
    )
    return (
        df.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col),
            F.explode(F.sequence(F.lit(0), F.lit(n_tables - 1))).alias(
                "table_id"
            ),
        )
        .select("table_id", bucket.alias("bucket"), "vec_id")
    )


#: literal-vs-broadcast dial for ivf_assign: bake the quantizer into
#: the plan as literals only while cells x dim stays at or below this
#: (plan size and codegen grow linearly with the literal count; 8192 ~
#: 128 cells at dim 64, comfortably inside codegen limits — measured;
#: see SCALING.md "IVF quantizer size dial"). Above it, assignment
#: switches to the broadcast array path with identical results.
IVF_MAX_LITERAL_TERMS = 8192


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame | None,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_literal_terms: int = IVF_MAX_LITERAL_TERMS,
    centroid_rows: list | None = None,
) -> DataFrame:
    """Assign each vector to its ``n_probe`` nearest centroid cells:
    (id, vec, cell) — SHUFFLE-FREE either way. Two physical paths,
    bit-identical results, chosen by quantizer size (cells x dim vs
    ``max_literal_terms``):

    - LITERAL (model-sized quantizers, the common case): the centroid
      frame is collected (bounded driver read) and baked into the plan
      as literals — per row, one array of (-sim, cell) structs,
      array_sort, slice(n_probe), explode. The r5 rewrite of the
      original broadcast-join + per-id window argmin, which shuffled
      |df| x n_centroids scored rows per call.
    - BROADCAST (large quantizers, r6 — the r5 verdict's #4): plan and
      codegen size grow with the literal count, so past the dial the
      quantizer instead folds into ONE broadcast row holding the
      sorted (cell, centroid, norm) struct array; every scan row scores
      it with the same fold arithmetic via ``transform`` and ranks with
      the same array_sort. Still no shuffle of ``df`` and no per-id
      window — the only addition is a 1-row broadcast exchange.

    Ties resolve sim desc, cell asc in both paths; centroid norms use
    the same sequential fold as :func:`l2_norm` (driver-side float ==
    JVM double arithmetic), so the two paths agree bit-for-bit —
    pinned at n_centroids=256 by test_llm_ops'
    test_ivf_assign_broadcast_path_matches_literal_path."""
    import math

    nv = l2_norm(F.col(vec_col))
    staged = df.select(F.col(id_col), F.col(vec_col), nv.alias("_nv"))

    # ONE bounded action decides the path (no separate count + head
    # jobs): a limit(cap+1) collect returns every row iff the frame is
    # within the cap, and dim comes off the first row. dim >= 1 means a
    # literal-path quantizer can never exceed cap rows. When the caller
    # FORCES the broadcast path (max_literal_terms <= 0 — the Lloyd
    # training loop), skip the probe entirely (r14): createDataFrame
    # local relations are RDD-backed in PySpark, so even a limit(1)
    # collect launched a 1-task job per call — one extra driver-paced
    # job per Lloyd round, measured 0.15-0.35 s each on a busy driver.
    # Emptiness is then the caller's contract (ivf_centroids_kmeans
    # raises on an empty seed set before the loop).
    if max_literal_terms > 0:
        rows = centroids.limit(max_literal_terms + 1).collect()
        if not rows:
            raise ValueError("ivf_assign: empty centroid frame")
        dim = len(rows[0]["centroid"])
    else:
        rows, dim = [], 0

    if max_literal_terms > 0 and len(rows) <= max_literal_terms and len(rows) * dim <= max_literal_terms:
        rows = sorted(rows, key=lambda r: r["cell"])
        entries = []
        for r in rows:
            cv = [float(x) for x in r["centroid"]]
            # plain sequential left fold, NOT math.fsum: it must stay
            # bit-identical with l2_norm()'s aggregate fold on the JVM
            acc = 0.0
            for x in cv:
                acc = acc + x * x
            cn = math.sqrt(acc)
            entries.append(
                f"named_struct('cv', {_sql_arr(cv)}, "
                f"'cn', CAST({cn!r} AS DOUBLE), 'cell', {int(r['cell'])})"
            )
        # literals carry only DATA (centroid arrays, norms, cell ids);
        # the scoring fold is ONE transform lambda over them — r6
        # compile-shape fix (a fold expression expanded per centroid
        # made plan parse + codegen the dominant cost of every
        # assignment, re-paid per Lloyd round in kmeans training).
        # Same sequential fold -> same IEEE scores as the expanded form.
        dot_fold = (
            f"aggregate(zip_with({vec_col}, s.cv, "
            "(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
            "CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
        )
        ranked = F.expr(
            "array_sort(transform(array(" + ",".join(entries) + "), "
            f"s -> named_struct('negsim', -({dot_fold} / (_nv * s.cn)), "
            "'cell', s.cell)))"
        )
    else:
        if centroid_rows is not None:
            # r15, the Lloyd-round device: the training loop already
            # holds the quantizer driver-side, so the one-row broadcast
            # frame is built HERE — same field names, same struct
            # order (cell asc — array_sort over unique-cell structs
            # sorts by the leading field), norms via the same
            # sequential fold as l2_norm (the literal path's
            # driver-float == JVM-double precedent, pinned by
            # test_ivf_assign_broadcast_path_matches_literal_path) —
            # instead of an agg job over a parallelized model frame
            # per round. The scan-side ranking expression below is
            # untouched, so codegen is identical.
            entries = []
            for cell, cv in sorted((int(c), v) for c, v in centroid_rows):
                vec = [float(x) for x in cv]
                acc = 0.0
                for x in vec:
                    acc = acc + x * x
                entries.append((cell, vec, math.sqrt(acc)))
            one = local_df(
                df.sparkSession,
                [(entries,)],
                "_cents array<struct<cell:int,centroid:array<double>,_cn:double>>",
            )
        else:
            one = centroids.select(
                "cell", "centroid", l2_norm(F.col("centroid")).alias("_cn")
            ).agg(
                F.array_sort(
                    F.collect_list(F.struct("cell", "centroid", "_cn"))
                ).alias("_cents")
            )
        staged = staged.crossJoin(F.broadcast(one))
        ranked = F.array_sort(
            F.transform(
                F.col("_cents"),
                lambda c: F.struct(
                    (
                        -(
                            dot(F.col(vec_col), c["centroid"])
                            / (F.col("_nv") * c["_cn"])
                        )
                    ).alias("negsim"),
                    c["cell"].alias("cell"),
                ),
            )
        )

    if n_probe == 1:
        # the common (corpus/training) case: straight row-local argmax,
        # no explode — a Generate fused over this expensive array would
        # re-evaluate all n_centroids scores per emitted probe
        return staged.select(
            F.col(id_col),
            F.col(vec_col),
            F.element_at(ranked, 1)["cell"].alias("cell"),
        )
    return (
        staged.select(F.col(id_col), F.col(vec_col), F.slice(ranked, 1, n_probe).alias("_probes"))
        .select(F.col(id_col), F.col(vec_col), F.explode("_probes").alias("_p"))
        .select(F.col(id_col), F.col(vec_col), F.col("_p.cell").alias("cell"))
    )


def ivf_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse quantizer: a deterministic hash-ordered sample of corpus
    vectors as cell centroids (IVF-flat with sampled seeds; a k-means
    refinement would slot in here without changing the search path).
    Returns (cell, centroid)."""
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", F.xxhash64(F.col(id_col)))
        .orderBy("_h")
        .limit(n_centroids)
        .select(
            F.row_number().over(W.orderBy("_h")).alias("cell"),
            F.col(vec_col).alias("centroid"),
        )
    )


def kmeans_seeds_md5(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ENGINE-PORTABLE k-means seeds: the ``n_centroids`` corpus vectors
    with the lowest md5(cast(id as string)), numbered 1..k in that
    order — (cell, centroid). :func:`ivf_centroids` hash-orders by
    xxhash64, which only Spark computes; md5 of the decimal id string
    is identical hex in every engine (the split_cluster_aware
    precedent), so a DuckDB oracle can reproduce the seed set — and
    therefore the whole deterministic Lloyd trajectory — bit-for-bit.
    The ``id_col`` tiebreak is vacuous (md5 collisions) but keeps both
    orderings total by construction."""
    return (
        corpus.select(F.col(id_col), F.col(vec_col))
        .withColumn("_h", F.md5(F.col(id_col).cast("string")))
        .orderBy("_h", id_col)
        .limit(n_centroids)
        .select(
            F.row_number().over(W.orderBy("_h", id_col)).alias("cell"),
            F.col(vec_col).cast("array<double>").alias("centroid"),
        )
    )


def ivf_centroids_kmeans(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Lloyd's k-means refinement of the sampled IVF seeds — the slot
    :func:`ivf_centroids` documents. Each round is one broadcast
    nearest-centroid assignment (cosine, ties to the lower cell id) and
    one fixed-point mean (:func:`centroid_sums`'s 2^20-quantized bigint
    accumulator), so the refined quantizer is DETERMINISTIC: the same
    centroids bit-for-bit under any partitioning or execution order,
    which keeps every downstream IVF search rerun-stable. ``seeds``
    overrides the xxhash64-sampled seed frame with any (cell, centroid)
    frame — :func:`kmeans_seeds_md5` for an engine-portable seeding a
    SQL oracle can mirror.

    Scale: per round, the data-sized work is one scan (broadcast assign,
    |corpus| x n_centroids map-side scores) plus one partial-agg shuffle
    whose reduce side is |cells| x dim rows. The centroid frame is a
    MODEL — O(cells x dim) — so :func:`_lloyd_update` collects it to the
    driver each round, and the round state that
    :func:`~gomrjob_spark.cache.iterate` carries is a driver-side dict:
    n_iters jobs total, not one exponentially-nested plan. Cells that
    lose every member keep their previous centroid."""
    spark = corpus.sparkSession
    seed_df = (
        seeds
        if seeds is not None
        else ivf_centroids(corpus, n_centroids, id_col, vec_col)
    )
    cur = {
        int(r["cell"]): [float(x) for x in r["centroid"]]
        for r in seed_df.collect()
    }
    if not cur:
        # the guard ivf_assign's forced-broadcast path (max_literal_
        # terms=0) delegates here: an empty corpus yields no seeds
        raise ValueError(
            "ivf_centroids_kmeans: empty seed set (no corpus rows to "
            "sample centroids from)"
        )

    def lloyd_round(cur: dict, _) -> dict:
        # training forces the BROADCAST assignment path
        # (max_literal_terms=0): each Lloyd round would otherwise bake
        # the round's centroids into fresh plan literals and re-pay
        # parse + codegen per round — the broadcast plan's generated
        # code is round-invariant (centroids travel as data), measured
        # ~2x faster cold and the scores are pinned bit-identical
        # (test_ivf_assign_broadcast_path_matches_literal_path).
        # centroid_rows (r15): the one-row broadcast builds driver-side
        # from ``cur`` — no per-round model-frame agg job.
        assigned = ivf_assign(
            corpus, None, 1, id_col, vec_col,
            max_literal_terms=0, centroid_rows=sorted(cur.items()),
        )
        sums = centroid_sums(assigned, group_col="cell", vec_col=vec_col)
        return _lloyd_update(cur, sums, lambda r: int(r["cell"]))

    cur = iterate(lloyd_round, cur, max_rounds=n_iters)
    return local_df(spark, sorted(cur.items()), "cell int, centroid array<double>")


def _lloyd_update(cur: dict, sums: DataFrame, key) -> dict:
    """One Lloyd centroid update on the driver: ONE job collects the
    model-sized fixed-point component sums (:func:`centroid_sums`), and
    each centroid component becomes qsum/(n*2^20) — a single IEEE
    division of exact integers, bit-identical to computing it JVM-side.
    ``key(row)`` maps a sums row to its ``cur`` key; a centroid that
    lost every member keeps its previous value."""
    quant = float(CENTROID_QUANT)
    acc: dict = {}
    for r in sums.collect():
        acc.setdefault(key(r), {})[int(r["pos"])] = int(r["qsum"]) / (int(r["n"]) * quant)
    return {
        k: [acc[k].get(i, x) for i, x in enumerate(v)] if k in acc else v
        for k, v in cur.items()
    }


def knn_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    kmeans_iters: int = 0,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in exactly one coarse
    cell; each query probes its ``n_probe`` nearest cells and scores only
    those cells' members. The search join is an equi-join on the cell id
    — shuffle volume is |corpus| + n_probe x |queries|, no cross product.
    Recall rises with n_probe (= exact when n_probe = n_centroids).
    ``kmeans_iters > 0`` trains the quantizer with that many Lloyd
    rounds (:func:`ivf_centroids_kmeans`) instead of using raw sampled
    seeds — tighter cells, better recall at the same probe count."""
    if kmeans_iters > 0:
        cents = ivf_centroids_kmeans(corpus, n_centroids, kmeans_iters, id_col, vec_col)
    else:
        cents = ivf_centroids(corpus, n_centroids, id_col, vec_col)
    c_cells = ivf_assign(corpus, cents, 1, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv"), "cell"
    )
    q_cells = ivf_assign(queries, cents, n_probe, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv"), "cell"
    )
    scored = (
        q_cells.join(c_cells, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("score"))
    )
    return _top_k(scored, k)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best (query_id, neighbor_id, score) rows,
    ranked by score descending, neighbor_id breaking ties."""
    w = W.partitionBy("query_id").orderBy(F.col("score").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _bucket_top_k(
    qb: DataFrame,
    cb: DataFrame,
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine top-k over the pairs sharing a (table_id, bucket)
    between query buckets ``qb`` (query_id, ...) and corpus buckets
    ``cb`` (neighbor_id, ...). Candidate pairs dedup as bare ids BEFORE
    the vectors are fetched; norms come once per vector, so the
    per-pair score dot/(nq*nc) is cosine()'s arithmetic at a third of
    the per-pair flops. The query side is the small one (top-k
    retrieval): broadcast it."""
    cand = (
        qb.join(cb, ["table_id", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        l2_norm(F.col(vec_col)).alias("_nq"),
    )
    cv = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        l2_norm(F.col(vec_col)).alias("_nc"),
    )
    scored = (
        cand.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("_qv"), F.col("_cv")) / (F.col("_nq") * F.col("_nc"))).alias("score"),
        )
    )
    return _top_k(scored, k)


def knn_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: score only within shared LSH buckets.

    One equi-join shuffle on (table, bucket) replaces the cross product;
    recall grows with n_tables (tested >= 0.6 vs brute force on the
    near-orthogonal fixture — the hard case).

    Re-planned r14 (the r13 verdict's item #3 — this was the one
    remaining plan-rule violator in the ANN family): the bucket frames
    are IDS ONLY and candidate pairs dedup as bare (query_id,
    neighbor_id) BEFORE the vectors are fetched — the knn_axis_lsh
    house style. The previous plan carried BOTH full embedding vectors
    through the bucket equi-join and a dropDuplicates over them (the
    late-r6 banned pattern, measured 3.5x slower then): at 100 TB the
    vector-laden candidate shuffle is an ~8x volume multiplier the
    ids-only form never pays. Plane signatures now also come from ONE
    literal plane matrix per scan instead of per-element F.lit arrays
    (~4,096 py4j round-trips saved at the default dials)."""
    qb = lsh_bucket(queries, dim, n_planes, n_tables, id_col, vec_col, seed).select(
        F.col("vec_id").alias("query_id"), "table_id", "bucket"
    )
    cb = lsh_bucket(corpus, dim, n_planes, n_tables, id_col, vec_col, seed).select(
        F.col("vec_id").alias("neighbor_id"), "table_id", "bucket"
    )
    return _bucket_top_k(qb, cb, queries, corpus, k, id_col, vec_col)


def knn_axis_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 3,
    n_tables: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    multiprobe: bool = False,
) -> DataFrame:
    """Approximate top-k with axis-sign LSH buckets (the oracle-gated
    variant of :func:`knn_lsh` — see dedup.axis_sign_buckets: sign tests
    only, so any SQL engine reproduces the candidate set exactly).

    Plan: bucket both sides (ids + bucket keys only), equi-join on
    (table, bucket), dedup candidate pairs BEFORE fetching vectors, then
    exact cosine + per-query top-k window. Shuffle volume is
    O(n_tables * (|Q| + |C|) + |candidates|).

    ``multiprobe=True`` additionally probes, per table, every bucket at
    Hamming distance 1 from the query's bucket (flip each of the
    n_planes sign bits) — classic multi-probe LSH (Lv et al., VLDB'07):
    near-misses where ONE coordinate sign test disagreed are recovered
    without more tables. Cost: the QUERY side grows by x(n_planes+1) —
    the corpus side (the data-sized one at 100 TB) is unchanged, which
    is the whole point of multi-probe over adding tables."""
    from gomrjob_spark.operators.dedup import axis_sign_buckets

    qb = axis_sign_buckets(queries, n_planes, n_tables, id_col, vec_col, dim).select(
        F.col(id_col).alias("query_id"), "table_id", "bucket"
    )
    if multiprobe:
        probes = F.array(
            F.col("bucket"), *[F.expr(f"bucket ^ {1 << j}") for j in range(n_planes)]
        )
        qb = qb.select(
            "query_id", "table_id", F.explode(probes).alias("bucket")
        )
    cb = axis_sign_buckets(corpus, n_planes, n_tables, id_col, vec_col, dim).select(
        F.col(id_col).alias("neighbor_id"), "table_id", "bucket"
    )
    return _bucket_top_k(qb, cb, queries, corpus, k, id_col, vec_col)


#: fixed-point scale for deterministic distributed centroid accumulation
CENTROID_QUANT = 1 << 20


def centroid_sums(
    emb: DataFrame,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding centroids via fixed-point accumulation —
    (group, pos, qsum, n, centroid).

    Float sums are order-sensitive, and a distributed aggregate adds in
    whatever order partitions finish — so a naive avg() centroid is not
    reproducible run-to-run, let alone across engines. The standard fix
    is a fixed-point accumulator: quantize each component to an integer
    (floor(val * 2^20) — multiplying a float by a power of two is exact,
    floor has no tie semantics to disagree on), sum exactly in bigint
    (associative, order-free), divide once at the end. The result is
    bit-identical on any engine and any partitioning.

    Scale: posexplode widens rows x dim, but it feeds a partial
    aggregate — the map side combines to one (group, pos) partial per
    task, so the shuffle carries |groups| * dim tiny rows regardless of
    corpus size. This is the canonical 100 TB centroid shape (same as
    computing per-feature means for normalization)."""
    pe = emb.select(
        F.col(group_col).alias("grp"),
        F.posexplode(F.col(vec_col)).alias("pos", "val"),
    )
    q = F.floor(F.col("val").cast("double") * CENTROID_QUANT).cast("bigint")
    return (
        pe.groupBy("grp", "pos")
        .agg(F.sum(q).alias("qsum"), F.count("*").alias("n"))
        .select(
            F.col("grp").alias(group_col),
            "pos",
            "qsum",
            "n",
            (F.col("qsum").cast("double") / (F.col("n").cast("double") * CENTROID_QUANT)).alias(
                "centroid"
            ),
        )
    )


# ------------------------------------------------ product quantization
# The vector-COMPRESSION story for 100 TB embedding stores (Jégou et
# al., "Product Quantization for Nearest Neighbor Search", TPAMI 2011):
# split each vector into m subvectors, k-means each subspace into 2^b
# cells, store only the m cell ids. At m=8 / 16 cells a 64-dim float
# vector becomes 8 small ints — the difference between an embedding
# table that fits executor memory and one that doesn't. Search uses
# asymmetric distance (ADC): per query, precompute the 16 x m table of
# query-subvector -> centroid distances ONCE, then each candidate costs
# m table lookups instead of dim multiplies.


def _unit_rows(df: DataFrame, id_col: str, vec_col: str, out_col: str) -> DataFrame:
    """(id, out_col = L2-normalized vector). The norm is STAGED into its
    own column before the per-element division: an l2_norm inside the
    transform lambda would re-run the whole fold per element (no CSE in
    higher-order-function lambdas), turning dim work into dim^2 —
    measured as the dominant cost of the first pq_train/pq_encode."""
    return df.select(
        F.col(id_col), F.col(vec_col), l2_norm(F.col(vec_col)).alias("_nv")
    ).select(
        F.col(id_col),
        F.transform(
            F.col(vec_col), lambda x: x.cast("double") / F.col("_nv")
        ).alias(out_col),
    )


def pq_seed_frame(frame: DataFrame, n_centroids: int, id_col: str) -> DataFrame:
    """Deterministic codebook seeds from a posexploded (id, sub, v)
    training frame: per sub, the ``n_centroids`` rows with the lowest
    ``xxhash64(id)`` (the ivf_centroids convention), as (sub, cell, v).

    Rank shape (r6, the r5 verdict's #1): the original single
    ``Window.partitionBy("sub")`` funneled the FULL posexploded corpus
    into m sort tasks — the exact single-hot-partition anti-pattern
    cap_per_group exists to avoid. Now the seed pick IS cap_per_group:
    a (sub, scan-partition-id) local top-n bounds every sort task, and
    the global per-sub re-rank runs over <= n_centroids x partitions
    survivors. Seeds are bit-identical to the old window whenever the
    hash order is unambiguous (xxhash64 over distinct ids; the id
    tiebreak cap_per_group adds only engages on a 64-bit collision),
    pinned by test_op_properties' codebook determinism gates."""
    from gomrjob_spark.operators.sampling import cap_per_group

    hashed = frame.withColumn("_h", F.xxhash64(F.col(id_col)))
    return cap_per_group(
        hashed, "sub", n_centroids, "_h", id_col=id_col, descending=False
    ).select("sub", F.col("rank").alias("cell"), "v")


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    n_centroids: int = 16,
    n_iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train per-subspace codebooks on L2-NORMALIZED vectors:
    ``codebook[sub][cell]`` is a dim/m-length centroid (a MODEL — m x
    cells x dim/m floats, small enough to live as plan literals).

    All m subspaces train TOGETHER: the corpus posexplodes once into a
    (sub, subvector) frame (same total volume as the input), seeds are
    the lowest-``xxhash64(id)`` rows per sub via the two-phase bounded
    rank of :func:`pq_seed_frame` (no full-corpus m-partition sort —
    see its docstring), and each Lloyd round is ONE job — a
    shuffle-free scan whose per-row CASE picks the row's own subspace
    codebook (literals) and argmins by squared distance (the metric
    pq_encode/ADC use), followed by the fixed-point (2^20-quantized
    bigint) component-mean aggregate of m x cells x dim/m rows. The r5
    rewrite of per-subspace ivf_centroids_kmeans loops: 8 x 2 window-
    shuffle rounds became ``1 + n_iters`` jobs, and determinism is
    unchanged — hash-ordered seeds, first-position tie-breaks,
    order-free integer sums, so the codebook is bit-identical under
    any partitioning. Empty cells keep their previous centroid."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    sub_dim = dim // m
    quant = float(CENTROID_QUANT)
    subs = F.array(
        *[F.slice(F.col(vec_col), s * sub_dim + 1, sub_dim) for s in range(m)]
    )
    frame = _unit_rows(corpus, id_col, vec_col, vec_col).select(
        F.col(id_col), F.posexplode(subs).alias("sub", "v")
    )
    from gomrjob_spark.cache import scoped_persist
    from gomrjob_spark.operators.text import spread

    # spread before the persist (r14): the embeddings table is one
    # parquet split at test SFs, so the persisted frame had ONE
    # partition and every Lloyd round's staged distance scan + mean
    # aggregate ran 1-wide (measured: 1-task 0.96 cpu-s stages at wall
    # ~= cpu). The codebook is partitioning-invariant by construction
    # (hash-ordered seeds, order-free integer sums — see above), so a
    # round-robin exchange changes nothing but width; no-op on a real
    # cluster.
    frame = scoped_persist(spread(frame))
    seeds = pq_seed_frame(frame, n_centroids, id_col)
    book = {
        (int(r["sub"]), int(r["cell"])): [float(x) for x in r["v"]]
        for r in seeds.collect()
    }

    def lloyd_round(book: dict, _) -> dict:
        # row-local assignment: the WHOLE codebook enters as ONE 3-D
        # literal array; the row's sub picks its slab via element_at
        # and a single transform evaluates the fold per cell. The
        # distance vector is STAGED into a column before the argmin —
        # r6 rewrite of the per-(sub, cell) expanded CASE, whose 256
        # separately-parsed folds (the argmin even duplicated the
        # 16-fold array inside array_position(d, array_min(d))) made
        # every Lloyd round compile-bound: plan parse + codegen
        # dominated wall clock at small SF and re-ran per round.
        # Distances, ties, and codes are bit-identical (same zip_with/
        # aggregate fold per cell, same array_position-of-min).
        mat = _book_matrix_sql(
            [[book[(s, c)] for c in range(1, n_centroids + 1)] for s in range(m)]
        )
        dist_vec = F.expr(
            f"transform(element_at({mat}, sub + 1), c -> {_sq_dist_fold('v', 'c')})"
        )
        staged = frame.select("sub", "v", dist_vec.alias("_d"))
        code = F.expr("CAST(array_position(_d, array_min(_d)) AS INT)")
        sums = (
            staged.select("sub", code.alias("cell"), F.posexplode("v").alias("pos", "val"))
            .groupBy("sub", "cell", "pos")
            .agg(
                F.sum(F.floor(F.col("val") * quant).cast("bigint")).alias("qsum"),
                F.count("*").alias("n"),
            )
        )
        return _lloyd_update(book, sums, lambda r: (int(r["sub"]), int(r["cell"])))

    book = iterate(lloyd_round, book, max_rounds=n_iters)
    return [[book[(s, c)] for c in range(1, n_centroids + 1)] for s in range(m)]


def _sql_arr(vals: list[float]) -> str:
    """SQL double-array literal. repr() emits the shortest string that
    round-trips the exact IEEE bits through Double.parseDouble."""
    return "array(" + ",".join(f"CAST({v!r} AS DOUBLE)" for v in vals) + ")"


def _book_matrix_sql(book: list[list[list[float]]]) -> str:
    """The full codebook as ONE SQL literal: array[sub][cell][component].
    A single parsed literal replaces m x cells separately-parsed
    per-centroid expressions — the r6 compile-time fix for the PQ
    family (plan parse + codegen, re-run per Lloyd round, dominated
    wall clock at small SF)."""
    return (
        "array("
        + ",".join(
            "array(" + ",".join(_sql_arr(cent) for cent in sub) + ")" for sub in book
        )
        + ")"
    )


def _sq_dist_fold(vec_sql: str, arr_sql: str) -> str:
    """Squared L2 distance between two vector EXPRESSIONS as one SQL
    fold. The centroid side is usually a transform lambda variable
    ranging over the codebook matrix literal; the fold shape (and so
    the IEEE result) is identical to scoring against a standalone
    per-centroid literal, which is what the pre-r6 expanded form did."""
    return (
        f"aggregate(zip_with({vec_sql}, {arr_sql}, "
        "(x, y) -> power(CAST(x AS DOUBLE) - CAST(y AS DOUBLE), 2)), "
        "CAST(0.0 AS DOUBLE), (acc, w) -> acc + w)"
    )


def pq_encode(
    corpus: DataFrame,
    codebook: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): per subspace, the nearest codebook cell
    of the L2-normalized subvector (ties to the lowest cell id via
    array_position-of-min — deterministic). The codebook enters as plan
    literals, so encoding is one shuffle-free codegen'd scan; at 100 TB
    this runs once and the codes table (m small ints per vector)
    replaces the float embeddings for all downstream search."""
    m = len(codebook)
    sub_dim = len(codebook[0][0])
    from gomrjob_spark.operators.text import spread

    # spread (r14): the encode scan is CPU-dense (m x cells distance
    # folds per row) over a one-split parquet table at test SFs —
    # row-local, so width changes nothing but wall clock; no-op on a
    # real cluster.
    out = _unit_rows(spread(corpus), id_col, vec_col, "_u")
    # one parsed codebook literal + one indexed transform per row: the
    # r6 compile-time shape (see pq_train) — the distance vectors stage
    # through a column so each 16-fold array is built once, not twice
    # inside array_position(d, array_min(d))
    subs = (
        "array("
        + ",".join(f"slice(_u, {s * sub_dim + 1}, {sub_dim})" for s in range(m))
        + ")"
    )
    mat = _book_matrix_sql(codebook)
    dists = (
        f"transform({subs}, (sv, i) -> "
        f"transform(element_at({mat}, i + 1), c -> {_sq_dist_fold('sv', 'c')}))"
    )
    return out.selectExpr(id_col, f"{dists} AS _ds").selectExpr(
        id_col,
        "transform(_ds, d -> CAST(array_position(d, array_min(d)) - 1 AS INT)) AS codes",
    )


def knn_pq(
    queries: DataFrame,
    corpus: DataFrame,
    codebook: list[list[list[float]]],
    k: int = 5,
    shortlist: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ top-k with asymmetric distance + exact rerank.

    Per broadcast query row, the 16 x m ADC table (squared distance of
    each query subvector to each centroid) is computed ONCE as an
    array-of-arrays column; each candidate then costs
    ``aggregate(zip_with(codes, qtab, (c, tab) -> tab[c + 1]))`` — m
    integer lookups and adds, all inside codegen, no Python. The ADC
    ``shortlist`` per query reranks with exact cosine (standard
    compressed-then-exact pipeline), so recall is governed by the
    shortlist depth, not the 8-byte code fidelity. Shuffle profile:
    encode scan + broadcast-queries scan + two-phase top-k windows."""
    m = len(codebook)
    sub_dim = len(codebook[0][0])
    codes = pq_encode(corpus, codebook, id_col, vec_col)
    # same compile-time shape as pq_encode: one codebook literal, one
    # indexed transform (was m x cells separately-parsed fold exprs)
    q_subs = (
        "array("
        + ",".join(f"slice(_qu, {s * sub_dim + 1}, {sub_dim})" for s in range(m))
        + ")"
    )
    qtab = F.expr(
        f"transform({q_subs}, (sv, i) -> "
        f"transform(element_at({_book_matrix_sql(codebook)}, i + 1), "
        f"c -> {_sq_dist_fold('sv', 'c')}))"
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("_qv"),
            l2_norm(F.col(vec_col)).alias("_nv"),
        )
        .select(
            "query_id",
            "_qv",
            F.transform(F.col("_qv"), lambda x: x.cast("double") / F.col("_nv")).alias("_qu"),
        )
        .withColumn("_qtab", qtab)
        .drop("_qu")
    )
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("_qtab"),
            lambda c, tab: F.element_at(tab, (c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cand = (
        F.broadcast(q.select("query_id", "_qtab"))
        .join(codes)
        .filter(F.col("query_id") != F.col(id_col))
        .select("query_id", F.col(id_col).alias("neighbor_id"), adc.alias("_adc"))
    )
    from gomrjob_spark.operators.sampling import cap_per_group

    short = cap_per_group(
        cand, "query_id", shortlist, "_adc", id_col="neighbor_id", descending=False
    ).drop("rank", "_adc")
    rer = (
        short.join(F.broadcast(q.select("query_id", "_qv")), "query_id")
        .join(
            corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")),
            "neighbor_id",
        )
        .select("query_id", "neighbor_id", cosine(F.col("_qv"), F.col("_cv")).alias("score"))
    )
    return _top_k(rer, k)


def sq8_stats(corpus: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Per-dimension (min, max) of the corpus as ONE row of two sorted
    double arrays — the scalar-quantizer model. min/max are SELECTIONS
    (no float accumulation), so the model is bit-identical on any
    engine/partitioning."""
    ex = corpus.select(
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("_pos", "_v")
    )
    per_dim = ex.groupBy("_pos").agg(
        F.min("_v").alias("_mn"), F.max("_v").alias("_mx")
    )
    return per_dim.agg(
        F.array_sort(F.collect_list(F.struct("_pos", "_mn", "_mx"))).alias("_s")
    ).select(
        F.transform("_s", lambda s: s["_mn"]).alias("_mins"),
        F.transform("_s", lambda s: s["_mx"]).alias("_maxs"),
    )


def sq8_encode(
    df: DataFrame,
    stats: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "code",
) -> DataFrame:
    """Scalar-quantize each vector to 8-bit codes: ``round((v - min) *
    255 / (max - min))`` per dimension against the CORPUS min/max (1-row
    broadcast), constant dims encode 0. The affine transform is
    row-level IEEE double arithmetic in a fixed expression shape, so
    codes are bit-identical cross-engine — which is what lets the
    quantized metric itself sit under the hash gate (32x smaller than
    the PQ story's trained codebooks in moving parts: no training, one
    corpus pass for the model)."""
    staged = df.join(F.broadcast(stats)).withColumn(
        "_v", F.col(vec_col).cast("array<double>")
    )
    code = F.transform(
        F.sequence(F.lit(1), F.size("_v")),
        lambda i: F.when(
            F.element_at("_maxs", i) == F.element_at("_mins", i), F.lit(0)
        )
        .otherwise(
            F.round(
                (F.element_at("_v", i) - F.element_at("_mins", i))
                * 255
                / (F.element_at("_maxs", i) - F.element_at("_mins", i)),
                0,
            )
        )
        .cast("bigint"),
    )
    return staged.select(F.col(id_col), code.alias(out_col))


def knn_sq8(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors under the SQ8 quantized squared-L2 metric —
    scalar quantization, the third compression point of the ANN family
    (brute float / PQ trained codebooks / SQ8 affine codes). Distances
    are EXACT bigint sums over int codes, so unlike classic ANN the
    whole search result is deterministic and SQL-replayable: the oracle
    recomputes the same codes and the same integer distances (recall vs
    the float metric is a separate, pytest-gated property).

    Plan: one corpus pass for the 1-row (min, max) model, shuffle-free
    codegen encode on both sides, broadcast(queries) x codes scan,
    per-query window top-k. At 100 TB the 8-bit codes table is 4x
    smaller than float32 embeddings and the scan is integer-only."""
    stats = sq8_stats(corpus, vec_col)
    cq = sq8_encode(queries, stats, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("code").alias("_qc")
    )
    cc = sq8_encode(corpus, stats, id_col, vec_col).select(
        F.col(id_col).alias("neighbor_id"), F.col("code").alias("_cc")
    )
    scored = (
        F.broadcast(cq)
        .join(cc, F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "dist",
            F.aggregate(
                F.zip_with("_qc", "_cc", lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + x,
            ),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "dist", "rank")
    )


def nearest_centroid_confusion(
    emb: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Nearest-centroid classification with a confusion matrix — the
    classical-ML evaluation loop (train per-class centroids, assign
    every vector to its nearest, cross-tabulate vs truth), made
    engine-exact: centroid components are fixed-point integer means
    (``floor(v * 2^20)`` summed in bigint, one integer DIV — the
    centroid_sums discipline), vectors quantize with the same floor,
    and distances are exact bigint sums of squared differences, so
    assignments (argmin, label asc tie-break) and the confusion counts
    are bit-identical on any engine or partitioning.

    Plan: the centroid model is |labels| x dim partial-agg rows folded
    into ONE broadcast row of (label, qmean[]) structs; each vector
    scores all labels row-locally (transform + fold over the struct
    array) and argmin picks via array_sort — no shuffle of the data
    side, one final (label, pred) count aggregation. Returns
    (label, pred, n)."""
    q = F.floor(F.col("val").cast("double") * CENTROID_QUANT).cast("bigint")
    cents = (
        emb.select(
            F.col(label_col).alias("_lbl"),
            F.posexplode(F.col(vec_col)).alias("pos", "val"),
        )
        .groupBy("_lbl", "pos")
        .agg(F.sum(q).alias("qsum"), F.count("*").alias("n"))
        .select("_lbl", "pos", F.expr("qsum DIV n").cast("bigint").alias("qm"))
    )
    model = cents.groupBy("_lbl").agg(
        F.array_sort(F.collect_list(F.struct("pos", "qm"))).alias("_s")
    ).select(
        F.struct(
            F.col("_lbl").alias("lbl"),
            F.transform("_s", lambda s: s["qm"]).alias("qs"),
        ).alias("_c")
    ).agg(F.array_sort(F.collect_list("_c")).alias("_model"))
    staged = emb.join(F.broadcast(model)).withColumn(
        "_qv",
        F.transform(
            F.col(vec_col).cast("array<double>"),
            lambda v: F.floor(v * F.lit(CENTROID_QUANT)).cast("bigint"),
        ),
    )
    scored = staged.withColumn(
        "_dists",
        F.transform(
            F.col("_model"),
            lambda c: F.struct(
                F.aggregate(
                    F.zip_with(
                        F.col("_qv"), c["qs"], lambda a, b: (a - b) * (a - b)
                    ),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ).alias("dist"),
                c["lbl"].alias("lbl"),
            ),
        ),
    ).withColumn("pred", F.element_at(F.array_sort("_dists"), 1)["lbl"])
    return (
        scored.groupBy(F.col(label_col).alias("label"), "pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


# ------------------------------------------------ semantic diversity dedup
# SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the embedding
# space, then drop near-duplicates WITHIN each cluster cell — the
# curation step that removes "different words, same meaning" redundancy
# which no lexical dedup (MinHash/SimHash/shingles) can see. The cell
# scoping is the scale device: pairwise similarity is only ever computed
# between members of one cell, never across the corpus.


def crossmodal_alignment(
    side_a: DataFrame,
    side_b: DataFrame,
    threshold: float = 0.5,
    id_col: str = "pair_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cross-modal PAIR filtering (the LAION/CLIP curation gate,
    Schuhmann et al. 2021, arXiv:2111.02114): per paired id, the
    cosine between modality A's embedding (image) and modality B's
    (caption/audio transcript); pairs below ``threshold`` are the
    mismatched scrapes a multimodal training set drops. Returns
    (id, align_sim, aligned).

    Scale shape: ONE equi-join on the pair id (both sides pre-project
    to id + vector + STAGED norm — the r5 no-CSE-in-lambdas lesson)
    and a row-local dot/(na*nb) gate; no window, no second shuffle —
    scan-linear at any corpus size, and the join key is the already-
    unique pair id, so no skew exists by construction."""
    sa = side_a.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_va"),
        l2_norm(F.col(vec_col).cast("array<double>")).alias("_na"),
    )
    sb = side_b.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_vb"),
        l2_norm(F.col(vec_col).cast("array<double>")).alias("_nb"),
    )
    sim = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    # stage the cosine as a real column before thresholding (CSE across
    # a projection is not guaranteed; the r5 HOF lesson)
    scored = sa.join(sb, id_col).select(F.col(id_col), sim.alias("align_sim"))
    return scored.select(
        F.col(id_col),
        "align_sim",
        (F.col("align_sim") >= F.lit(float(threshold))).alias("aligned"),
    )


def semantic_diversity_survivors(
    corpus: DataFrame,
    threshold: float = 0.95,
    target_cell: int = 128,
    min_cells: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup survivors: (id, cell) for every vector NOT dominated by
    a lower-id same-cell vector at cosine >= ``threshold``.

    Pipeline (every stage deterministic and engine-mirrorable, so the
    WHOLE trained pipeline sits under the DuckDB hash gate — upgrading
    the knn_ivf_kmeans rows-only precedent exactly as the r7 verdict
    suggested):

    1. k = max(min_cells, n DIV target_cell) cells, factored as
       kc = ceil(sqrt(k)) coarse x kf = ceil(k/kc) fine
       (:func:`hier_params`) — one bounded count job (the
       auto_lsh_params precedent); the oracle derives the same k/kc/kf
       from count(*).
    2. Coarse seeds: :func:`kmeans_seeds_md5` (md5-ordered,
       engine-portable).
    3. ``n_iters`` coarse Lloyd rounds (:func:`ivf_centroids_kmeans`):
       cosine argmax assignment (ties to the lower cell) + fixed-point
       2^20-quantized integer mean — bit-identical on any engine or
       partitioning. Then the same discipline per coarse cell:
       md5-ordered fine seeds and ``n_iters`` GROUPED Lloyd rounds
       (:func:`fine_centroids_kmeans`), each point scoring only its
       own coarse cell's fine centroids.
    4. Final cell assignment (coarse :func:`ivf_assign` + grouped fine
       argmax — scan-local + one broadcast equi join; the corpus is
       never shuffled by the model). Flat cell id =
       (ccell - 1) * kf + fcell.
    5. Within-cell survivorship: the cell-keyed self-join generates
       only same-cell pairs (an equi-join — no cross product anywhere);
       a vector is dropped when ANY lower-id cell-mate sits at/above
       the threshold (the deterministic "keep lowest id" rule; the
       paper keeps one representative per eps-ball, which this realizes
       without iteration). Norms are STAGED before the join — the
       dot/(na*nb) form is bit-identical to a fused cosine and avoids
       re-folding each vector's norm once per pair (the r5 no-CSE
       lesson).

    Scale: with target_cell held constant the cell count grows with the
    corpus, so per-task pair work is bounded (cell^2 = const) and total
    pair volume is ~n*target_cell/2 — linear. Assignment under the
    two-level quantizer scores n*(kc+kf) = O(n*sqrt(k)) pairs per scan
    instead of the flat n*k the r12 64x probe killed (O(n^2*d/128) when
    k = n/128): at 64x that is ~2G mul-adds per scan vs the flat 51.2G.
    The residual n^1.5 term is the price of deriving k from count(*) so
    the oracle's hash gate holds at every scale factor; at production
    scale the coarse level is a FIXED pre-trained quantizer (exactly
    Meta's deployment — tens of thousands of clusters for billions of
    vectors), which makes assignment strictly linear.

    Parallelism notes (measured, r8): the corpus is SPREAD + persisted
    once up front — the small-SF fixture is one parquet split, which
    would serialize every per-row assignment fold into one task AND
    re-run the twin-flip projection per Lloyd round; and both the
    assignment scans and the pair join are tiny-bytes/heavy-compute
    stages that AQE's byte-based coalescing squeezes to 2 tasks, so
    the pair stage reads from an explicitly cell-partitioned frame
    (both join sides share it — no extra exchange) sized by the
    session's shuffle parallelism. 8.9 s -> ~2 s at sf0.1."""
    _, survivors = semantic_diversity_model(
        corpus, threshold, target_cell, min_cells, n_iters, id_col, vec_col
    )
    return survivors


class SemDedupModel(NamedTuple):
    """The trained two-level SemDeDup quantizer: ``coarse`` is the
    (cell, centroid) top-level k-means, ``fine`` the per-coarse-cell
    (ccell, fcell, centroid) second level, ``kf`` the fine stride —
    a point's flat cell id is ``(ccell - 1) * kf + fcell``."""

    coarse: DataFrame
    fine: DataFrame
    kf: int


def hier_params(n: int, target_cell: int = 128, min_cells: int = 8) -> tuple[int, int, int]:
    """(k, kc, kf) for the two-level quantizer: k = max(min_cells,
    n DIV target_cell) cells as before, factored into kc = ceil(sqrt(k))
    coarse cells x kf = ceil(k / kc) fine cells each. ``math.ceil(
    math.sqrt(k))`` is the exact expression the DuckDB oracle computes
    (``CAST(ceil(sqrt(k::DOUBLE)) AS BIGINT)``): IEEE sqrt of a small
    int is within 1 ulp, which cannot cross an integer boundary except
    at perfect squares — where sqrt is exact — so the two engines agree
    for every k below 2^40."""
    k = max(min_cells, n // target_cell)
    kc = math.ceil(math.sqrt(k))
    kf = (k + kc - 1) // kc
    return k, kc, kf


def _fine_groups_row(fine: DataFrame) -> DataFrame:
    """One row per coarse cell: (ccell, fcell-sorted array of
    struct(fcell, centroid, _cn)) — the broadcastable form the grouped
    fine argmax scores row-locally. Centroid norms fold JVM-side with
    the same sequential :func:`l2_norm` aggregate as ivf_assign's
    broadcast path, so scores stay bit-identical across paths."""
    return (
        fine.select(
            "ccell",
            F.struct(
                F.col("fcell"),
                F.col("centroid"),
                l2_norm(F.col("centroid")).alias("_cn"),
            ).alias("_fc"),
        )
        .groupBy("ccell")
        .agg(F.array_sort(F.collect_list("_fc")).alias("_fcs"))
    )


def _fine_groups_local(spark, cur: dict) -> DataFrame:
    """Driver-built twin of :func:`_fine_groups_row` for the training
    loop, which already holds the fine model in ``cur`` (r15): one row
    per coarse cell with the fcell-sorted struct array, norms via the
    same sequential fold as :func:`l2_norm` (the ivf_assign
    driver-float == JVM-double precedent) — no per-round
    groupBy(ccell) shuffle over a parallelized model frame. Field
    names/types match _fine_groups_row exactly so the argmax
    expression resolves to identical codegen."""
    by_ccell: dict[int, list] = {}
    for (c, f), v in sorted(cur.items()):
        vec = [float(x) for x in v]
        acc = 0.0
        for x in vec:
            acc = acc + x * x
        by_ccell.setdefault(int(c), []).append((int(f), vec, math.sqrt(acc)))
    rows = [(c, fcs) for c, fcs in sorted(by_ccell.items())]
    return local_df(
        spark,
        rows,
        "ccell int, _fcs array<struct<fcell:int,centroid:array<double>,_cn:double>>",
    )


def _fine_argmax(
    staged: DataFrame,
    fine: DataFrame | None,
    vec_col: str = "embedding",
    groups_row: DataFrame | None = None,
) -> DataFrame:
    """Grouped nearest-fine-centroid assignment: ``staged`` must carry
    (…, ``vec_col``, _nv, ccell); returns the same columns minus the
    group array plus ``fcell``. The join is a broadcast EQUI hash join
    on ccell (the model is O(k x dim) — collected-size class), so each
    row scores only its OWN coarse cell's <= kf fine centroids: the
    O(n*sqrt(k)*d) half of the hierarchical assignment. Ties resolve
    sim desc, fcell asc — array_sort over (negsim, fcell) structs, the
    exact ivf_assign ranking the oracle mirrors with
    ``ORDER BY list_cosine_similarity(...) DESC, fcell``.

    The join is a LEFT join with an fcell=1 fallback (r13 advisor's
    medium finding): Lloyd's can leave a coarse cell with zero training
    members whose centroid survives via the COALESCE rule, so it has NO
    fine centroids — a STREAMING arrival whose coarse argmax lands
    there (hier_assign via semdedup_gate_stream) must still get a cell
    id, or the gate's documented "first arrival passes with
    n_same_cell=0" invariant silently breaks. In the batch training
    path the fallback is inert: fine seeds are drawn from each coarse
    cell's own members, so every ccell present in ``staged`` has >= 1
    fine row. The oracle's _hier_assign_sql mirrors the same
    LEFT JOIN + COALESCE(fcell, 1)."""
    groups = groups_row if groups_row is not None else _fine_groups_row(fine)
    joined = staged.join(F.broadcast(groups), "ccell", "left")
    ranked = F.array_sort(
        F.transform(
            F.col("_fcs"),
            lambda c: F.struct(
                (
                    -(
                        dot(F.col(vec_col), c["centroid"])
                        / (F.col("_nv") * c["_cn"])
                    )
                ).alias("negsim"),
                c["fcell"].alias("fcell"),
            ),
        )
    )
    keep = [c for c in staged.columns if c != "ccell"]
    return joined.select(
        "ccell",
        *keep,
        F.coalesce(F.element_at(ranked, 1)["fcell"], F.lit(1)).alias("fcell"),
    )


_FINE_KEY_STRIDE = 1 << 20  # composite (ccell, fcell) bigint key for centroid_sums


def fine_centroids_kmeans(
    staged: DataFrame,
    kf: int,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-coarse-cell Lloyd k-means — the second level of the
    hierarchical quantizer. ``staged`` is the coarse-assigned corpus
    (id, vec, _nv, ccell), ideally persisted by the caller (it is
    scanned n_iters + 1 times). Seeds per coarse cell are the kf
    members with the lowest md5(cast(id as string)) (engine-portable,
    the kmeans_seeds_md5 convention, numbered 1..kf within the cell);
    each round is ONE grouped broadcast assignment scan (every point
    scores only its own cell's fine centroids) plus one fixed-point
    2^20-quantized integer mean keyed on the composite (ccell, fcell) —
    deterministic under any partitioning, bit-identical to the oracle's
    grouped round. (ccell, fcell) pairs that lose every member keep
    their previous centroid (the COALESCE rule). Returns (ccell, fcell,
    centroid); like ivf_centroids_kmeans, the rounds run through
    :func:`~gomrjob_spark.cache.iterate` with the model collected to the
    driver each round (:func:`_lloyd_update`, a bounded O(k x dim)
    read)."""
    spark = staged.sparkSession
    w = W.partitionBy("ccell").orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    seeds = (
        staged.select("ccell", F.col(id_col), F.col(vec_col))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= F.lit(int(kf)))
        .select(
            "ccell",
            F.col("_rn").cast("int").alias("fcell"),
            F.col(vec_col).cast("array<double>").alias("centroid"),
        )
    )
    cur = {
        (int(r["ccell"]), int(r["fcell"])): [float(x) for x in r["centroid"]]
        for r in seeds.collect()
    }

    def lloyd_round(cur: dict, _) -> dict:
        # r15: the per-round grouped broadcast row builds driver-side
        # from ``cur`` (no groupBy(ccell) shuffle over a model frame)
        assigned = _fine_argmax(
            staged, None, vec_col, groups_row=_fine_groups_local(spark, cur)
        )
        keyed = assigned.select(
            (
                F.col("ccell").cast("bigint") * F.lit(_FINE_KEY_STRIDE)
                + F.col("fcell").cast("bigint")
            ).alias("_gk"),
            F.col(vec_col),
        )
        sums = centroid_sums(keyed, group_col="_gk", vec_col=vec_col)
        return _lloyd_update(cur, sums, lambda r: divmod(int(r["_gk"]), _FINE_KEY_STRIDE))

    cur = iterate(lloyd_round, cur, max_rounds=n_iters)
    return local_df(
        spark,
        [(c, f, v) for (c, f), v in sorted(cur.items())],
        "ccell int, fcell int, centroid array<double>",
    )


def hier_assign(
    df: DataFrame,
    model: SemDedupModel,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign vectors under the trained two-level quantizer: coarse
    argmax over kc centroids (ivf_assign — scan-local), then fine
    argmax over that coarse cell's <= kf fine centroids (broadcast
    equi join + row-local fold). O(n * (kc + kf) * d) = O(n*sqrt(k)*d)
    total — the fix for the flat O(n*k*d) scan that the r12 64x probe
    killed. Stream-safe: both stages are projections / stream-static
    broadcast joins. Returns (id, vec, cell) with the flat composite
    cell id (ccell - 1) * kf + fcell."""
    staged = (
        ivf_assign(df, model.coarse, 1, id_col, vec_col)
        .select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("_nv"),
            F.col("cell").alias("ccell"),
        )
    )
    fassigned = _fine_argmax(staged, model.fine, vec_col)
    return fassigned.select(
        F.col(id_col),
        F.col(vec_col),
        (
            (F.col("ccell") - F.lit(1)) * F.lit(int(model.kf)) + F.col("fcell")
        ).cast("int").alias("cell"),
    )


def semantic_diversity_model(
    corpus: DataFrame,
    threshold: float = 0.95,
    target_cell: int = 128,
    min_cells: int = 8,
    n_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[SemDedupModel, DataFrame]:
    """The SemDeDup pipeline with its trained artifacts exposed:
    returns (model, survivors) — ``model`` the two-level
    :class:`SemDedupModel` quantizer, ``survivors`` the (id, cell)
    frame :func:`semantic_diversity_survivors` documents. The split
    exists so a LIVE admission topology
    (streaming.ops.semdedup_gate_stream) can broadcast the SAME
    trained model + survivor store the batch pass produced — the
    offline-train / online-score deployment every other dedup family
    has.

    Two-level training (the r12 64x-probe remediation — SCALING.md
    round 12: the flat k = n/128 Lloyd assignment was O(n^2*d/128) and
    died at 64x): k factors into kc = ceil(sqrt(k)) coarse cells, each
    k-means-refined as before (n_iters rounds over kc centroids), then
    kf = ceil(k/kc) fine cells are trained WITHIN each coarse cell
    (grouped Lloyd rounds — each point only ever scores its own coarse
    cell's fine centroids). Every scan is O(n * sqrt(k) * d); total
    cell count stays ~k so the within-cell pair volume keeps the
    paper's linear ~n * target_cell / 2 bound. Meta's SemDeDup itself
    k-means under a pre-trained coarse quantizer for exactly this
    reason; here the coarse level trains in-pipeline so the DuckDB
    oracle can replay the whole trajectory bit-for-bit."""
    from gomrjob_spark.cache import scoped_persist
    from gomrjob_spark.operators.text import spread

    corpus = scoped_persist(spread(corpus))
    n = corpus.count()
    _, kc, kf = hier_params(n, target_cell, min_cells)
    seeds = kmeans_seeds_md5(corpus, kc, id_col, vec_col)
    coarse = ivf_centroids_kmeans(
        corpus, kc, n_iters, id_col, vec_col, seeds=seeds
    )
    # the coarse-assigned corpus is scanned kf-seeding + n_iters + 1
    # times below — persist it once (same discipline as the corpus)
    staged = scoped_persist(
        ivf_assign(corpus, coarse, 1, id_col, vec_col).select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm(F.col(vec_col)).alias("_nv"),
            F.col("cell").alias("ccell"),
        )
    )
    fine = fine_centroids_kmeans(staged, kf, n_iters, id_col, vec_col)
    assigned = _fine_argmax(staged, fine, vec_col).select(
        F.col(id_col),
        F.col(vec_col),
        F.col("_nv"),
        (
            (F.col("ccell") - F.lit(1)) * F.lit(int(kf)) + F.col("fcell")
        ).cast("int").alias("cell"),
    )
    nparts = int(
        corpus.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    sided = assigned.select(
        F.col(id_col), F.col(vec_col), "cell", "_nv"
    ).repartition(nparts, "cell")
    a = sided.select(
        F.col(id_col).alias("_ida"),
        F.col(vec_col).alias("_va"),
        F.col("_nv").alias("_na"),
        "cell",
    )
    b = sided.select(
        F.col(id_col).alias("_idb"),
        F.col(vec_col).alias("_vb"),
        F.col("_nv").alias("_nb"),
        "cell",
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("_ida") < F.col("_idb"))
        .filter(
            dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
            >= F.lit(float(threshold))
        )
        .select(F.col("_idb").alias(id_col))
        .distinct()
    )
    survivors = assigned.join(dropped, id_col, "left_anti").select(
        F.col(id_col), F.col("cell")
    )
    return SemDedupModel(coarse, fine, int(kf)), survivors
