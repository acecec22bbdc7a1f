"""Similarity search over array<float> embedding columns.

- brute_force_topk: exact cosine top-k — the correctness baseline. The
  cross join is bounded by broadcasting the (small) query side; at scale
  this is queries x corpus with the corpus streamed partition-parallel and
  a per-query rank window (no global sort).
- lsh_topk: random-hyperplane LSH — the scale path. Plane weights are
  derived DETERMINISTICALLY from md5(plane, dim) so Spark and the DuckDB
  oracle build identical planes (no RNG; re-runs identical). Docs are
  bucketed by sign-bit signature; candidates share the query's bucket, so
  the quadratic cross join becomes a bucket-equi-join.
- embedding_near_dup_pairs: all-pairs cosine >= threshold (near-dup dedup
  by embedding) — exact at test scale; at 100 TB you'd run lsh bucketing
  first and verify within buckets (the composition is the same operators).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vectors import cosine, cosine_arrow, norm, round_half_away


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact top-k neighbors per query by cosine (excluding self).
    Output: (query_id, neighbor_id, sim, rk)."""
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv"))
    scored = (
        q.crossJoin(c)  # Catalyst broadcasts the small query side
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine_arrow(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def hyperplane_weights(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: weight(plane, d) =
    (int(md5('p<plane>:<d>')[:15hex], 16) % 2001 - 1000) / 1000.0.
    Derived from md5 so ANY engine (Spark, DuckDB oracle, plain Python)
    reconstructs the identical plane — no RNG state, reruns identical."""
    import hashlib

    out = []
    for d in range(dim):
        h = int(hashlib.md5(f"p{plane}:{d}".encode()).hexdigest()[:15], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def hyperplane_expr(vec_col: str, plane: int, dim: int):
    """Dot product of the embedding with a hyperplane as a pure Column
    expression over a LITERAL weight array (weights are plan constants:
    computed once, constant-folded, no per-row hashing)."""
    weights = F.array(*[F.lit(w) for w in hyperplane_weights(plane, dim)])
    terms = F.zip_with(F.col(vec_col), weights, lambda x, wgt: x.cast("double") * wgt)
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def lsh_signature(df: DataFrame, n_planes: int, dim: int,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """(id, bucket:int) — sign-bit signature over n_planes hyperplanes."""
    sig = sum(
        F.when(hyperplane_expr(vec_col, p, dim) > 0, F.lit(1 << p)).otherwise(F.lit(0))
        for p in range(n_planes)
    )
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"), sig.cast("int").alias("bucket"))


def lsh_topk(df: DataFrame, k: int, n_planes: int, dim: int,
             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Approximate top-k neighbors within each vector's LSH bucket.
    Output: (query_id, neighbor_id, sim, rk). Joins on bucket -> candidate
    set is |bucket|^2 per bucket instead of N^2 overall."""
    sig = lsh_signature(df, n_planes, dim, id_col, vec_col)
    a = sig.select(F.col("id").alias("query_id"), F.col("v").alias("qv"), "bucket")
    b = sig.select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "bucket")
    scored = (
        a.join(b, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def ivf_assign_literal(df: DataFrame, centroids: list[tuple[int, list[float]]],
                       id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """IVF cell assignment with the centroid table inlined as plan literals:
    (id, v, cell) where cell = argmax-cosine centroid (ties -> smaller cell
    id). The argmax is a per-row array_max over literal struct entries —
    entirely map-side, NO shuffle of the corpus (the IVF build assumption:
    the centroid set is small, k ~ sqrt(N), and ships with the plan exactly
    like a broadcast). Cosines are rounded like functions.vectors.cosine so
    the DuckDB oracle reproduces assignment bit-for-bit."""
    import math

    entries = []
    for cid, wvec in centroids:
        wn = math.sqrt(sum(float(x) * float(x) for x in wvec))
        warr = F.array(*[F.lit(float(x)) for x in wvec])
        d = F.aggregate(
            F.zip_with(F.col(vec_col), warr, lambda x, wgt: x.cast("double") * wgt),
            F.lit(0.0), lambda acc, x: acc + x)
        csim = F.round(d / (norm(F.col(vec_col)) * F.lit(wn)), 6)
        # struct max is lexicographic: sim first, then -cell (ties -> smaller cell)
        entries.append(F.struct(csim.alias("s"), F.lit(-int(cid)).cast("long").alias("nc")))
    best = F.array_max(F.array(*entries))
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     (-best["nc"]).cast("long").alias("cell"))


def ivf_assign_broadcast(df: DataFrame,
                         centroids: list[tuple[int, list[float]]],
                         nprobe: int = 1,
                         id_col: str = "vec_id",
                         vec_col: str = "embedding") -> DataFrame:
    """IVF cell assignment via a BROADCAST numpy centroid matrix + one
    vectorized matmul-argmax per Arrow batch — the scale path. The literal
    variant (ivf_assign_literal) inlines k struct expressions into the plan,
    which at k ~ sqrt(N) = 10^5 centroids explodes the Catalyst tree and
    evaluates per-row interpreted; here the plan carries only a broadcast
    handle and each batch costs one (batch x k) float64 matmul.

    Semantics are bit-identical to the literal form / DuckDB oracle:
    sim = round(dot(v, c) / (|v|*|c|), 6), ties -> smaller cell id (centroid
    rows are sorted by cell id and argsort is stable).

    nprobe=1 -> (id, v, cell: long); nprobe>1 -> (id, v, cells: array<long>)
    holding the query's nprobe nearest cells, nearest first.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    order = sorted(centroids, key=lambda t: int(t[0]))
    cell_ids = np.array([int(c) for c, _ in order], dtype=np.int64)
    mat = np.array([v for _, v in order], dtype=np.float64)          # (k, d)
    cnorm = np.sqrt((mat * mat).sum(axis=1))                          # (k,)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast((cell_ids, mat, cnorm))
    n_out = int(nprobe)

    @pandas_udf(LongType() if n_out == 1 else ArrayType(LongType()))
    def _assign(vecs: pd.Series) -> pd.Series:
        ids_, m_, cn_ = bc.value
        v = np.asarray(vecs.tolist(), dtype=np.float64)               # (n, d)
        vn = np.sqrt((v * v).sum(axis=1))
        # same arithmetic shape as functions.vectors.cosine / the oracle:
        # round(dot / (norm_a * norm_b), 6)
        sims = round_half_away((v @ m_.T) / (vn[:, None] * cn_[None, :]), 6)
        if n_out == 1:
            # stable argmax over rows sorted by cell id = smaller-id tie-break
            return pd.Series(ids_[np.argmax(sims, axis=1)])
        top = np.argsort(-sims, axis=1, kind="stable")[:, :n_out]
        return pd.Series(list(ids_[top]))

    out_name = "cell" if n_out == 1 else "cells"
    return df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"),
                     _assign(F.col(vec_col)).alias(out_name))


def ivf_topk_nprobe(corpus_assigned: DataFrame, probes_assigned: DataFrame,
                    k: int) -> DataFrame:
    """Approximate top-k searching each query's nprobe nearest cells.
    `corpus_assigned` = ivf_assign_broadcast(..., nprobe=1) output
    (id, v, cell); `probes_assigned` = ivf_assign_broadcast(queries,
    nprobe=p) output (id, v, cells). The probe side explodes its cell list
    (p small), the corpus side never replicates — candidates are a
    cell-equi-join, |cell|*p per query instead of N. A neighbor found via
    two probed cells dedups before ranking.
    Output: (query_id, neighbor_id, sim, rk)."""
    q = probes_assigned.select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"),
        F.explode("cells").alias("cell"))
    c = corpus_assigned.select(
        F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell")
    scored = (
        q.join(c, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id",
                cosine_arrow(F.col("qv"), F.col("cv")).alias("sim"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def ivf_topk(assigned: DataFrame, k: int, query_filter) -> DataFrame:
    """Approximate top-k within each query's IVF cell (nprobe=1): the
    quadratic cross join becomes a cell-equi-join, sized |cell|^2 per cell.
    `assigned` is ivf_assign_literal output; `query_filter` a Column
    predicate over the `id` column selecting probe vectors.
    Output: (query_id, neighbor_id, sim, rk)."""
    q = assigned.where(query_filter).select(
        F.col("id").alias("query_id"), F.col("v").alias("qv"), "cell")
    c = assigned.select(F.col("id").alias("neighbor_id"), F.col("v").alias("cv"), "cell")
    scored = (
        q.join(c, "cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", cosine(F.col("qv"), F.col("cv")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "sim", "rk")
    )


def embedding_near_dup_pairs(df: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """All pairs with cosine >= threshold, id_a < id_b — the EXACT all-pairs
    form, O(N^2): correctness oracle / test-scale only. The wired default at
    scale is embedding_near_dup_lsh below (banded bucket join)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", cosine(F.col("va"), F.col("vb")))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def embedding_near_dup_lsh(df: DataFrame, threshold: float = 0.95,
                           n_bands: int = 4, band_planes: int = 4,
                           dim: int = 64,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Scale path for embedding near-dup: banded random-hyperplane LSH
    bucketing, then EXACT cosine only within buckets. Candidates = pairs
    sharing at least one band bucket (OR over bands raises recall the same
    way MinHash banding does); each band join is a shuffle equi-join on
    (band, bucket) — sub-quadratic, no CartesianProduct in the plan. The
    band join and the candidate dedup move ids only; the vectors join back
    once per distinct candidate pair (minhash_lsh_pairs' shape).
    Planes are the deterministic md5 hyperplanes (band b uses planes
    b*band_planes .. b*band_planes+band_planes-1), so the DuckDB oracle
    rebuilds identical buckets. Output: (id_a, id_b, sim), id_a < id_b."""
    bands = []
    for b in range(n_bands):
        sig = sum(
            F.when(hyperplane_expr(vec_col, b * band_planes + j, dim) > 0,
                   F.lit(1 << j)).otherwise(F.lit(0))
            for j in range(band_planes)
        )
        bands.append(df.select(
            F.col(id_col).alias("id"), F.lit(b).alias("band"), sig.cast("int").alias("bucket")))
    sigs = bands[0]
    for extra in bands[1:]:
        sigs = sigs.unionByName(extra)
    cand = (
        sigs.select(F.col("id").alias("id_a"), "band", "bucket")
        .join(sigs.select(F.col("id").alias("id_b"), "band", "bucket"), ["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()  # a pair may collide in >1 band
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        # HOF cosine kept here ON PURPOSE (measured): the candidate set is
        # corpus-sized and each Arrow pair row ships BOTH vectors to the
        # Python worker — the transfer cost inverted the win
        # (dedup_embedding_cosine 2.2s -> 5.7s with cosine_arrow). The
        # Arrow form pays off only when candidates are query-bounded
        # (brute_force_topk, ivf_topk_nprobe) or vectors never leave the
        # task (semdedup's per-cell matmul).
        cand.join(va, "id_a").join(vb, "id_b")
        .withColumn("sim", cosine(F.col("va"), F.col("vb")))
        .where(F.col("sim") >= threshold)
        .select("id_a", "id_b", "sim")
    )


def semdedup_pairs(df: DataFrame, centroids: list[tuple[int, list[float]]],
                   threshold: float,
                   id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public literature): semantic near-dup
    pairs searched ONLY within k-means cells — cluster first, then compare,
    so the pair candidate space is O(N^2/k) instead of O(N^2) and the pair
    search is a cell-equi-join (never a CartesianProduct).

    `centroids` is the trained cell table (operators/kmeans.kmeans_fit ->
    centroids_as_list); assignment is the proven broadcast-matmul path
    (ivf_assign_broadcast — the corpus never shuffles to be assigned, and
    the assignment recomputes map-side on each use rather than caching a
    corpus-sized intermediate). Each emitted pair carries `drop_id`: the
    member SemDeDup removes — the one with the HIGHER round-6 cosine to its
    cluster centroid (the paper keeps the low-centroid-similarity example
    to preserve diversity); ties drop the larger id.

    Output: (cell, id_a, id_b, sim, drop_id), id_a < id_b, sim >= threshold.
    """
    import numpy as np

    spark = df.sparkSession
    assigned = ivf_assign_broadcast(df, centroids, id_col=id_col, vec_col=vec_col)
    cent_df = spark.createDataFrame(
        [(int(c), [float(x) for x in v]) for c, v in centroids],
        "cell long, cv array<double>")
    scored = (assigned.join(F.broadcast(cent_df), "cell")
              .select("cell", "id", "v",
                      cosine(F.col("v"), F.col("cv")).alias("cs")))

    # Within-cell pair search as ONE (n_c x n_c) numpy matmul per cell
    # inside applyInPandas — the same Arrow matmul + round-6 arithmetic
    # shape ivf_assign_broadcast established (sim = round(dot/(|a||b|),6)).
    # The previous self-join evaluated the zip_with/aggregate cosine HOF
    # per candidate pair (interpreted, no codegen): ~250k pair evals at
    # sf0.1 took ~4.5s; the matmul form is the classic SemDeDup kernel —
    # per cell O(n_c^2 d) FLOPs but vectorized, and only thresholded pairs
    # leave the task. Shuffle volume is unchanged (one exchange on cell);
    # at production k ~ N/E[n_c] the per-cell matrix is bounded by design.
    out_schema = ("cell long, id_a long, id_b long, sim double, "
                  "drop_id long")
    th = float(threshold)

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) < 2:
            return pd.DataFrame(
                {"cell": [], "id_a": [], "id_b": [], "sim": [],
                 "drop_id": []}).astype(
                {"cell": "int64", "id_a": "int64", "id_b": "int64",
                 "sim": "float64", "drop_id": "int64"})
        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy(dtype=np.int64)
        v = np.asarray(pdf["v"].tolist(), dtype=np.float64)
        cs = pdf["cs"].to_numpy(dtype=np.float64)
        n = np.sqrt((v * v).sum(axis=1))
        sims = round_half_away((v @ v.T) / (n[:, None] * n[None, :]), 6)
        ia, ib = np.triu_indices(len(ids), 1)  # ids sorted -> id_a < id_b
        keep = sims[ia, ib] >= th
        ia, ib = ia[keep], ib[keep]
        s = sims[ia, ib]
        # drop the member CLOSER to its centroid; round-6 ties -> larger id
        drop = np.where(cs[ia] > cs[ib], ids[ia],
                        np.where(cs[ib] > cs[ia], ids[ib],
                                 np.maximum(ids[ia], ids[ib])))
        return pd.DataFrame({
            "cell": np.full(len(ia), int(pdf["cell"].iloc[0]), dtype=np.int64),
            "id_a": ids[ia], "id_b": ids[ib], "sim": s, "drop_id": drop})

    return scored.groupBy("cell").applyInPandas(_pairs, out_schema)


def embedding_quantize_int8(df: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Symmetric per-vector int8 quantization — the standard storage/ANN
    compression for embedding tables (e.g. faiss SQ8, public art): scale =
    max|x| / 127, q_i = clamp(round(x_i/scale)) in [-127, 127]. Cuts an
    embedding column 4x (float32 -> int8), which at a 100 TB corpus is the
    difference between an ANN index that fits executor memory and one that
    doesn't; recall loss is the reported recon error, not a silent drop.

    All pure Column exprs (codegen, zero shuffle, map-side only).
    Cross-engine determinism: rounding is floor(x/s + 0.5) — identical
    double math on Spark and DuckDB, no engine round()-mode dependence.
    Emits the quantized vector as a csv string (canonical cross-engine
    form), plus l1 mass and max reconstruction error (rounded to 6) so the
    oracle gates every quantized coordinate AND the dequantize path.
    All-zero vectors quantize to scale 0 / all-zero q by convention.
    """
    v = F.col(vec_col)
    maxabs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    s = (maxabs / F.lit(127.0)).alias("s")
    qi = lambda x, sc: F.greatest(  # noqa: E731
        F.lit(-127), F.least(F.lit(127),
        F.floor(x / sc + F.lit(0.5)).cast("int")))
    zero = maxabs == 0
    out = df.select(
        F.col(id_col),
        F.round(F.when(zero, F.lit(0.0)).otherwise(maxabs / 127.0), 9)
         .alias("scale"),
        F.when(zero, F.concat_ws(",", F.transform(v, lambda x: F.lit(0))))
         .otherwise(F.concat_ws(",", F.transform(
             v, lambda x: qi(x, maxabs / 127.0)))).alias("q_csv"),
        F.when(zero, F.lit(0)).otherwise(F.aggregate(
            F.transform(v, lambda x: F.abs(qi(x, maxabs / 127.0)).cast("bigint")),
            F.lit(0).cast("bigint"), lambda acc, x: acc + x)).alias("q_l1"),
        F.round(F.when(zero, F.lit(0.0)).otherwise(F.array_max(F.transform(
            v, lambda x: F.abs(qi(x, maxabs / 127.0).cast("double")
                               * (maxabs / 127.0) - x)))), 6)
         .alias("recon_err"),
    )
    return out


def embedding_quantize_int8_sql(source: str, id_expr: str = "vec_id",
                                vec_expr: str = "embedding") -> str:
    """DuckDB restatement: identical scale, floor(x/s + 0.5) rounding,
    clamping, csv form, l1 and max-recon-error math."""
    q = ("greatest(-127, least(127, "
         "cast(floor(cast(x as double) / s + 0.5) as int)))")
    return f"""
WITH base AS (
  SELECT {id_expr} AS vec_id, {vec_expr} AS v,
         list_max(list_transform({vec_expr}, x -> abs(cast(x as double)))) / 127.0 AS s
  FROM {source}
)
SELECT vec_id,
       round(CASE WHEN s = 0 THEN 0.0 ELSE s END, 9) AS scale,
       CASE WHEN s = 0
            THEN array_to_string(list_transform(v, x -> 0), ',')
            ELSE array_to_string(list_transform(v, x -> {q}), ',') END AS q_csv,
       cast(CASE WHEN s = 0 THEN 0
            ELSE list_sum(list_transform(v, x -> abs(cast({q} as bigint)))) END
            as bigint) AS q_l1,
       round(CASE WHEN s = 0 THEN 0.0
             ELSE list_max(list_transform(v,
                  x -> abs(cast({q} as double) * s - cast(x as double)))) END, 6)
         AS recon_err
FROM base
"""
