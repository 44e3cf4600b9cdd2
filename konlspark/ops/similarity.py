"""Similarity search over embedding columns (``array<float>``).

- **brute-force cosine top-k**: JVM-side dot products via
  ``F.zip_with`` + ``F.aggregate`` against a broadcast query vector —
  the exact baseline; one scan, one top-k shuffle.
- **all-pairs near-dup**: normalized brute force for modest candidate
  sets (after an LSH/dedup prefilter).
- **LSH-bucketed ANN (scale path)**: random-hyperplane signatures →
  same-bucket pairs, exact cosine verification of those pairs only.
  Signs come from deterministic per-dimension hash weights (no RNG at
  plan time; resumable/reproducible).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _bucket_pairs


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


def cosine_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k of a query vector: (id, cos) ordered desc,
    ties by ascending id. Entirely codegen'd — no UDF, no collect."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    qn = sum(float(x) * float(x) for x in query_vec) ** 0.5
    v = F.col(vec_col).cast("array<double>")
    cos = _dot(v, q) / (F.greatest(_norm(v), F.lit(1e-12)) * F.lit(max(qn, 1e-12)))
    return (
        df.select(F.col(id_col).alias("id"), F.round(cos, 6).alias("cos"))
        .orderBy(F.desc("cos"), F.asc("id"))
        .limit(k)
    )


def cosine_pairs(df: DataFrame, threshold: float = 0.95,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 prefilter: DataFrame | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs above ``threshold``.

    With ``prefilter`` (id_a, id_b candidates from LSH) the exact pass
    is a join-verify; without it, an all-pairs self-join (only for small
    inputs — the scale path is :func:`ann_lsh_pairs`).
    """
    v = F.col(vec_col).cast("array<double>")
    base = df.select(F.col(id_col).alias("id"),
                     F.transform(v, lambda x: x / F.greatest(_norm(v), F.lit(1e-12))
                                 ).alias("nv"))
    if prefilter is not None:
        pairs = (prefilter
                 .join(base.withColumnsRenamed({"id": "id_a", "nv": "nv_a"}), "id_a")
                 .join(base.withColumnsRenamed({"id": "id_b", "nv": "nv_b"}), "id_b"))
    else:
        pairs = (base.alias("a").join(base.alias("b"), F.col("a.id") < F.col("b.id"))
                 .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                         F.col("a.nv").alias("nv_a"), F.col("b.nv").alias("nv_b")))
    return (
        pairs.withColumn("cos", F.round(_dot(F.col("nv_a"), F.col("nv_b")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _hyperplane_weights(plane: int, dim: int) -> list:
    """±1 weight for (plane, i) from the parity of the first md5 hex
    digit of "plane:i" — deterministic, no RNG state, and the identical
    expression is writable in ANSI SQL/DuckDB (→ the LSH banding is
    oracle-able). Computed DRIVER-SIDE with hashlib (r9): the previous
    in-plan form evaluated md5 inside a transform lambda, which
    Catalyst cannot constant-fold — n_planes x dim digests per ROW
    (1,024 at 16 planes x 64 dims). The weights depend only on
    (plane, i), so they are plan-time literals."""
    import hashlib
    return [1.0 if int(hashlib.md5(f"{plane}:{i}".encode())
                       .hexdigest()[0], 16) % 2 == 1 else -1.0
            for i in range(dim)]


def _hyperplane_sign(vec_col, plane: int, dim: int):
    """Sign bit of the projection onto the deterministic hyperplane
    (see :func:`_hyperplane_weights`)."""
    w = F.array(*[F.lit(x) for x in _hyperplane_weights(plane, dim)])
    proj = F.aggregate(F.zip_with(vec_col, w, lambda x, y: x * y),
                       F.lit(0.0), lambda a, b: a + b)
    return F.when(proj >= 0, F.lit(1)).otherwise(F.lit(0))


def ann_lsh_pairs(df: DataFrame, dim: int, n_planes: int = 16,
                  bands: int = 4, threshold: float = 0.8,
                  id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """ANN near-dup pairs: random-hyperplane LSH bucket pairs
    (:func:`konlspark.ops.dedup._bucket_pairs`) + exact cosine
    verification of candidates only."""
    v = F.col(vec_col).cast("array<double>")
    bits = [_hyperplane_sign(v, p, dim).alias(f"bit{p}") for p in range(n_planes)]
    per_band = n_planes // bands
    band_sigs = ", ".join(
        f"named_struct('band_no', {b}, 'sig', concat_ws('', "
        + ", ".join(f"CAST(bit{b * per_band + r} AS STRING)"
                    for r in range(per_band))
        + "))"
        for b in range(bands))
    stacked = (df.select(F.col(id_col).alias("id"), *bits)
               .selectExpr("id", f"inline(array({band_sigs}))"))
    cands = _bucket_pairs(stacked, ["band_no", "sig"])
    return cosine_pairs(df, threshold, id_col, vec_col, prefilter=cands)


def ivf_topk(df: DataFrame, query_vec: Sequence[float], k: int = 10,
             n_cell_bits: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF-style pruned top-k: partition vectors into 2^n_cell_bits
    coarse cells by hyperplane signature, probe only the query's cell,
    exact cosine inside it.

    Approximate by design (recall < 1 when true neighbors land in other
    cells); the exact baseline is :func:`cosine_topk`. At scale, write
    the table partitioned by ``cell`` so the probe is a partition-pruned
    scan instead of a full pass.
    """
    v = F.col(vec_col).cast("array<double>")
    bits = [_hyperplane_sign(v, p, len(query_vec)) for p in range(n_cell_bits)]
    cell = F.concat_ws("", *[b.cast("string") for b in bits])
    spark = df.sparkSession
    qdf = spark.createDataFrame([(list(map(float, query_vec)),)],
                                f"{vec_col} array<double>")
    q_cell = qdf.select(cell.alias("cell")).collect()[0]["cell"]
    probed = df.withColumn("_cell", cell).filter(F.col("_cell") == q_cell)
    return cosine_topk(probed, query_vec, k, id_col, vec_col)
