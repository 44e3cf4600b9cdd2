"""Deduplication operators for training-data pipelines, at 100 TB shape.

- **exact**: hash-groupBy keep-first (same window pattern as the index
  build's B2 dedup);
- **ngram-Jaccard**: exact pairwise Jaccard over word 3-shingles, but
  *candidate-generated from shared-shingle buckets* (never an
  all-pairs cross join): pairs that share no shingle are never
  materialized;
- **MinHash + LSH**: k independent permutation-free min-hashes built
  from md5(seed || shingle) (portable to any SQL engine → oracle-able),
  banded into LSH buckets; candidate pairs = same-bucket pairs; optional
  exact-Jaccard verification of candidates;
- **SimHash**: 60-bit sign-sketch of md5-based shingle hash bits
  (portable to SQL → oracle-able), Hamming-distance candidate grouping
  by band equality;
- **embedding cosine near-dup**: see :mod:`konlspark.ops.similarity`.

All are DataFrame-native: shuffles only on shingle/bucket keys, and
every candidate generator is :func:`_bucket_pairs` (skew note: an
ubiquitous shingle creates a hot bucket — cap its size with ``max_df``
exactly like stopword elision in the index build).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(text_col: str) -> Column:
    """Whitespace tokens of the lower-cased top-level column
    ``text_col``, empties dropped: the one tokenization every dedup and
    text-statistics operator shares."""
    return F.expr(f"filter(split(lower(`{text_col}`), '\\\\s+'), t -> t != '')")


def _md5_long(sql: str) -> str:
    """SQL text: int64 of the first 15 hex chars of ``md5(sql)`` — the
    same expression is writable in DuckDB, making the sketches built on
    it oracle-able."""
    return f"CAST(conv(substring(md5({sql}), 1, 15), 16, 10) AS BIGINT)"


def _shingle_df(df: DataFrame, text_col: str, id_col: str,
                n: int) -> DataFrame:
    """``(id, sh)``: each doc's distinct word ``n``-shingles in
    first-seen order; a doc of fewer than ``n`` tokens has its whole
    token string as its one shingle.

    The token array is materialized in its OWN Project below the
    shingle Project (CollapseProject keeps them apart because ``_toks``
    is referenced more than once by a non-cheap expression). Inlining
    the tokenization instead re-evaluates it for every ``_toks[i + j]``
    inside the transform lambda — codegen subexpression elimination does
    not reach into lambda bodies — which costs O(k^2) per doc (measured
    r9 at 50k docs / 8 cores: 12-15 s inlined vs 0.5 s materialized)."""
    words = ", ".join(f"_toks[i + {j}]" for j in range(n))
    return (df
            .select(F.col(id_col).alias("id"), _tokens(text_col).alias("_toks"))
            .selectExpr("id", f"""CASE WHEN size(_toks) >= {n}
                THEN array_distinct(transform(sequence(0, size(_toks) - {n}),
                                              i -> concat_ws(' ', {words})))
                ELSE array(concat_ws(' ', _toks)) END AS sh"""))


def _bucket_pairs(rows: DataFrame, keys: List[str],
                  payload: Optional[str] = None,
                  max_size: Optional[int] = None) -> DataFrame:
    """Distinct ``(id_a, id_b)`` pairs, ``id_a < id_b``, of the ``id``s
    of ``rows`` that share the value of ``keys`` (a bucket) in at least
    one row. With ``payload``, that column rides along for each side as
    ``<payload>_a`` / ``<payload>_b``; it must be a function of ``id``.
    Buckets of more than ``max_size`` rows make no pairs.

    One shuffle collects each bucket's ids; two generators then stream
    its pairs — every id, then each larger id of the same bucket — so a
    bucket's pairs are never built as one array, and ``rows``' lineage
    runs once. A self-join on ``keys`` would run it once per side: AQE
    reuses no exchange between the two sides of a self-join over a
    cached or local input (PySpark 4.1.2). A hot bucket's pairs come
    out of one task under either shape."""
    item = f"named_struct('id', id, 'p', {payload})" if payload else "id"
    key = ".id" if payload else ""
    sized = ("size(ids) > 1" if max_size is None
             else f"size(ids) BETWEEN 2 AND {max_size}")
    cols = (["a.id AS id_a", "b.id AS id_b",
             f"a.p AS {payload}_a", f"b.p AS {payload}_b"]
            if payload else ["a AS id_a", "b AS id_b"])
    return (rows.groupBy(*keys).agg(F.expr(f"collect_list({item}) AS ids"))
            .filter(sized)
            .selectExpr("ids", "explode(ids) AS a")
            .selectExpr("a", f"explode(filter(ids, y -> y{key} > a{key})) AS b")
            .selectExpr(*cols)
            .distinct())


def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the lowest-id row per exact text; adds group size.

    Same narrow shape as the index build's B2 dedup (one map-side-
    combined ``(hash → winner, count)`` aggregate + an AQE-broadcastable
    probe of the duplicated hashes back onto the scan — full rows are
    never shuffled; the previous row_number-window formulation shuffled
    the whole corpus by hash). Requires ``id_col`` unique.
    """
    from ..build import dup_winner_map
    hashed = df.withColumn("_h", F.sha2(F.col(text_col), 256))
    dups = dup_winner_map(hashed, F.col(id_col), hash_col="_h")
    return (
        hashed.join(dups, "_h", "left")
        .filter(F.col("_wk").isNull() | (F.col(id_col) == F.col("_wk")))
        .withColumn("dup_count", F.coalesce(F.col("_n"), F.lit(1)))
        .drop("_h", "_wk", "_n")
    )


def _jaccard_over_candidates(base: DataFrame, cands: DataFrame,
                             threshold: float) -> DataFrame:
    """Exact Jaccard of candidate pairs from per-doc shingle ARRAYS.

    PAIR-DRIVEN (r5, kept): the ``cands`` pair list drives the work, so
    the expensive candidate-generation lineage (d4's k×md5 + band
    buckets; d1's shingle buckets + distinct) executes exactly ONCE
    per action — the r5 fix that took d4 18.7→12.6 s.

    ARRAY-INTERSECT verify (r6, measured): instead of re-exploding
    shingles and counting matches through a ``(id, shingle)`` join +
    groupBy (two wide shuffles of Σ|sh| rows + an agg), join the pairs
    to the per-doc shingle arrays on both sides and compute
    ``size(array_intersect(sh_a, sh_b))`` in codegen. Sizes come free
    (``size(sh)``), the count agg disappears, and the only shuffled
    payload is one shingle array per candidate-pair side. Shingle
    arrays are ``array_distinct`` by construction, so the distinct
    intersection count is identical to the exploded formulation —
    A/B'd interleaved min-of-3 at sf0.1/32c: d4 verify 7.76s → 4.44s
    (1.75×), d1 14.14s → 11.00s (1.29×), identical output pairs
    (BENCH/profile_d4_r6.json).
    Still the right 100 TB shape: per-pair cost O(|sh_a|+|sh_b|), no
    quadratic re-explosion inside dense near-dup clusters. Threshold
    applies to the UNROUNDED value; reported ``jaccard`` rounds to 6.
    """
    a = base.select(F.col("id").alias("id_a"), F.col("sh").alias("_sh_a"))
    b = base.select(F.col("id").alias("id_b"), F.col("sh").alias("_sh_b"))
    inter = F.size(F.array_intersect("_sh_a", "_sh_b"))
    jac = F.col("_i") / (F.size("_sh_a") + F.size("_sh_b") - F.col("_i"))
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .withColumn("_i", inter)
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
    )


def shingle_pairs_jaccard(df: DataFrame, text_col: str = "text",
                          id_col: str = "doc_id", n: int = 3,
                          threshold: float = 0.5,
                          max_df: int = 10000) -> DataFrame:
    """Exact n-gram Jaccard over candidate pairs sharing ≥1 shingle.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥
    threshold. ``max_df`` bounds the hot-key blowup by dropping
    ubiquitous shingles from CANDIDATE GENERATION only; the Jaccard of
    each surviving candidate pair is then recounted over the full
    shingle sets, so reported values are exact. (A true pair whose
    every shared shingle exceeds ``max_df`` is missed — approximate in
    recall, never in value; the default 10k never triggers below
    web-scale corpora.)
    """
    base = _shingle_df(df, text_col, id_col, n)
    # explode_outer, not explode: `sh` is never null or empty (the
    # ELSE branch of _shingle_df always yields a 1-element array), so
    # the two are row-identical — but a plain explode makes the
    # optimizer infer a `size(sh) > 0 AND isnotnull(sh)` filter and
    # push the entire shingle expression down to the scan, where
    # codegen subexpression elimination evaluates it EAGERLY for every
    # input row before the cheap pushed predicates (measured r9: d1
    # spent 35 core-s/run re-shingling all 50k docs to keep 40)
    ex = base.selectExpr("id", "explode_outer(sh) AS shingle")
    # a doc's shingles are distinct, so a shingle's bucket size is its
    # document frequency
    cands = _bucket_pairs(ex, ["shingle"], max_size=max_df)
    return _jaccard_over_candidates(base, cands, threshold)


def minhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 3,
                       n_hashes: int = 16) -> DataFrame:
    """(id, mh0..mh{k-1}) MinHash signature table: ``mh<i>`` is the
    minimum over the doc's shingles of :func:`_md5_long` of
    ``'s<i>:' || shingle``.

    The k seeded digests are computed once per DISTINCT shingle and
    joined back onto the (id, shingle) pairs (r9): shingle vocabularies
    are heavy-tailed, so occurrences outnumber distinct shingles by a
    large factor (measured on the driver corpus: 9.6x at 5k docs, 94x
    at 50k — 42M md5+conv calls collapsed to 0.45M). The join is left
    to AQE: at these sizes the distinct-shingle side broadcasts from
    its runtime size; at web scale it degrades to a shuffle join whose
    exchange cost is bounded by the same narrow (id, shingle) pairs
    the old plan fed straight into the aggregate, and the k-x digest
    saving still dominates whenever shingles repeat at all.
    Values are bit-identical to the per-occurrence form: min over a
    doc's shingles of h_i(shingle) is invariant to where h_i runs.
    The plan is built from SQL text: one parse per projection instead
    of one gateway round trip per expression node."""
    ex = (_shingle_df(df, text_col, id_col, n)
          .selectExpr("id", "explode_outer(sh) AS shingle"))
    hashed = ex.select("shingle").distinct().selectExpr("shingle", *[
        _md5_long(f"concat('s{i}:', shingle)") + f" AS _h{i}"
        for i in range(n_hashes)])
    return (ex.join(hashed, "shingle")
            .groupBy("id")
            .agg(*[F.expr(f"min(_h{i}) AS mh{i}") for i in range(n_hashes)]))


def minhash_lsh_pairs(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", n: int = 3,
                      n_hashes: int = 16, bands: int = 4,
                      verify_threshold: float = 0.0) -> DataFrame:
    """LSH candidate pairs: band signatures → bucket pairs.

    ``bands`` bands of ``n_hashes/bands`` rows each; two docs are
    candidates iff some band signature matches exactly. With
    ``verify_threshold > 0`` candidates are verified with exact shingle
    Jaccard (semi-joined to candidates only — the expensive exact pass
    touches candidate docs, not the corpus).

    Pair generation is :func:`_bucket_pairs` over the ``(band_no,
    sig)`` buckets. An r4 measurement (sf0.1/32c, 13.9 s self-join vs
    14.8 s bucket-agg) had kept a self-join here on the belief that AQE
    computes the signature lineage once for both join sides. On
    PySpark 4.1.2 over a cached or local input it reuses no exchange,
    so the self-join ran the 16-digest stage twice (12 jobs vs 8 now);
    and the join does not spread a hot bucket either — its matches
    come out of one task, as they do here.
    """
    per_band = n_hashes // bands
    band_sigs = ", ".join(
        f"named_struct('band_no', {b}, 'sig', md5(concat_ws(',', '{b}', "
        + ", ".join(f"CAST(mh{b * per_band + r} AS STRING)"
                    for r in range(per_band))
        + ")))"
        for b in range(bands))
    stacked = (minhash_signatures(df, text_col, id_col, n, n_hashes)
               .selectExpr("id", f"inline(array({band_sigs}))"))
    cands = _bucket_pairs(stacked, ["band_no", "sig"])
    if verify_threshold <= 0:
        return cands
    base = _shingle_df(df, text_col, id_col, n)
    return _jaccard_over_candidates(base, cands, verify_threshold)


SIMHASH_BITS = 60  # 15 hex chars of md5 → 60-bit non-negative int64


def _simhash_vote(batches):
    """The per-bit majority vote of :func:`simhash_signatures`, one
    vectorised pass per chunk of an Arrow batch (module level, so the
    stage function is a konlspark global)."""
    import numpy as np
    import pyarrow as pa
    bit_idx = np.arange(SIMHASH_BITS, dtype=np.int64)
    for batch in batches:
        # chunk so the (hashes x 60) sign matrix stays ~tens of MB
        for lo in range(0, batch.num_rows, 4096):
            sub = batch.slice(lo, 4096)
            hs = sub.column("hs")
            # a slice keeps its parent's absolute offsets; flatten()
            # yields only the slice's values. Every row has ≥1 hash.
            offsets = hs.offsets.to_numpy()
            flat = hs.flatten().to_numpy()
            signs = (((flat[:, None] >> bit_idx) & 1) * 2 - 1).astype(
                np.int32)
            votes = np.add.reduceat(signs, offsets[:-1] - offsets[0],
                                    axis=0)
            sims = ((votes > 0).astype(np.int64) << bit_idx).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [sub.column("id").cast(pa.int64()), pa.array(sims)],
                names=["id", "simhash"])


def simhash_signatures(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """60-bit SimHash per doc: majority vote per bit over the md5-based
    shingle hash (:func:`_md5_long` — the same expression DuckDB can
    evaluate, so the sketch is oracle-able).

    Shape: the shingle hashes are computed per ROW as an array column
    (pure codegen — no explode, no shuffle), then one ``mapInArrow``
    stage does the per-bit vote vectorized over hundreds of docs per
    Arrow batch (``np.add.reduceat`` over the concatenated hash runs).
    A 60-aggregate codegen formulation chokes the optimizer and a
    per-doc ``applyInPandas`` pays one Python call per doc; this is one
    narrow map stage end to end.
    """
    return (_shingle_df(df, text_col, id_col, n)
            .selectExpr("id", f"transform(sh, s -> {_md5_long('s')}) AS hs")
            .mapInArrow(_simhash_vote, "id long, simhash long"))


def simhash_near_pairs(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", n: int = 2,
                       max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60 bits into max_hamming+1
    chunks (pigeonhole: ≤max_hamming differing bits ⇒ ≥1 identical
    chunk), pair docs within each chunk bucket, verify Hamming distance
    exactly. The chunks cover all 60 bits, so the result is EXACTLY the
    set of pairs with Hamming distance ≤ max_hamming — no recall loss
    (and therefore SQL-oracle-able as an all-pairs Hamming filter)."""
    chunks = max_hamming + 1
    width = -(-SIMHASH_BITS // chunks)
    chunk_cols = ", ".join(
        f"named_struct('chunk_no', {c}, 'chunk', "
        f"shiftrightunsigned(simhash, {c * width}) & {(1 << width) - 1})"
        for c in range(chunks))
    stacked = (simhash_signatures(df, text_col, id_col, n)
               .selectExpr("id", "simhash", f"inline(array({chunk_cols}))"))
    return (_bucket_pairs(stacked, ["chunk_no", "chunk"], payload="simhash")
            .selectExpr("id_a", "id_b",
                        "bit_count(simhash_a ^ simhash_b) AS hamming")
            .filter(f"hamming <= {max_hamming}"))
