"""Incremental ingest: batch append (B6), delete (B5), compaction.

The reference's ``WriteBatch`` gives atomic multi-doc index/delete with
in-batch visibility (``index.py:130-267``); its ``delete`` removes doc
+ postings + hash and drops a term when its last posting dies
(``index.py:332-356``, ``inverted_index.py:89-95``). Snapshot
equivalents here:

- :func:`append_batch` — analyze/dedup a new transcript batch (in-batch
  dedup AND dedup against live docs — the reference's pending-hash-map
  overlay), assign ids from ``max_doc_id + 1`` (ids never reused:
  ``test_konlsearch.py:345-356`` pins that a delete + re-index advances
  the id), write docs + postings as a NEW part, commit by manifest swap.
  Nothing is visible until the manifest commit → rollback = don't
  commit (crashed appends leave unreferenced files only).
- :func:`delete_docs` — tombstone table; readers anti-join it. BM25
  global stats (n_docs, total_doc_len) are maintained in the manifest;
  per-term df and block-max metadata go stale until compaction, so the
  engine automatically falls back from WAND pruning to the exact path
  while ``avgdl != avgdl_built`` (pruning bounds would no longer be
  upper bounds).
- :func:`compact` — rebuild postings/token_dict/docs from live docs
  into new versioned dirs (B7 merge shape), drop tombstones, restore
  exact df/block-max metadata (and with them suggestion-set parity:
  a term whose last posting died disappears, inverted_index.py:89-95).
"""

from __future__ import annotations

import time
from typing import Sequence

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from . import build as B
from .catalog import IndexCatalog


def _tables(manifest: dict) -> dict:
    t = manifest.setdefault("tables", {
        "docs": ["docs"], "postings": ["postings"],
        "token_dict": ["token_dict"], "tombstones": [],
    })
    t.setdefault("df_delta", [])
    return t


def _read_parts(spark: SparkSession, cat: IndexCatalog, manifest: dict,
                name: str) -> DataFrame:
    # one read per part dir + union: multi-root reads break partition
    # discovery (CONFLICTING_DIRECTORY_STRUCTURES) when parts carry
    # term_bucket= partition dirs; filters still push into each child
    parts = _tables(manifest)[name]
    dfs = [spark.read.parquet(cat.table_path(p)) for p in parts]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def append_batch(spark: SparkSession, root: str,
                 transcripts: DataFrame) -> dict:
    """Index a new batch into an existing index. Returns
    ``{"indexed": n, "conflicts": m, "first_doc_id": id}``."""
    cat = IndexCatalog(root)
    manifest = cat.read_manifest()
    if manifest is None:
        raise FileNotFoundError(f"no committed index at {root}")
    tables = _tables(manifest)
    part = f"batch_{int(manifest.get('next_part', 1)):06d}"

    live_docs = _read_parts(spark, cat, manifest, "docs")
    if tables["tombstones"]:
        tomb = _read_parts(spark, cat, manifest, "tombstones")
        live_docs = live_docs.join(tomb, "doc_id", "left_anti")

    # dedup over narrow raw rows; tokenize only the final survivors.
    # Same narrow shape as build_docs: a (hash → count, winner-key)
    # aggregate + probe join — no full-row window shuffle. The persisted
    # aggregate also yields rows_in for free (sum of group sizes), so
    # the input DataFrame is executed exactly once end to end.
    hashed = transcripts.withColumn("text_hash", F.sha2(F.col("text"), 256))
    key = F.struct(F.col("conv_id"), F.col("turn_idx"))
    hash_agg = B.dup_winner_map(hashed, key, only_dups=False) \
        .persist(StorageLevel.MEMORY_AND_DISK)
    rows_in = int(hash_agg.agg(F.sum("_n").alias("t")).collect()[0]["t"] or 0)
    dups = hash_agg.filter(F.col("_n") > 1).select("text_hash", "_wk")
    joined = hashed.join(dups, "text_hash", "left")
    firsts = (joined.filter(F.col("_wk").isNull() | (key == F.col("_wk")))
              .drop("_wk"))
    in_batch_losers = joined.filter(F.col("_wk").isNotNull()
                                    & (key != F.col("_wk")))
    # … then dedup against the live corpus (reference hash-map probe)
    existing = live_docs.select("text_hash",
                                F.col("doc_id").alias("conflict_doc_id"))
    survivors = firsts.join(existing.select("text_hash"), "text_hash",
                            "left_anti")
    # ids from max_doc_id + 1; fully-identical duplicate rows (same key
    # AND text) keep exactly one survivor — same fused rank+tokenize
    # stage as the full build, and the ranked count gives n_new
    start_id = int(manifest["max_doc_id"]) + 1
    new_lazy = B.rank_and_analyze(survivors, start_id)
    n_new = int(new_lazy._konl_n_rows)
    if n_new == 0:
        hash_agg.unpersist()
        B.release(new_lazy)
        return {"indexed": 0, "conflicts": rows_in, "first_doc_id": None}

    # Σ doc_len rides the docs write (as in build_index); everything
    # downstream re-reads the written part
    docs_path = f"docs_parts/{part}"
    obs = Observation("append_stats")
    (new_lazy.observe(obs, F.sum("doc_len").alias("sum_len"))
     .write.mode("overwrite").parquet(cat.table_path(docs_path)))
    B.release(new_lazy)
    new_docs = spark.read.parquet(cat.table_path(docs_path))

    postings = B.build_postings(
        new_docs, avgdl=float(manifest["avgdl_built"]),
        block_size=int(manifest["block_size"]),
        n_buckets=int(manifest["n_buckets"]),
        store_positions=bool(manifest.get("positions", False)))
    post_path = f"postings_parts/{part}"
    postings.write.mode("overwrite").partitionBy("term_bucket") \
        .parquet(cat.table_path(post_path))

    # token_dict: merge df of new terms into a fresh versioned dir
    td_old = _read_parts(spark, cat, manifest, "token_dict")
    td_new = B.build_token_dict(new_docs)
    merged = (td_old.select("term", "df")
              .unionByName(td_new.select("term", "df"))
              .groupBy("term").agg(F.sum("df").alias("df")))
    td = B.build_token_dict(term_df=merged).withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"),
                              F.lit(int(manifest["n_buckets"]))).cast("int"))
    td_path = f"token_dict_v{int(manifest.get('next_part', 1)) + 1}"
    (td.repartitionByRange(max(1, int(manifest["n_buckets"]) // 4),
                           "decomposed")
       .sortWithinPartitions("decomposed")
       .write.mode("overwrite").parquet(cat.table_path(td_path)))

    # conflict report (in-batch losers + collisions with live docs)
    vs_existing = (firsts.join(existing, "text_hash")
                   .select("conv_id", "turn_idx", "conflict_doc_id"))
    all_docs_after = new_docs.select("text_hash",
                                     F.col("doc_id").alias("conflict_doc_id"))
    in_batch = (in_batch_losers.select("conv_id", "turn_idx", "text_hash")
                .join(existing.unionByName(all_docs_after), "text_hash")
                .groupBy("conv_id", "turn_idx")
                .agg(F.min("conflict_doc_id").alias("conflict_doc_id")))
    conflicts = vs_existing.unionByName(in_batch)
    n_dropped = int(new_lazy._konl_n_dropped)
    if n_dropped > 0:
        # fully-identical duplicate rows (same key AND text) dropped by
        # the ranked pass pass the winner-key filter, so they appeared
        # in neither loser set — the conflicts TABLE undercounted vs
        # the reported lineage count (r3 ADVICE). Mirror build_docs:
        # surface each dropped copy, resolving to the new doc's id.
        # Runs only on degenerate inputs (n_dropped > 0).
        # null-SAFE join (r4 ADVICE): a batch of duplicate
        # (conv_id, turn_idx, NULL-text) rows has text_hash NULL — a
        # plain equi-join on text_hash would drop them and undercount
        # again. The surviving doc shares the full (key, hash) triple,
        # so join on all three with eqNullSafe; key+hash uniquely
        # identifies the survivor (identical triples kept exactly one).
        key_cnt = (survivors.groupBy("text_hash", "conv_id", "turn_idx")
                   .agg(F.count("*").alias("_kc")).filter(F.col("_kc") > 1))
        surv_docs = new_docs.select(
            F.col("conv_id").alias("_dc"), F.col("turn_idx").alias("_dt"),
            F.col("text_hash").alias("_dh"),
            F.col("doc_id").alias("conflict_doc_id"))
        extra = (key_cnt
                 .withColumn("_i", F.explode(
                     F.sequence(F.lit(2), F.col("_kc"))))
                 .join(surv_docs,
                       F.col("conv_id").eqNullSafe(F.col("_dc"))
                       & F.col("turn_idx").eqNullSafe(F.col("_dt"))
                       & F.col("text_hash").eqNullSafe(F.col("_dh")))
                 .select("conv_id", "turn_idx", "conflict_doc_id"))
        conflicts = conflicts.unionByName(extra)
    conflicts.write.mode("append").parquet(cat.table_path("conflicts"))
    n_conflicts = rows_in - n_new  # no input re-scan

    # commit: single manifest swap makes everything visible atomically
    manifest["tables"]["docs"].append(docs_path)
    manifest["tables"]["postings"].append(post_path)
    manifest["tables"]["token_dict"] = [td_path]
    manifest["n_docs"] = int(manifest["n_docs"]) + n_new
    manifest["total_doc_len"] = (
        manifest.get("total_doc_len",
                     float(manifest["avgdl"]) * (manifest["n_docs"] - n_new))
        + float(obs.get["sum_len"] or 0.0))
    manifest["avgdl"] = manifest["total_doc_len"] / manifest["n_docs"]
    manifest["max_doc_id"] = start_id + n_new - 1
    manifest["next_part"] = int(manifest.get("next_part", 1)) + 1
    cat.commit_manifest(manifest)
    cat.commit_segment(part, {
        "fingerprint": f"append:{part}:{n_new}",
        "lineage": {"kind": "append", "rows_in": rows_in,
                    "indexed": n_new, "conflicts": n_conflicts},
        "metrics": {"elapsed_sec": None},
    })
    hash_agg.unpersist()
    return {"indexed": n_new, "conflicts": n_conflicts,
            "first_doc_id": start_id}


def delete_docs(spark: SparkSession, root: str,
                doc_ids: Sequence[int]) -> dict:
    """Tombstone-delete documents. Ids never recycle; BM25 stats are
    maintained; WAND auto-disables until :func:`compact`."""
    cat = IndexCatalog(root)
    manifest = cat.read_manifest()
    if manifest is None:
        raise FileNotFoundError(f"no committed index at {root}")
    tables = _tables(manifest)

    live = _read_parts(spark, cat, manifest, "docs")
    if tables["tombstones"]:
        live = live.join(_read_parts(spark, cat, manifest, "tombstones"),
                         "doc_id", "left_anti")
    # persist: the stats agg and the df_delta explode below both read
    # the victims (a tiny set) — without this the delete ran two full
    # scans of the live docs
    victims = live.filter(F.col("doc_id").isin(list(doc_ids))).persist()
    stats = victims.agg(F.count("*").alias("n"),
                        F.sum("doc_len").alias("sum_len")).collect()[0]
    n_del = int(stats["n"])
    if n_del == 0:
        victims.unpersist()
        return {"deleted": 0}
    part = f"tomb_{int(manifest.get('next_part', 1)):06d}"
    spark.createDataFrame([(int(i),) for i in doc_ids], "doc_id long") \
        .write.mode("overwrite").parquet(cat.table_path(f"tombstones/{part}"))

    # df_delta side table: per-term count of victim docs. Readers fold
    # it into token_dict (live df = df − Σdelta, terms at 0 dropped) so
    # the read surface is EXACT immediately after a delete — the
    # reference drops a trie token the moment its last posting dies
    # (inverted_index.py:89-95); without this, suggestions/__contains__
    # kept returning dead terms until compaction (r2 divergence #8).
    # tokens is the per-doc token SET, so count(*) = victim docs per term
    dd = (victims.select(F.explode("tokens").alias("term"))
          .groupBy("term").agg(F.count("*").alias("dd")))
    dd.write.mode("overwrite").parquet(cat.table_path(f"df_delta/{part}"))
    victims.unpersist()

    manifest["tables"]["tombstones"].append(f"tombstones/{part}")
    manifest["tables"].setdefault("df_delta", []).append(f"df_delta/{part}")
    manifest["total_doc_len"] = (
        manifest.get("total_doc_len",
                     float(manifest["avgdl"]) * manifest["n_docs"])
        - float(stats["sum_len"]))
    manifest["n_docs"] = int(manifest["n_docs"]) - n_del
    manifest["avgdl"] = (manifest["total_doc_len"] / manifest["n_docs"]
                         if manifest["n_docs"] else 1.0)
    manifest["next_part"] = int(manifest.get("next_part", 1)) + 1
    cat.commit_manifest(manifest)
    return {"deleted": n_del}


def compact(spark: SparkSession, root: str) -> dict:
    """Rebuild a clean snapshot from live docs: exact df / block-max
    metadata, tombstones folded in, one dir per table."""
    cat = IndexCatalog(root)
    manifest = cat.read_manifest()
    if manifest is None:
        raise FileNotFoundError(f"no committed index at {root}")
    tables = _tables(manifest)
    v = int(manifest.get("next_part", 1)) + 1
    t0 = time.time()

    live = _read_parts(spark, cat, manifest, "docs")
    if tables["tombstones"]:
        live = live.join(_read_parts(spark, cat, manifest, "tombstones"),
                         "doc_id", "left_anti")
    live = live.persist(StorageLevel.MEMORY_AND_DISK)
    stats = live.agg(F.count("*").alias("n"), F.avg("doc_len").alias("avgdl"),
                     F.sum("doc_len").alias("sum_len"),
                     F.max("doc_id").alias("max_id")).collect()[0]
    n_docs = int(stats["n"])
    avgdl = float(stats["avgdl"] or 1.0)
    n_buckets = int(manifest["n_buckets"])

    docs_path = f"docs_v{v}"
    live.write.mode("overwrite").parquet(cat.table_path(docs_path))

    # term_df feeds both the salting decision and the token_dict
    exploded = B.explode_postings(live)
    term_df = (exploded.groupBy("term").agg(F.count("*").alias("df"))
               .persist(StorageLevel.MEMORY_AND_DISK))
    postings = B.build_postings(
        live, avgdl, block_size=int(manifest["block_size"]),
        n_buckets=n_buckets, exploded=exploded, term_df=term_df,
        store_positions=bool(manifest.get("positions", False)))
    post_path = f"postings_v{v}"
    postings.write.mode("overwrite").partitionBy("term_bucket") \
        .parquet(cat.table_path(post_path))

    td = B.build_token_dict(term_df=term_df).withColumn(
        "term_bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"))
    td_path = f"token_dict_v{v}"
    (td.repartitionByRange(max(1, n_buckets // 4), "decomposed")
       .sortWithinPartitions("decomposed")
       .write.mode("overwrite").parquet(cat.table_path(td_path)))
    term_df.unpersist()
    live.unpersist()

    manifest["tables"] = {"docs": [docs_path], "postings": [post_path],
                          "token_dict": [td_path], "tombstones": [],
                          "df_delta": []}
    manifest["n_docs"] = n_docs
    manifest["avgdl"] = avgdl
    manifest["avgdl_built"] = avgdl
    manifest["total_doc_len"] = float(stats["sum_len"] or 0.0)
    # max_doc_id NOT reset: ids never recycle (reference semantics)
    manifest["next_part"] = v + 1
    cat.commit_manifest(manifest)
    cat.commit_segment(f"compact_v{v}", {
        "fingerprint": f"compact:{v}:{n_docs}",
        "lineage": {"kind": "compact", "live_docs": n_docs},
        "metrics": {"elapsed_sec": time.time() - t0},
    })
    return {"n_docs": n_docs, "version": v}
