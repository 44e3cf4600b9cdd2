"""Query engine — the read path (SURVEY §2.4, §3.2).

Rank-identical to the single-node oracle (and thus to the reference's
golden outputs) while executing as pruned, mostly map-side DataFrame
plans:

- query terms → ``token_dict`` lookup (pushed-down filter) gives df +
  term_bucket per term: a tiny driver-side dict;
- ``postings`` scan filters ``term_bucket IN (...) AND term IN (...)``
  → directory-level partition pruning + row-group stats pruning; only
  buckets holding query terms are touched;
- block decode is one ``mapInArrow`` over ``codec.decode_blocks``, the
  whole-batch numpy varint decode the segment merge also runs;
- AND/OR fold = groupBy(doc_id) count vs distinct (reference
  ``inverted_index.py:98-116``), PHRASE = AND + first-occurrence
  monotonicity over ``docs.first_pos`` (reference ``index.py:432-448``),
  complex = recursive set algebra (``index.py:413-429``);
- BM25 top-k with lossless block-max pruning (MaxScore/BMW-style):
  one metadata-only pass over the candidate blocks (no posting decode)
  yields σ per term and a lower-bound threshold τ (the per-term k-th
  largest block max — k doc-disjoint blocks exhibit k docs scoring at
  least it); a block of term t survives iff
  ``block_max_score(B) + Σ_{t'≠t} σ_{t'} ≥ τ`` — every doc with true
  score ≥ τ has *all* its blocks decoded, so the final top-k and its
  scores are exact (verified against the unpruned path in tests). A
  driver-side gate skips the pruning job when it provably cannot pay
  (symmetric multi-term queries — see ``bm25_topk``).
"""

from __future__ import annotations



from dataclasses import dataclass
from typing import Dict, List, Optional, Sequence, Union

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import codec
from . import tokenizer as tk
from .catalog import IndexCatalog
from .oracle import bm25_idf


@dataclass
class SearchRequest:
    tokens: List[str]
    mode: str  # "and" | "or" | "phrase"


@dataclass
class ComplexRequest:
    condition1: Union["ComplexRequest", SearchRequest]
    condition2: Union["ComplexRequest", SearchRequest]
    mode: str  # "and" | "or"


class ReadOnlyIndexError(RuntimeError):
    """Write attempted through a READ_ONLY engine handle."""


class SearchEngine:
    """Query handle over a committed index root.

    ``access`` mirrors the reference's ``KonlSearch(path, access_type)``
    (search.py:16-26 over RocksDB read_only/read_write handles): a
    ``"ro"`` engine rejects every mutating surface (query logging,
    frequency aggregation, manifest kv writes) with
    :class:`ReadOnlyIndexError`; reads are identical.
    """

    def __init__(self, spark: SparkSession, root: str, access: str = "rw"):
        if access not in ("rw", "ro"):
            raise ValueError(f"access must be 'rw' or 'ro', got {access!r}")
        self.spark = spark
        self.access = access
        self.cat = IndexCatalog(root)
        self.refresh()

    def _require_writable(self, op: str) -> None:
        if self.access == "ro":
            raise ReadOnlyIndexError(
                f"{op} requires a read-write engine (opened access='ro')")

    def refresh(self) -> None:
        """(Re)load the committed snapshot. Call after an in-place
        rebuild of the same root — DataFrames created before a rebuild
        reference replaced files (Spark caches the file listing) and
        will fail with a stale-file-index error."""
        self.manifest = self.cat.read_manifest()
        if self.manifest is None:
            raise FileNotFoundError(f"no committed index at {self.cat.root}")
        self.n_docs = self.manifest["n_docs"]
        self.avgdl = self.manifest["avgdl"]
        self.has_positions = bool(self.manifest.get("positions", False))
        # after append/delete the per-block max-score metadata was built
        # with a different avgdl → pruning bounds are no longer sound;
        # fall back to the exact path until compaction. Tombstones alone
        # (even the measure-zero case that leaves avgdl bit-identical)
        # also disable pruning: block maxima may be achieved by deleted
        # docs, which would invalidate the k-distinct-docs τ argument.
        self.wand_safe = (
            abs(self.avgdl
                - self.manifest.get("avgdl_built", self.avgdl)) < 1e-12
            and not (self.manifest.get("tables") or {}).get("tombstones"))
        tables = self.manifest.get("tables") or {
            "docs": ["docs"], "postings": ["postings"],
            "token_dict": ["token_dict"], "tombstones": [],
        }

        def read_parts(name):
            # per-part read + union (multi-root partition discovery
            # conflicts); pruning filters push into each child scan
            paths = [self.cat.table_path(p) for p in tables[name]]
            dfs = []
            for p in paths:
                self.spark.catalog.refreshByPath(p)
                dfs.append(self.spark.read.parquet(p))
            out = dfs[0]
            for d in dfs[1:]:
                out = out.unionByName(d)
            return out

        self.postings = read_parts("postings")
        self.docs = read_parts("docs")
        self.tombstones = (read_parts("tombstones").select("doc_id")
                           if tables.get("tombstones") else None)
        if self.tombstones is not None:
            self.docs = self.docs.join(self.tombstones, "doc_id", "left_anti")
        # token_dict is the per-query metadata lookup (df + bucket per
        # term) — small relative to the corpus; cache it
        token_dict = read_parts("token_dict")
        if tables.get("df_delta"):
            # fold delete-time df corrections in: live df = df − Σdelta,
            # and a term whose last live posting died DISAPPEARS from
            # every token_dict read surface (suggestions, __contains__,
            # frequency, idf) immediately — reference semantics
            # (inverted_index.py:89-95). Exact until compact resets it.
            delta = (read_parts("df_delta")
                     .groupBy("term").agg(F.sum("dd").alias("_dd")))
            token_dict = (
                token_dict.join(delta, "term", "left")
                .withColumn("df", (F.col("df")
                                   - F.coalesce(F.col("_dd"), F.lit(0)))
                            .cast("long"))
                .drop("_dd")
                .filter(F.col("df") > 0))
        self.token_dict = token_dict.cache()

    # -- term metadata lookup (tiny) ----------------------------------------
    def _term_meta(self, terms: Sequence[str]) -> Dict[str, dict]:
        uniq = list(dict.fromkeys(terms))
        if not uniq:
            return {}
        rows = (
            self.token_dict.filter(F.col("term").isin(uniq))
            .select("term", "df", "term_bucket").collect()
        )
        return {r["term"]: {"df": r["df"], "bucket": r["term_bucket"]} for r in rows}

    # -- pruned postings scan + block decode ---------------------------------
    def _blocks_for(self, meta: Dict[str, dict]) -> DataFrame:
        terms = list(meta)
        buckets = sorted({m["bucket"] for m in meta.values()})
        return self.postings.filter(
            F.col("term_bucket").isin(buckets) & F.col("term").isin(terms)
        )

    # Spark types of the posting-row columns the decodes return
    _ROW_TYPES = {"term": "string", "doc_id": "long", "tf": "int",
                  "score": "double", "positions": "array<int>"}

    def _decode_rows(self, blocks: DataFrame, block_cols: List[str],
                     row_cols: List[str],
                     idf: Optional[Dict[str, float]] = None) -> DataFrame:
        """blocks → posting rows through one ``mapInArrow`` over
        :func:`codec.decode_blocks` (the merge's decode loop), minus
        tombstoned docs. Only ``block_cols`` cross into Python, so column
        pruning drops the rest from the parquet scan."""
        avgdl = self.avgdl if "score" in row_cols else None

        def fn(batches):
            for batch in batches:
                yield codec.decode_blocks(batch, avgdl, idf).select(row_cols)

        out = blocks.select(*block_cols).mapInArrow(fn, ", ".join(
            f"{c} {self._ROW_TYPES[c]}" for c in row_cols))
        if self.tombstones is not None:
            out = out.join(self.tombstones, "doc_id", "left_anti")
        return out

    def _decode(self, blocks: DataFrame, idf: Optional[Dict[str, float]] = None
                ) -> DataFrame:
        """blocks → (term, doc_id, tf, score) rows; score = idf * w."""
        return self._decode_rows(
            blocks, ["term", "n", "doc_ids_delta", "tfs", "doc_lens"],
            ["term", "doc_id", "tf", "score"], idf)

    def _decode_ids(self, blocks: DataFrame) -> DataFrame:
        """blocks → bare ``doc_id`` posting rows, one per (term, doc_id).

        Boolean search never reads tf/score/term, so only ``n`` and
        ``doc_ids_delta`` are scanned and shipped to Python: no
        ``tfs``/``doc_lens`` read, two varint decodes, the BM25 weight
        math and the per-posting term column skipped."""
        return self._decode_rows(blocks, ["n", "doc_ids_delta"], ["doc_id"])

    def _decode_positions(self, blocks: DataFrame) -> DataFrame:
        """blocks → (term, doc_id, positions array<int>) rows — only
        meaningful on an index built with ``store_positions=True``."""
        return self._decode_rows(
            blocks, ["term", "n", "doc_ids_delta", "pos_counts", "positions"],
            ["term", "doc_id", "positions"])

    def _postings_df(self, terms: Sequence[str],
                     with_scores: bool = False) -> DataFrame:
        meta = self._term_meta(terms)
        idf = ({t: bm25_idf(self.n_docs, m["df"]) for t, m in meta.items()}
               if with_scores else None)
        return self._decode(self._blocks_for(meta), idf)

    def postings_for(self, term: str) -> DataFrame:
        """Q1: one term's postings as (doc_id, tf), ascending — the
        reference's ``inverted_index[token]`` (inverted_index.py:60-63)."""
        return (self._postings_df([term])
                .select("doc_id", "tf").orderBy("doc_id"))

    def __len__(self) -> int:
        """S13: maintained live-document count (index.py:457-463)."""
        return int(self.n_docs)

    def __contains__(self, term: str) -> bool:
        """inverted_index.py:65-68: term has ≥1 posting."""
        return term in self._term_meta([term])

    # -- boolean search (reference-identical doc-id lists) --------------------
    def search(self, tokens: Sequence[str], mode: str,
               log: bool = True) -> DataFrame:
        """Returns DataFrame(doc_id) ascending — inverted_index.py:98-116."""
        mode = mode.lower()
        if mode == "phrase":
            return self._search_phrase(tokens, log=log)
        uniq = list(dict.fromkeys(tokens))
        meta = self._term_meta(uniq)
        if log:
            # log one entry per token OCCURRENCE (duplicates included) —
            # reference inverted_index.py:103-109 iterates the raw query
            # token list; the search itself uses the deduped set
            self._log_hits(list(tokens), meta)
        empty = self.spark.createDataFrame([], "doc_id long")
        if not uniq:
            return empty
        if mode == "and" and len(meta) < len(uniq):
            return empty  # some term has no postings → intersection empty
        if not meta:
            return empty
        decoded = self._decode_ids(self._blocks_for(meta))
        if mode == "or":
            return decoded.select("doc_id").distinct().orderBy("doc_id")
        # count(*), not countDistinct(term): decoded rows are unique
        # per (term, doc_id) by construction (each doc appears in
        # exactly one block per term — build_postings invariant), and
        # countDistinct plans a second aggregate level (partial
        # distinct shuffled per (doc_id, term)) where count needs one
        # map-side-combined pass (r9, guide §2.3)
        return (
            decoded.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("_nt"))
            .filter(F.col("_nt") == len(meta))
            .select("doc_id").orderBy("doc_id")
        )

    def _search_phrase(self, tokens: Sequence[str], log: bool = True) -> DataFrame:
        """AND + ordered-first-occurrence check (index.py:432-448).

        Candidates join ``docs.first_pos``; a candidate missing any query
        morph is no-match (pinned Q4 semantics). No UDF — the positions
        comparison is a codegen'd array expression.
        """
        candidates = self.search(tokens, "and", log=log)
        query_ordered = tk.tokenize_with_order(" ".join(tokens))
        if not query_ordered:
            return self.spark.createDataFrame([], "doc_id long")

        def first_pos_of(t):
            # first_pos is aligned with tokens; -1 / missing = token not
            # in the ordered morph stream (Q4 quirk → no match)
            idx = F.array_position(F.col("tokens"), F.lit(t))
            return F.when(idx > 0, F.element_at(F.col("first_pos"),
                                                idx.cast("int")))

        pos_cols = [first_pos_of(t).alias(f"_p{i}")
                    for i, t in enumerate(query_ordered)]
        joined = self.docs.join(candidates, "doc_id", "left_semi") \
                          .select("doc_id", *pos_cols)
        cond = F.lit(True)
        for i in range(len(query_ordered)):
            cond = cond & F.col(f"_p{i}").isNotNull() & (F.col(f"_p{i}") >= 0)
        for i in range(len(query_ordered) - 1):
            cond = cond & (F.col(f"_p{i}") <= F.col(f"_p{i+1}"))
        return joined.filter(cond).select("doc_id").orderBy("doc_id")

    def search_phrase_contiguous(self, tokens: Sequence[str],
                                 log: bool = False,
                                 use_positions: Optional[bool] = None
                                 ) -> DataFrame:
        """TRUE contiguous phrase match — an EXTENSION beyond the
        reference (its PHRASE is first-occurrence order only,
        index.py:432-448; pinned as ``search(..., "phrase")``).

        Two equivalent plans (pytest-pinned identical):

        - **recompute** (default without stored positions): AND
          candidates from the inverted index, then ONE vectorized
          re-tokenize pass over the candidate docs verifies adjacency
          of the ordered morph stream. Positions touch only
          ~df(rarest term) docs — the right trade when positions
          aren't stored (full positional postings dominate index size
          for indexes that never serve phrase queries).
        - **stored** (default when the index was built with
          ``store_positions=True``): decode the query terms' stored
          position lists (blocks already pruned to the query terms),
          semi-join to the candidates, pivot per-doc positions per
          term, and check adjacency with a codegen'd ``exists(...)``
          array expression — no Python re-tokenize, so the verify cost
          is bounded by posting decode instead of per-doc morphological
          analysis. For a phrase of common morphs at the 100 TB target
          the candidate set is df(rarest)-bounded but still huge; this
          path removes the Python floor.

        ``use_positions`` forces a path (tests pin parity with both).
        """
        import pandas as pd
        q = tk.tokenize_with_order(" ".join(tokens))
        empty = self.spark.createDataFrame([], "doc_id long")
        if not q:
            return empty
        stored = (self.has_positions if use_positions is None
                  else use_positions)
        if stored:
            if not self.has_positions:
                raise ValueError("use_positions=True on an index built "
                                 "without store_positions")
            return self._phrase_from_positions(q, log=log)
        # candidates come from the MORPH terms (the same stream the
        # adjacency check runs on): a query word that segments into
        # multiple morphs is not itself an indexed term, so AND over the
        # raw words would miss docs whose morph stream contains the
        # phrase — the index stores morphs, not raw words
        candidates = self.search(q, "and", log=log)
        cand_docs = (self.docs.join(candidates, "doc_id", "left_semi")
                     .select("doc_id", "text"))
        m = len(q)

        def verify(batches):
            for pdf in batches:
                keep = []
                for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                    ordered = tk.tokenize_with_order(text)
                    if any(ordered[i:i + m] == q
                           for i in range(len(ordered) - m + 1)):
                        keep.append(doc_id)
                yield pd.DataFrame({"doc_id": pd.Series(keep, dtype="int64")})

        return cand_docs.mapInPandas(verify, "doc_id long").orderBy("doc_id")

    def _phrase_from_positions(self, q: List[str], log: bool) -> DataFrame:
        """Stored-positions adjacency check (see
        :meth:`search_phrase_contiguous`). All-JVM after the position
        decode: per-candidate (term → positions) map, then
        ``exists(P0, p -> ∀i: array_contains(Pi, p+i))`` in codegen."""
        m = len(q)
        candidates = self.search(q, "and", log=log)
        uniq = list(dict.fromkeys(q))
        meta = self._term_meta(uniq)
        if len(meta) < len(uniq):
            return self.spark.createDataFrame([], "doc_id long")
        pos = (self._decode_positions(self._blocks_for(meta))
               .join(candidates, "doc_id", "left_semi"))
        # merge per (doc_id, term) BEFORE map_from_entries (r6 ADVICE):
        # under mapKeyDedupPolicy=EXCEPTION a duplicate (term, doc_id)
        # row — any future break of the one-block-per-(term,doc)
        # invariant across base + append parts — would otherwise fail
        # the whole query with an opaque duplicate-key error. The merge
        # agg is cheap: input is already semi-joined to the AND
        # candidate set, and the second shuffle sees ≤1 row/doc-term.
        per_term = (pos.groupBy("doc_id", "term")
                    .agg(F.array_sort(F.flatten(F.collect_list(
                        "positions"))).alias("positions")))
        per_doc = (per_term.groupBy("doc_id")
                   .agg(F.map_from_entries(F.collect_list(
                       F.struct("term", "positions"))).alias("_m")))
        p_cols = [F.element_at("_m", F.lit(t)).alias(f"_P{i}")
                  for i, t in enumerate(q)]
        with_cols = per_doc.select("doc_id", *p_cols)
        nn = F.lit(True)
        for i in range(m):
            nn = nn & F.col(f"_P{i}").isNotNull()
        if m == 1:
            cond = F.size("_P0") > 0
        else:
            def follows(p):
                c = F.lit(True)
                for i in range(1, m):
                    c = c & F.array_contains(
                        F.col(f"_P{i}"), (p + F.lit(i)).cast("int"))
                return c
            cond = F.exists("_P0", follows)
        return (with_cols.filter(nn & cond)
                .select("doc_id").orderBy("doc_id"))

    def search_complex(self, req: Union[ComplexRequest, SearchRequest],
                       log: bool = True) -> DataFrame:
        """Recursive AND/OR set algebra over sub-searches (index.py:413-429)."""
        if isinstance(req, SearchRequest):
            return self.search(req.tokens, req.mode, log=log)
        r1 = self.search_complex(req.condition1, log=log)
        r2 = self.search_complex(req.condition2, log=log)
        if req.mode == "and":
            return r1.intersect(r2).orderBy("doc_id")
        return r1.union(r2).distinct().orderBy("doc_id")

    # -- BM25 top-k ----------------------------------------------------------

    # MaxScore gates (multi-term pruning). The pre-gate runs on df alone
    # (already on the driver — zero extra jobs): symmetric queries,
    # where no term is selective, skip straight to the exact path.
    MAXSCORE_MIN_DF_RATIO = 4.0          # head df / rare df asymmetry
    MAXSCORE_MAX_CANDIDATES = 500_000    # bound on Σ df(essential)
    MAXSCORE_MAX_DF_FRAC = 0.5           # essential decode ≤ half total
    # The non-essential decode+shuffle that pruning skips must outweigh
    # the pruned plan's extra jobs (stats + persist + broadcast).
    # MEASURED (BENCH/batch_maxscore_crossover_r8.json, interleaved
    # min-of-3 engaged-vs-exact at 1M and 4M turns, parity asserted at
    # both): the net overhead is ~constant at the extra-job floor
    # (2.50 s at 644k NE postings, 2.16 s at 2.56M) and shrinks with
    # the saved decode at 0.173 s per M postings — zero crossing
    # extrapolates to ~15M NE postings. The previous 5M constant was a
    # judgment call that the measurement shows is too LOW (engaged
    # still loses ~1.15x there on the fit). In the 100 TB regime a
    # head term's postings are 10^9+ rows, two orders past this gate,
    # and the exact plan's decode AND its (doc_id, score) shuffle into
    # the groupBy run for minutes — pruning dominates there regardless
    # of where in the 10^7 band the constant sits.
    MAXSCORE_MIN_NE_POSTINGS = 15_000_000
    # The SINGLE-query pruned plan pays only the stats job + (driver
    # fast path) one small collect — measured net overhead 0.89 s at
    # 644k NE postings vs the batch path's ~2.2-2.5 s — so it crosses
    # over far earlier than the batch gate (r8 ADVICE item 3: one
    # shared constant over-gated the single path several-fold past its
    # own crossover). Fitted with the same decode-savings slope as the
    # batch gate (0.173 s/M NE postings,
    # BENCH/batch_maxscore_crossover_r8.json): crossover ≈ 5.79M NE
    # postings (BENCH/single_maxscore_crossover_r9.json, 1M-turn bench
    # corpus, parity asserted, engaged plan verified). Rounded UP so
    # the gate never admits a losing split on the fit.
    MAXSCORE_MIN_NE_POSTINGS_SINGLE = 6_000_000
    MAXSCORE_DRIVER_CANDIDATES = 100_000  # ≤ this → driver-assisted path
    # Global bound on the BATCH pruning broadcast (r7 ADVICE): each
    # split query's candidates are capped at MAXSCORE_MAX_CANDIDATES,
    # but Σ_t |cand(E_t)| grows with the number of active split
    # queries × pruned terms — a large batch could blow the broadcast.
    # Terms whose driver-side estimate pushes the total past this are
    # demoted to the full-decode (exact) set, costliest first.
    MAXSCORE_MAX_TOTAL_CAND = 2_000_000

    def bm25_topk(self, tokens: Sequence[str], k: int = 10, mode: str = "or",
                  use_wand: bool = True,
                  wand_min_postings: int = 100_000) -> DataFrame:
        """DataFrame(doc_id, score) — exact top-k, ties by ascending id."""
        uniq = list(dict.fromkeys(tokens))
        meta = self._term_meta(uniq)
        empty = self.spark.createDataFrame([], "doc_id long, score double")
        if not meta or k <= 0:
            return empty
        if mode == "and" and len(meta) < len(uniq):
            return empty
        idf = {t: bm25_idf(self.n_docs, m["df"]) for t, m in meta.items()}
        blocks = self._blocks_for(meta)

        # Block-max pruning gate — free driver-side checks first:
        # (1) enough decode work to skip (the one metadata job costs a
        #     fixed fraction of a second; below wand_min_postings the
        #     exact decode is already cheaper);
        # (2) the query shape is PRUNABLE. Single-term queries use the
        #     static block-max bound (τ = k-th block max kills ~98% of
        #     blocks). Multi-term queries use distributed MaxScore
        #     (:meth:`_maxscore_topk`) when the df pre-gate says a
        #     selective (essential) term exists; SYMMETRIC multi-term
        #     queries stay exact — the r2 measured finding stands: a
        #     static per-term τ cannot prune other terms' blocks, and
        #     with no rare term the MaxScore candidate set is the whole
        #     posting list (no decode saving, pure overhead).
        total_df = sum(m["df"] for m in meta.values())
        if (use_wand and self.wand_safe and mode == "or"
                and total_df >= wand_min_postings):
            if len(idf) == 1:
                blocks = self._wand_prune(blocks, meta, idf, k)
            else:
                dfs = sorted(m["df"] for m in meta.values())
                asym = dfs[-1] >= self.MAXSCORE_MIN_DF_RATIO * dfs[0]
                # necessary condition for a worthwhile split: even the
                # largest possible NE (all but the rarest term) must
                # carry enough postings that skipping their decode beats
                # the extra driver jobs
                ne_ceiling = total_df - dfs[0]
                if (asym and dfs[0] <= self.MAXSCORE_MAX_CANDIDATES
                        and ne_ceiling
                        >= self.MAXSCORE_MIN_NE_POSTINGS_SINGLE):
                    out = self._maxscore_topk(meta, idf, k)
                    if out is not None:
                        return out

        # term count only when AND needs it, and count(1) rather than
        # countDistinct: decoded rows are unique per (term, doc_id)
        # (one block per doc per term — build invariant), and
        # countDistinct plans a second aggregate level over every
        # decoded posting (r9, guide §2.3)
        agg = [F.sum("score").alias("score")]
        if mode == "and":
            agg.append(F.count(F.lit(1)).alias("_nt"))
        scored = self._decode(blocks, idf).groupBy("doc_id").agg(*agg)
        if mode == "and":
            scored = scored.filter(F.col("_nt") == len(meta))
        return (
            scored.select("doc_id", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    # -- batched multi-query execution ---------------------------------------
    # A production engine over this index serves a query LOG, not one
    # query: each single query pays the ~0.3-0.5s Spark job floor, so
    # B queries cost B floors. Batching scores all B in ONE plan —
    # every distinct term's postings are decoded exactly once even when
    # terms are shared across queries, the (query_id, term) fan-out is
    # a broadcast of a B·|terms|-row driver map, and the per-query
    # top-k is a two-stage partial top-k (the `_per_term_block_stats`
    # idiom: partition-local top-k arrays, then ≤ k·P rows per query to
    # merge — never a single-task-per-query window sort, which at the
    # 100 TB target would serialize a head query's 10^8-row candidate
    # set onto one task). The reference fires its suite back-to-back
    # (test_konlsearch.py:191-254); this is the cluster analogue.

    def _batch_qmap(self, queries: Dict[str, Sequence[str]], mode: str):
        """Driver-side prep shared by the batch paths: term metadata for
        the union of query terms, plus the (query_id, term) fan-out rows
        and per-query required-term counts. AND queries with a term
        absent from the index are dropped here (their result is empty by
        definition — reference inverted_index.py:110-113)."""
        meta_all = self._term_meta(
            [t for ts in queries.values() for t in ts])
        rows, nreq = [], {}
        for qid, tokens in queries.items():
            uniq = list(dict.fromkeys(tokens))
            known = [t for t in uniq if t in meta_all]
            if not known or (mode == "and" and len(known) < len(uniq)):
                continue
            nreq[qid] = len(known)
            rows.extend((qid, t) for t in known)
        meta = {t: meta_all[t] for _, t in rows}
        return meta, rows, nreq

    def _batch_joined(self, meta, rows, nreq, mode: str,
                      with_scores: bool) -> Optional[DataFrame]:
        """(query_id, doc_id[, score]) rows — decode once per distinct
        term, broadcast the tiny query map, keep AND-complete docs."""
        if not rows:
            return None
        idf = ({t: bm25_idf(self.n_docs, m["df"]) for t, m in meta.items()}
               if with_scores else None)
        decoded = self._decode(self._blocks_for(meta), idf)
        qmap = self.spark.createDataFrame(rows, "query_id string, term string")
        joined = decoded.join(F.broadcast(qmap), "term")
        # count(1) == distinct terms here: decoded is unique per
        # (term, doc_id) and qmap per (query_id, term), so the join
        # yields one row per (query_id, doc_id, term); _nt is needed
        # only for the AND filter (r9 — same reasoning as bm25_topk)
        agg = ([F.count(F.lit(1)).alias("_nt")] if mode == "and" else [])
        if with_scores:
            agg.append(F.sum("score").alias("score"))
        scored = (joined.groupBy("query_id", "doc_id").agg(*agg) if agg
                  else joined.select("query_id", "doc_id").distinct())
        if mode == "and":
            nreq_df = self.spark.createDataFrame(
                list(nreq.items()), "query_id string, _nreq int")
            scored = (scored.join(F.broadcast(nreq_df), "query_id")
                      .filter(F.col("_nt") == F.col("_nreq")))
        cols = ["query_id", "doc_id"] + (["score"] if with_scores else [])
        return scored.select(*cols)

    def search_batch(self, queries: Dict[str, Sequence[str]],
                     mode: str = "or") -> DataFrame:
        """B boolean queries in one plan → DataFrame(query_id, doc_id),
        per-query rows identical to :meth:`search` (mode "or"/"and")."""
        mode = mode.lower()
        empty = self.spark.createDataFrame(
            [], "query_id string, doc_id long")
        meta, rows, nreq = self._batch_qmap(queries, mode)
        out = self._batch_joined(meta, rows, nreq, mode, with_scores=False)
        if out is None:
            return empty
        return out.orderBy("query_id", "doc_id")

    def bm25_topk_batch(self, queries: Dict[str, Sequence[str]],
                        k: int = 10, mode: str = "or",
                        use_wand: bool = True) -> DataFrame:
        """B BM25 queries in one plan → DataFrame(query_id, doc_id,
        score): per query, the same top-k rows (desc score, ties by
        ascending doc_id) as :meth:`bm25_topk`. The decode volume is
        shared across queries (a head term decodes once for every query
        that uses it); batching amortizes the per-query job floor.

        With ``use_wand`` (default) the batch additionally applies a
        SHARED-CANDIDATE MaxScore split (:meth:`_batch_maxscore_scored`)
        when the per-query df pre-gates say it pays: at the 100 TB
        target a batch containing one rare+head query would otherwise
        decode the head term's 10^9+ postings fully for the whole
        batch. Falls back to the exact plan whenever no query splits or
        pruning can't pay (same gates as :meth:`bm25_topk`).

        EAGERNESS (r7 ADVICE): when the MaxScore path engages, the
        B×k result rows are collected to the driver and rebuilt as a
        local DataFrame — the persisted candidate pairs must be
        released before returning, so the pruned path cannot stay
        lazy. B×k is small by construction (k ≤ tens, B ≤ thousands →
        ≤ a few MB), and the global broadcast cap above bounds the
        batches that can engage at all; the exact fallback path stays
        fully lazy."""
        mode = mode.lower()
        empty = self.spark.createDataFrame(
            [], "query_id string, doc_id long, score double")
        if k <= 0:
            return empty
        meta, rows, nreq = self._batch_qmap(queries, mode)
        if not rows:
            return empty
        if use_wand and self.wand_safe and mode == "or":
            pruned = self._batch_maxscore_scored(meta, rows, k)
            if pruned is not None:
                scored, release = pruned
                try:
                    out_rows = self._batch_topk(scored, k).collect()
                finally:
                    release()
                return self.spark.createDataFrame(
                    out_rows, "query_id string, doc_id long, score double")
        scored = self._batch_joined(meta, rows, nreq, mode, with_scores=True)
        return self._batch_topk(scored, k)

    def _batch_topk(self, scored: DataFrame, k: int) -> DataFrame:
        """Two-stage partial top-k per query over (query_id, doc_id,
        score) rows: sort key (score, -doc_id) descending == (score
        desc, doc_id asc), the single-query ordering. Stage 1 keeps ≤ k
        rows per (query, input partition); stage 2 merges ≤ k·P structs
        per query — tiny arrays, never a full per-query sort on one
        task."""
        srt = F.struct(F.col("score"), (-F.col("doc_id")).alias("_nid"))
        part = (scored
                .groupBy("query_id", F.spark_partition_id().alias("_pid"))
                .agg(F.slice(F.sort_array(F.collect_list(srt), asc=False),
                             1, k).alias("_top")))
        return (part.groupBy("query_id")
                .agg(F.slice(F.reverse(F.array_sort(F.flatten(
                    F.collect_list("_top")))), 1, k).alias("_all"))
                .select("query_id", F.explode("_all").alias("_s"))
                .select("query_id",
                        (-F.col("_s._nid")).alias("doc_id"),
                        F.col("_s.score").alias("score"))
                .orderBy("query_id", F.desc("score"), F.asc("doc_id")))

    def _batch_maxscore_scored(self, meta: Dict[str, dict], rows: list,
                               k: int):
        """Shared-candidate MaxScore for the batch (OR mode): per-query
        (E, NE) splits from ONE stats job, decode the union of
        essential + exact-query terms fully, prune each remaining term
        against the candidates of the queries that hold IT in NE.

        Correctness per split query q: its τ_q proof (see
        :meth:`_maxscore_topk`) says any doc holding no E_q term misses
        q's top-k, so restricting q's rows to cand_q = docs with ≥1 E_q
        term is exact. A pruned term t's blocks are kept if they
        contain a candidate of ANY query holding t in NE — a superset
        of every such query's requirement — and t's decoded rows are
        trimmed to that same per-term candidate set, a superset of each
        relevant cand_q; the final per-query semi-restriction then
        lands exactly on cand_q. Queries that don't split (symmetric,
        single-term, or gated) keep their full exact rows — their terms
        are forced into the full-decode set, as are pruned terms whose
        per-term density estimate says pruning can't pay (demotion =
        the exact path for that term).

        Returns None (→ caller's exact path) when no query splits, no
        term is prunable after the full-decode union, or the density
        estimate says pruning can't pay. Otherwise returns
        ``(scored_rows_df, release_fn)`` — the caller MUST materialize
        and call ``release_fn`` (the candidate pairs are persisted
        because they feed both the broadcast pruning job and the final
        restriction join)."""
        qterms: Dict[str, list] = {}
        for qid, t in rows:
            qterms.setdefault(qid, []).append(t)
        idf = {t: bm25_idf(self.n_docs, m["df"]) for t, m in meta.items()}
        # per-query df pre-gate — driver-only, zero extra jobs (same
        # asymmetry/cap/min-NE conditions as the single-query gate)
        prelim = []
        for qid, ts in qterms.items():
            if len(ts) < 2:
                continue
            dfs = sorted(meta[t]["df"] for t in ts)
            if (dfs[-1] >= self.MAXSCORE_MIN_DF_RATIO * dfs[0]
                    and dfs[0] <= self.MAXSCORE_MAX_CANDIDATES
                    and sum(dfs) - dfs[0] >= self.MAXSCORE_MIN_NE_POSTINGS):
                prelim.append(qid)
        if not prelim:
            return None
        stats = {r["term"]: r for r in
                 self._maxscore_stats(self._blocks_for(meta), k)}
        splits = {}
        for qid in prelim:
            s = self._maxscore_split(
                qterms[qid], meta, idf, stats, k)
            if s is not None:
                splits[qid] = s
        if not splits:
            return None
        full: set = set()
        for qid, ts in qterms.items():
            full.update(splits[qid][0] if qid in splits else ts)
        pruned_set = {t for qid in splits
                      for t in splits[qid][1]} - full
        if not pruned_set:
            return None  # every NE term is decoded anyway — no gain
        # PER-TERM density gate (not all-or-nothing): a pruned term t's
        # blocks only need to contain candidates of the queries that
        # hold t in NE, so t's keep-estimate uses ITS relevant
        # essential union E_t — a batch mixing one clustered rare+head
        # query with scattered mid-df queries prunes the head term hard
        # even though the scattered queries' candidates span the
        # corpus. Terms whose estimate says pruning can't pay are
        # DEMOTED to the full-decode set (exactly the exact path for
        # them); demotion is non-cascading (e_for[t] is independent of
        # other terms' status).
        e_for = {t: set() for t in pruned_set}
        for qid, (E, NE) in splits.items():
            for t in NE:
                if t in pruned_set:
                    e_for[t].update(E)
        # per-E-term doc-id spans come free from the stats job
        rngs = stats
        bs = int(self.manifest.get("block_size", 128))
        corpus_span = max(1, int(self.manifest.get(
            "max_doc_id", self.n_docs)))
        for t in sorted(pruned_set):
            es = e_for[t]
            span = (max(rngs[e]["hi"] for e in es)
                    - min(rngs[e]["lo"] for e in es) + 1)
            n_cand_est = sum(meta[e]["df"] for e in es)
            frac = min(1.0, span / corpus_span,
                       n_cand_est * bs * (stats[t]["ms"] + 1)
                       / meta[t]["df"])
            if frac > 0.5:
                pruned_set.discard(t)
                full.add(t)
        # GLOBAL broadcast cap (r7 ADVICE): the per-query gate bounds
        # each cand(E_q), but Σ_t |cand(E_t)| scales with active split
        # queries × pruned terms. Estimate per-term cost from the df
        # metadata already on the driver (Σ df over t's relevant
        # essential union — an upper bound on |cand(E_t)|) and demote
        # the costliest terms until the total fits; demotion is the
        # exact path for that term, so correctness is untouched.
        est = {t: sum(meta[e]["df"] for e in e_for[t]) for t in pruned_set}
        while pruned_set and (sum(est[t] for t in pruned_set)
                              > self.MAXSCORE_MAX_TOTAL_CAND):
            worst = max(sorted(pruned_set), key=lambda t: est[t])
            pruned_set.discard(worst)
            full.add(worst)
        if not pruned_set:
            return None  # nothing prunes profitably: pure exact path
        # queries still relying on pruning (NE ∩ pruned ≠ ∅) need the
        # candidate restriction; a split query whose NE all demoted has
        # complete rows for every doc and passes through like an exact
        # query (its E ⊆ full already)
        active = {qid: s for qid, s in splits.items()
                  if set(s[1]) & pruned_set}
        e_union = sorted({t for qid in active for t in active[qid][0]})
        from pyspark import StorageLevel
        emap = self.spark.createDataFrame(
            [(qid, t) for qid, (E, _) in active.items() for t in E],
            "query_id string, term string")
        cand_pairs = (
            self._decode(self._blocks_for(
                {t: meta[t] for t in e_union}), idf)
            .join(F.broadcast(emap), "term")
            .select("query_id", "doc_id").distinct()
            .persist(StorageLevel.MEMORY_AND_DISK))
        # per-term candidate relation for block pruning: (term, doc_id)
        # pairs — term t keeps a block iff it contains a candidate of
        # some query holding t in NE. Broadcast size is bounded by
        # Σ_t |cand(E_t)| ≤ |pruned| · MAXSCORE_MAX_CANDIDATES.
        ne_t_map = self.spark.createDataFrame(
            [(qid, t) for qid, (_, NE) in active.items()
             for t in NE if t in pruned_set],
            "query_id string, term string")
        cand_by_term = (cand_pairs
                        .join(F.broadcast(ne_t_map), "query_id")
                        .select("term", "doc_id").distinct())
        kept = self._blocks_for(
            {t: meta[t] for t in sorted(pruned_set)}).alias("b").join(
            F.broadcast(cand_by_term).alias("c"),
            (F.col("c.term") == F.col("b.term"))
            & (F.col("c.doc_id") >= F.col("b.first_doc_id"))
            & (F.col("c.doc_id") <= F.col("b.last_doc_id")), "left_semi")
        dec_pruned = (self._decode(kept, idf)
                      .join(cand_by_term, ["term", "doc_id"], "left_semi"))
        dec_full = self._decode(
            self._blocks_for({t: meta[t] for t in sorted(full)}), idf)
        all_rows = (dec_full.select("term", "doc_id", "score")
                    .unionByName(
                        dec_pruned.select("term", "doc_id", "score")))
        qmap = self.spark.createDataFrame(
            [(qid, t, qid in active) for qid, t in rows],
            "query_id string, term string, _split boolean")
        # per-query candidate restriction: a left join on the SAME
        # (query_id, doc_id) key as the groupBy that follows, so the
        # exchange is reused — active split queries keep only cand_q
        # rows, the rest pass through untouched
        joined = all_rows.join(F.broadcast(qmap), "term")
        restricted = (
            joined.join(cand_pairs.withColumn("_c", F.lit(True)),
                        ["query_id", "doc_id"], "left")
            .filter((~F.col("_split")) | F.col("_c").isNotNull()))
        scored = (restricted.groupBy("query_id", "doc_id")
                  .agg(F.sum("score").alias("score")))
        return scored, lambda: cand_pairs.unpersist()

    def _per_term_block_stats(self, blocks: DataFrame, k: int) -> DataFrame:
        """Per-term ``(mw, nb, ms, lo, hi, kth)`` over block METADATA
        via a two-stage partial top-k — only the k-th largest VALUE is
        ever needed, never a full per-term sort. ``lo``/``hi`` (the
        term's doc-id span) ride along in the same aggregation so the
        density estimates downstream never need a second metadata job.

        Stage 1 aggregates per ``(term, input partition)``: count, max
        salt, and the partition-local top-k of ``block_max_w`` (a sorted
        ``slice``). Stage 2 merges the ≤k survivors per partition and
        reads the k-th element of the merged array (or the ``nb``-th
        when a term has fewer than k blocks — the min of all, matching
        the old window's ``min(top-k)`` semantics).

        Why not a ``row_number`` window partitioned by term: that is a
        single-task sort per term — at the 100 TB target a head term has
        ~10^7–10^9 metadata rows, so the pruning machinery itself would
        bottleneck on exactly the head terms it exists to prune. Here
        the wide stage's grouping key includes the partition id, so a
        head term's metadata spreads over every input partition; the
        second shuffle carries ≤ k·P tiny arrays. All-JVM codegen."""
        part = (
            blocks.select("term", "salt", "block_max_w",
                          "first_doc_id", "last_doc_id")
            .withColumn("_pid", F.spark_partition_id())
            .groupBy("term", "_pid")
            .agg(F.count("*").alias("_c"),
                 F.max("salt").alias("_ms"),
                 F.min("first_doc_id").alias("_lo"),
                 F.max("last_doc_id").alias("_hi"),
                 F.slice(F.sort_array(F.collect_list("block_max_w"),
                                      asc=False), 1, k).alias("_top"))
        )
        return (
            part.groupBy("term")
            .agg(F.sum("_c").alias("nb"),
                 F.max("_ms").alias("ms"),
                 F.min("_lo").alias("lo"),
                 F.max("_hi").alias("hi"),
                 F.reverse(F.array_sort(F.flatten(
                     F.collect_list("_top")))).alias("_all"))
            .select("term",
                    F.element_at("_all", 1).alias("mw"),
                    "nb", "ms", "lo", "hi",
                    F.element_at(
                        "_all",
                        F.least(F.lit(k), F.col("nb")).cast("int"))
                    .alias("kth"))
        )

    def _maxscore_stats(self, blocks: DataFrame, k: int) -> list:
        """ONE metadata-only job over the candidate blocks: per term,
        the max block weight (→ σ), the k-th largest block weight (→ a
        provable τ lower bound), the block count and the salt-split
        count (→ block-span estimate). Never decodes."""
        return self._per_term_block_stats(blocks, k).collect()

    def _maxscore_split(self, terms: Sequence[str], meta: Dict[str, dict],
                        idf: Dict[str, float], stats: Dict[str, dict],
                        k: int,
                        min_ne: Optional[int] = None) -> Optional[tuple]:
        """Driver-side (E, NE) split from per-term block stats (see
        :meth:`_maxscore_topk` steps 1-2): smallest σ-descending prefix
        E whose provable τ lower bound exceeds Σ_{NE} σ, subject to the
        candidate cap and the minimum-NE-decode gates. Shared by the
        single-query and batch paths — the batch feeds every query's
        split the SAME stats job's rows, and each passes its own
        ``min_ne`` gate (the paths' overheads differ ~5x, r8 ADVICE).
        Returns None when no valid split exists (caller falls back to
        exact)."""
        if min_ne is None:
            min_ne = self.MAXSCORE_MIN_NE_POSTINGS
        if any(t not in stats for t in terms):
            return None
        mw = {t: stats[t]["mw"] for t in terms}
        nb = {t: stats[t]["nb"] for t in terms}
        kth = {t: stats[t]["kth"] for t in terms}
        sigma = {t: idf[t] * mw[t] for t in terms}
        by_sigma = sorted(terms, key=lambda t: (-sigma[t], t))
        total_df = sum(meta[t]["df"] for t in terms)
        cap = min(self.MAXSCORE_MAX_CANDIDATES,
                  int(self.MAXSCORE_MAX_DF_FRAC * total_df))
        for e in range(1, len(by_sigma)):
            E, NE = by_sigma[:e], by_sigma[e:]
            if sum(meta[t]["df"] for t in E) > cap:
                break  # df_E only grows with e
            if sum(meta[t]["df"] for t in NE) < min_ne:
                break  # decode savings shrink with e — no later split pays
            taus = [idf[t] * kth[t] for t in E
                    if nb[t] >= k and kth[t] is not None]
            if not taus:
                continue
            if sum(sigma[t] for t in NE) < max(taus):
                return E, NE
        return None

    def _maxscore_topk(self, meta: Dict[str, dict], idf: Dict[str, float],
                       k: int) -> Optional[DataFrame]:
        """Distributed MaxScore: EXACT multi-term top-k that decodes the
        head terms' postings only where they can matter.

        1. One metadata pass (:meth:`_maxscore_stats`) yields per-term
           σ_t = idf_t·max block weight and a PROVABLE lower bound on
           the k-th best full score: a term with ≥k blocks exhibits ≥k
           distinct docs (one per block — blocks are doc-disjoint)
           whose full BM25 score is ≥ idf_t · (k-th largest block max).
        2. Split terms by σ descending into ESSENTIAL (E) and
           NON-ESSENTIAL (NE): the smallest σ-prefix E such that
           τ = max over E of the per-term bound satisfies
           ``Σ_{t∈NE} σ_t < τ`` — then every doc containing NO
           essential term scores < τ ≤ k-th best and cannot enter the
           top-k, so the candidate set is exactly the docs holding ≥1
           essential term. E is typically the rare/selective terms
           (high idf → high σ), so this pass is cheap by construction.
        3. Decode E fully → per-doc partial scores (= the candidates).
        4. A density estimate from the candidates' (count, min, max) —
           one tiny aggregate over the persisted partials — decides
           whether the block semi-join can pay: a head block spans
           ≈ block_size · n_splits doc ids, so with candidates spread
           uniformly over a span S, the expected surviving fraction of
           term t's blocks is ≈ min(S / corpus_span,
           n_cand · block_size · n_splits_t / df_t). Clustered
           candidates (topical/temporal locality — the realistic shape,
           since doc ids follow conversation/time order) prune hard;
           uniformly-scattered candidates overlap every head block, in
           which case the semi-join is SKIPPED and all NE blocks decode
           (the candidate restriction below still applies) — never
           slower than exact by more than the two driver jobs.
        5. When the estimate pays, NE blocks are pruned by a
           doc-id-range semi-join against the candidates on metadata
           columns that already exist (``first_doc_id``/``last_doc_id``,
           build.py POSTINGS_SCHEMA): the distinct candidate ids are
           broadcast and the range predicate alone decides survival —
           probe work O(n_blocks_NE × |candidates| / parallelism)
           long-compares, bounded by the df pre-gate
           (``MAXSCORE_MAX_CANDIDATES``). Every posting of a candidate
           lives in a block whose range contains the candidate's id,
           so kept blocks cover ALL candidate contributions → final
           scores are exact (pytest asserts equality with the unpruned
           path; the wand-vs-exact bench pair asserts it never loses).

        Returns None when no valid split exists (falls back to exact).
        """
        terms = list(meta)
        stats = {r["term"]: r for r in
                 self._maxscore_stats(self._blocks_for(meta), k)}
        split = self._maxscore_split(
            terms, meta, idf, stats, k,
            min_ne=self.MAXSCORE_MIN_NE_POSTINGS_SINGLE)
        if split is None:
            return None
        E, NE = split
        nb = {t: stats[t]["nb"] for t in terms}
        ms = {t: stats[t]["ms"] for t in terms}
        df_e = sum(meta[t]["df"] for t in E)
        bs = int(self.manifest.get("block_size", 128))
        corpus_span = max(1, int(self.manifest.get("max_doc_id", self.n_docs)))
        blocks_e = self._blocks_for({t: meta[t] for t in E})

        def prune_pays(n_cand, lo, hi):
            # expected surviving block fraction per NE term (uniform-
            # within-candidate-range model — see docstring step 4)
            range_frac = (hi - lo + 1) / corpus_span
            est_kept = sum(
                nb[t] * min(1.0, range_frac,
                            n_cand * bs * (ms[t] + 1) / meta[t]["df"])
                for t in NE)
            return est_kept <= 0.5 * sum(nb[t] for t in NE)

        if df_e <= self.MAXSCORE_DRIVER_CANDIDATES:
            return self._maxscore_driver(meta, idf, k, E, NE, prune_pays)
        # the E-terms' doc-id span rides along in the stats job — no
        # separate metadata job for the density estimate
        rng = (min(stats[t]["lo"] for t in E),
               max(stats[t]["hi"] for t in E))
        return self._maxscore_distributed(meta, idf, k, E, NE, prune_pays,
                                          blocks_e, rng)

    def _maxscore_driver(self, meta, idf, k, E, NE, prune_pays
                         ) -> Optional[DataFrame]:
        """Small-candidate fast path (the common selective-query case):
        collect the essential partial scores — bounded by
        ``MAXSCORE_DRIVER_CANDIDATES`` rows, a few MB — broadcast the
        SORTED candidate-id array, and prune INSIDE the decode stage:
        one vectorised ``searchsorted`` over each batch's block ranges
        skips non-overlapping blocks before any varint work, and
        membership filtering trims decoded rows to candidates. Total
        cost: the stats job + the (tiny) essential decode + ONE scoring
        job — no extra shuffles, joins or broadcasts of DataFrames."""
        pdf = (self._decode(self._blocks_for({t: meta[t] for t in E}), idf)
               .groupBy("doc_id").agg(F.sum("score").alias("score"))
               .toPandas())
        if pdf.empty:
            return self.spark.createDataFrame([], "doc_id long, score double")
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        cand_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        if not prune_pays(len(cand_ids), int(cand_ids[0]),
                          int(cand_ids[-1])):
            return None  # scattered candidates: exact decode is cheaper
        b_cand = self.spark.sparkContext.broadcast(cand_ids)
        avgdl = self.avgdl
        blocks_ne = self._blocks_for({t: meta[t] for t in NE})

        def fn(batches):
            ids_sorted = b_cand.value
            last = len(ids_sorted) - 1
            for batch in batches:
                # block-level skip before any varint work: keep a block
                # iff a candidate falls in [first_doc_id, last_doc_id]
                i = np.searchsorted(ids_sorted,
                                    batch.column("first_doc_id").to_numpy())
                keep = (i <= last) & (ids_sorted[np.minimum(i, last)]
                                      <= batch.column("last_doc_id")
                                      .to_numpy())
                rows = codec.decode_blocks(batch.filter(pa.array(keep)),
                                           avgdl, idf)
                ids = rows.column("doc_id").to_numpy()
                member = ids_sorted[np.minimum(
                    np.searchsorted(ids_sorted, ids), last)] == ids
                yield rows.select(["doc_id", "score"]).filter(
                    pa.array(member))

        cols = ["term", "n", "first_doc_id", "last_doc_id",
                "doc_ids_delta", "tfs", "doc_lens"]
        ne_scores = blocks_ne.select(*cols).mapInArrow(
            fn, "doc_id long, score double")
        part_df = self.spark.createDataFrame(
            pdf, "doc_id long, score double")
        plan = (
            ne_scores.unionByName(part_df)
            .groupBy("doc_id").agg(F.sum("score").alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        # materialize the (≤k-row) result NOW so the candidate-id
        # broadcast can be released — long-lived engines otherwise
        # accumulate one block-manager broadcast per rare+head query;
        # finally: release on collect failure too (executor loss would
        # otherwise leak the broadcast on a long-lived engine)
        try:
            rows = plan.collect()
        finally:
            b_cand.unpersist()
        return self.spark.createDataFrame(rows, "doc_id long, score double")

    def _maxscore_distributed(self, meta, idf, k, E, NE, prune_pays,
                              blocks_e, rng) -> Optional[DataFrame]:
        """Large-candidate path (Σ df(essential) beyond the driver
        bound): partial scores stay a persisted DataFrame; NE blocks
        are pruned by a doc-id-range semi-join on the metadata columns
        (broadcast of the distinct candidate ids, range predicate
        alone). The candidate range ``rng`` for the density estimate
        comes from the stats job's per-term spans — no extra job."""
        from pyspark import StorageLevel
        df_e = sum(meta[t]["df"] for t in E)
        if not prune_pays(df_e, int(rng[0]), int(rng[1])):
            return None
        partial = (
            self._decode(blocks_e, idf)
            .groupBy("doc_id").agg(F.sum("score").alias("_p"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        cand = partial.select("doc_id")
        blocks_ne = self._blocks_for({t: meta[t] for t in NE})
        # broadcast the candidate ids ALONE and keep any block whose
        # [first, last] range contains one: the old candidate×NE-term
        # crossJoin made the broadcast |NE|× larger for zero extra
        # pruning (the term equi-join was vacuous — every candidate was
        # paired with every NE term, so the range predicate alone
        # decided survival)
        kept = blocks_ne.alias("b").join(
            F.broadcast(cand).alias("c"),
            (F.col("c.doc_id") >= F.col("b.first_doc_id"))
            & (F.col("c.doc_id") <= F.col("b.last_doc_id")),
            "left_semi")
        # candidate restriction is valid regardless of block pruning:
        # the τ check proved non-candidates cannot reach the top-k
        ne_scores = (
            self._decode(kept, idf)
            .join(cand, "doc_id", "left_semi")
            .groupBy("doc_id").agg(F.sum("score").alias("_pn"))
        )
        out = (
            partial.join(ne_scores, "doc_id", "left")
            .select("doc_id",
                    (F.col("_p") + F.coalesce(F.col("_pn"), F.lit(0.0)))
                    .alias("score"))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )
        # materialize the (≤k-row) result NOW and release the persisted
        # partials — public bm25_topk callers have no handle to
        # unpersist, so a lazy return leaked one block-manager entry
        # per large-candidate query on long-lived engines; finally:
        # release on collect failure too (same leak class, error path)
        try:
            rows = out.collect()
        finally:
            partial.unpersist()
        return self.spark.createDataFrame(rows, "doc_id long, score double")

    def _wand_prune(self, blocks: DataFrame, meta: Dict[str, dict],
                    idf: Dict[str, float], k: int) -> DataFrame:
        """Lossless block-max pruning — metadata only, ONE extra job.

        One pass over the candidate blocks' METADATA rows (term +
        block_max_w — never a posting decode) yields both bounds:

        - σ_t = idf_t · max block weight of term t;
        - τ   = max over terms of idf_t · (k-th largest block weight of
          t). Valid lower bound on the k-th best full score: every
          block's max weight is achieved by ≥1 doc, and one term's
          blocks are doc-disjoint, so a term with ≥k blocks exhibits k
          distinct docs whose full BM25 score is ≥ its k-th block max.

        Keep block B of term t iff ub(B) + Σ_{t'≠t} σ_{t'} ≥ τ: every
        doc with true score ≥ τ survives in *all* its blocks (score
        exact); pruned docs have true score < τ and cannot displace the
        top-k. The per-term k-th largest comes from the two-stage
        partial top-k (:meth:`_per_term_block_stats`) — never a
        single-task per-term window sort.
        """
        stats = self._per_term_block_stats(blocks, k).collect()
        if not stats:
            return blocks
        sigma = {r["term"]: idf[r["term"]] * r["mw"] for r in stats}
        sum_sigma = sum(sigma.values())
        taus = [idf[r["term"]] * r["kth"] for r in stats if r["nb"] >= k]
        if not taus:
            return blocks  # no term has k blocks → nothing provable
        tau = max(taus)
        # map term → σ_others = sum_sigma - σ_t  (tiny broadcastable map)
        others = [(t, sum_sigma - s, idf[t]) for t, s in sigma.items()]
        others_df = self.spark.createDataFrame(
            others, "term string, sig_others double, idf double")
        return (
            blocks.join(F.broadcast(others_df), "term")
            .filter(F.col("idf") * F.col("block_max_w") + F.col("sig_others")
                    >= F.lit(tau))
            .drop("sig_others", "idf")
        )

    # -- suggestions / frequency (trie surface, SURVEY §2.4 Q6/Q7) -----------
    def search_suggestions(self, prefix: str) -> List[str]:
        dp = tk.decompose(prefix)
        rows = (
            self.token_dict
            .filter(F.col("decomposed").startswith(dp))
            .select("term").orderBy("term").collect()
        )
        return [r["term"] for r in rows]

    def search_by_frequency(self, prefix: str, k: int = 5) -> List[tuple]:
        """Top-k searched tokens under a prefix (trie.py:200-216 +
        counter.py ordering: count desc, token asc)."""
        dp = tk.decompose(prefix)
        freq = self._read_token_freq()
        if freq is None:
            return []
        rows = (
            freq.join(self.token_dict.select("term", "decomposed"), "term")
            .filter(F.col("decomposed").startswith(dp))
            .orderBy(F.desc("freq"), F.asc("term")).limit(k)
            .select("term", "freq").collect()
        )
        return [(r["term"], r["freq"]) for r in rows]

    def search_suggestions_df(self, prefix: str) -> DataFrame:
        """Q6 as a DataFrame plan (no driver collect): indexed terms
        whose jamo-decomposed form extends ``decompose(prefix)`` — the
        pushed-down StringStartsWith range scan over token_dict."""
        dp = tk.decompose(prefix)
        return (self.token_dict
                .filter(F.col("decomposed").startswith(dp))
                .select("term").orderBy("term"))

    def search_by_frequency_df(self, prefix: str, k: int = 5) -> DataFrame:
        """Q7 as a DataFrame plan: (term, freq) top-k under a prefix."""
        dp = tk.decompose(prefix)
        freq = self._read_token_freq()
        if freq is None:
            return self.spark.createDataFrame([], "term string, freq long")
        return (
            freq.join(self.token_dict.select("term", "decomposed"), "term")
            .filter(F.col("decomposed").startswith(dp))
            .orderBy(F.desc("freq"), F.asc("term")).limit(k)
            .select("term", F.col("freq").cast("long").alias("freq"))
        )

    # -- query log (S10/Q8) + incremental aggregation (Q9) --------------------
    #
    # Hot-read-path design: logging a search must NOT touch the manifest
    # (a read-modify-write per query serializes readers and doubles the
    # filesystem commits). The log is append-only parquet: a logged
    # search writes its few rows as one file from the driver
    # (``IndexCatalog.append_rows`` — no Spark job), and the sequence
    # high-water mark lives in marker files managed by ``IndexCatalog``
    # (``marker_last`` / ``marker_reserve``). The local-fs assumption
    # lives in that one swappable layer and fails loudly on non-local
    # roots. The range is RESERVED before the parquet write: a crash
    # in between leaves a harmless seq gap, never a reused range that
    # ``aggregate_frequency`` would double-count. Single concurrent
    # writer assumed (the reference is an embedded single-process
    # engine, log.py:20-45); at cluster scale the log would be a
    # streaming sink sharded by time — see konlspark/streaming.py.

    def _last_log_seq(self) -> int:
        return self.cat.marker_last("query_log")

    def _append_log(self, hits: List[str]) -> None:
        self._require_writable("query logging")
        last = self._last_log_seq()
        self.cat.marker_reserve("query_log", last + len(hits))
        self.cat.append_rows("query_log", pa.table({
            "seq_id": np.arange(last + 1, last + 1 + len(hits), dtype=np.int64),
            "ts": pa.array([pd.Timestamp.now(tz="UTC")] * len(hits),
                           pa.timestamp("us", "UTC")),
            "token": pa.array(hits, pa.string()),
            "size": np.ones(len(hits), dtype=np.int32),
        }))

    def _log_hits(self, tokens: Sequence[str], meta: Dict[str, dict]) -> None:
        """Append (token, 1) per query-token occurrence with ≥1 hit
        (inverted_index.py:107-109; duplicates in one query each log)."""
        hits = [t for t in tokens if t in meta]
        if hits:
            self._append_log(hits)

    def log_query_tokens(self, tokens_df: DataFrame) -> int:
        """Batch-log a DataFrame of query tokens (column ``token``)
        WITHOUT collecting them to the driver: semi-join ``token_dict``
        keeps tokens with ≥1 hit (the reference's per-query hit check),
        then assign the reserved seq range with the SAME two-pass
        partition-offset machinery as build doc-id assignment
        (:func:`konlspark.build.assign_doc_ids`, order key = token):
        range-partition + sort, one cached pass yields per-partition
        counts, broadcast cumulative offsets stamp ``seq_id`` inside
        every partition in parallel. No single-task window, no
        ``coalesce(1)`` — a 10^8-token bulk log write shards across
        partitions (the per-query ``_append_log`` hot path stays one
        file; continuous cluster-scale logging is the streaming sink's
        job). Returns the number of rows logged."""
        from . import build
        self._require_writable("query logging")
        # persist: the semi-join must execute ONCE — repartitionByRange
        # samples its boundaries in a separate pass, which would rerun
        # the input lineage without the cache
        hits = (tokens_df.select(F.col("token").cast("string"))
                .join(self.token_dict.select(F.col("term").alias("token")),
                      "token", "left_semi")
                .persist())
        # everything after the persist sits inside the try (r7 ADVICE):
        # an exception in _last_log_seq or assign_doc_ids (whose count
        # job caches a second DataFrame) must not leak either persist
        # on a long-lived engine
        ranked = None
        try:
            last = self._last_log_seq()
            ranked = build.assign_doc_ids(hits, order_cols=("token",),
                                          start_id=last + 1)
            n = int(ranked._konl_n_rows)
            if n == 0:
                return 0
            # reserve BEFORE the parquet write (crash in between leaves
            # a harmless seq gap, never a reusable range)
            self.cat.marker_reserve("query_log", last + n)
            out = (ranked
                   .withColumnRenamed("doc_id", "seq_id")
                   .withColumn("ts", F.current_timestamp())
                   .withColumn("size", F.lit(1).cast("int"))
                   .select("seq_id", "ts", "token", "size"))
            out.write.mode("append").parquet(self.cat.table_path("query_log"))
            return n
        finally:
            if ranked is not None:
                ranked._konl_persisted.unpersist()
            hits.unpersist()

    def aggregate_frequency(self) -> None:
        """Incremental: log rows past the stored offset are summed into
        a NEW versioned token_freq table; the table pointer and the
        offset advance in ONE manifest commit (inverted_index.py:121-128
        made idempotent — a crash before the commit leaves an orphan
        directory, never a double count)."""
        self._require_writable("frequency aggregation")
        kv = self._meta_kv()
        offset = kv.get("freq_offset", 0)
        last = self._last_log_seq()
        if last <= offset:
            return
        log_path = self.cat.table_path("query_log")
        new = (
            self.spark.read.parquet(log_path)
            .filter(F.col("seq_id") > offset)
            .join(self.token_dict.select("term"),
                  F.col("token") == F.col("term"), "left_semi")
            .groupBy("token").agg(F.sum("size").alias("freq"))
            .select(F.col("token").alias("term"), "freq")
        )
        old = self._read_token_freq()
        merged = new if old is None else (
            old.unionByName(new).groupBy("term").agg(F.sum("freq").alias("freq")))
        version = int(kv.get("freq_version", 0)) + 1
        out = f"token_freq_v{version:06d}"
        merged.write.mode("overwrite").parquet(self.cat.table_path(out))
        self._set_meta_kvs({"freq_offset": last,
                            "freq_version": version,
                            "token_freq_table": out})

    def _read_token_freq(self) -> Optional[DataFrame]:
        import os
        table = self._meta_kv().get("token_freq_table")
        if table is None:
            return None
        path = self.cat.table_path(table)
        if not os.path.exists(path):
            return None
        return self.spark.read.parquet(path)

    def _meta_kv(self) -> dict:
        m = self.cat.read_manifest() or {}
        return m.get("kv", {})

    def _set_meta_kvs(self, updates: dict) -> None:
        """Atomic multi-key kv commit (one manifest swap)."""
        self._require_writable("manifest kv write")
        m = self.cat.read_manifest() or {}
        m.setdefault("kv", {}).update(updates)
        self.cat.commit_manifest(m)

    # -- point / range / multi gets (S5-S8) ----------------------------------
    def get(self, doc_id: int) -> DataFrame:
        return self.docs.filter(F.col("doc_id") == doc_id).select("doc_id", "text")

    def get_range(self, start_id: int, end_id: int) -> DataFrame:
        return (
            self.docs.filter((F.col("doc_id") >= start_id) &
                             (F.col("doc_id") < end_id))
            .select("doc_id", "text").orderBy("doc_id")
        )

    def get_multi(self, doc_ids: Sequence[int]) -> DataFrame:
        return (
            self.docs.filter(F.col("doc_id").isin(list(doc_ids)))
            .select("doc_id", "text").orderBy("doc_id")
        )

    def get_tokens(self, doc_id: int) -> List[str]:
        rows = self.docs.filter(F.col("doc_id") == doc_id).select("tokens").collect()
        return list(rows[0]["tokens"]) if rows else []
