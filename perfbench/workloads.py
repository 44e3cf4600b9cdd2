"""The workloads. Each is a closed loop with one client: a single
driver thread issues a call, waits for it to finish (plan + ``collect``)
and checks the answer before it issues the next.

A workload has three parts: ``setup`` (fixtures and expected answers,
outside every timed window), ``run_pass`` (the measured loop, which
records one span per layer call into a :class:`trace.Recorder`) and the
metric folds ``e2e`` / ``headline`` / ``layers`` over those spans.
"""

from __future__ import annotations

import os
import shutil
import time
from typing import Dict

import numpy as np

from . import checks, inputs
from .trace import Recorder, mean, median, scoped

SIZES = {
    "index_lifecycle": {
        "full": {"turns": 20_000, "warm_turns": 200, "append": 1_000,
                 "delete": 5, "dup_share": 0.05},
        "tiny": {"turns": 400, "warm_turns": 50, "append": 50, "delete": 2,
                 "dup_share": 0.1},
    },
    "dedup_ops": {
        "full": {"docs": 3_000, "vecs": 20_000, "dim": 32,
                 "warm_docs": 200, "dup_share": 0.05},
        "tiny": {"docs": 300, "vecs": 300, "dim": 8, "warm_docs": 100,
                 "dup_share": 0.1},
    },
}


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(root) for f in files)


def _timed_collect(a: dict, make_df):
    """Plan (the engine call that returns a DataFrame) and execution
    (``collect``) timed apart into span attrs."""
    t0 = time.time()
    df = make_df()
    t1 = time.time()
    rows = df.collect()
    a["plan_s"] = t1 - t0
    a["exec_s"] = time.time() - t1
    a["rows"] = len(rows)
    return rows


class Workload:
    name = ""

    def __init__(self, spark, work: str, seed: int, size: str,
                 corrupt: bool = False):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.size = SIZES[self.name][size]
        # self-test hook: falsify the first expected answer, which the
        # checks must then report
        self.corrupt = corrupt
        self.prep_s = 0.0  # benchmark-side Python work inside set-up
        self.digest = ""
        self.passes = 0
        self.recall = 0.0  # share of injected near-duplicates found

    def _prep(self, fn, *args, **kw):
        t0 = time.time()
        try:
            return fn(*args, **kw)
        finally:
            self.prep_s += time.time() - t0

    def _expect(self, value):
        if self.corrupt:
            self.corrupt = False
            return checks.corrupt(value)
        return value

    def _oracle(self, texts):
        from konlspark.oracle import OracleIndex
        ix = OracleIndex()
        ix.index_all(list(texts))
        return ix

    def setup(self, rec: Recorder) -> None:
        raise NotImplementedError

    def run_pass(self, rec: Recorder, seconds: float) -> None:
        raise NotImplementedError

    def e2e(self, rec: Recorder) -> Dict[str, float]:
        """``latency_p50_s`` and ``throughput_per_s`` of one pass."""
        raise NotImplementedError

    def headline(self, rec: Recorder) -> Dict[str, tuple]:
        """The workload's own end-to-end numbers by name: (value, unit)."""
        raise NotImplementedError

    def layers(self, rec: Recorder, per: dict) -> Dict[str, float]:
        """Every layer metric; a layer the workload leaves idle reads 0."""
        return {**build_layers(rec, per), **query_layers(rec, per),
                **ingest_layers(rec, per),
                **ops_layers(rec, per, self.recall)}


# -- per-layer folds shared by the workloads --------------------------------

def build_layers(rec: Recorder, per: dict) -> Dict[str, float]:
    """``build.*``, ``tokenizer.*`` and ``codec.encode_*`` per
    ``build_index`` call."""
    aggs = [per[i] for i in rec.indices("build")]
    builds = rec.of("build")
    out = {}
    for phase in ("dedup_assign_ids", "tokenize_write_docs", "docs_stats",
                  "write_postings_and_side_tables"):
        out[f"build.{phase}_s"] = median(
            s.attrs["phases"][phase] for s in builds)
    for key, src in (("jobs", "jobs"), ("tasks", "tasks"),
                     ("driver_idle_s", "idle_s"), ("executor_cpu_s", "cpu_s"),
                     ("gc_s", "gc_s"), ("shuffle_bytes", "shuffle_bytes"),
                     ("spill_bytes", "spill_bytes"),
                     ("bytes_written", "bytes_written")):
        out[f"build.{key}"] = mean(a[src] for a in aggs)
    encode = [st for a in aggs for st in scoped(a, "FlatMapGroupsInPandas")]
    out["build.encode_tasks"] = mean(
        sum(st["tasks"] for st in scoped(a, "FlatMapGroupsInPandas"))
        for a in aggs)
    skews = [max(st["task_s"]) / max(1e-3, median(st["task_s"]))
             for st in encode if st["task_s"]]
    out["build.encode_task_skew"] = median(skews)
    out["tokenizer.python_s"] = mean(
        sum(st["python_s"] for st in scoped(a, "MapInArrow")) for a in aggs)
    out["codec.encode_python_s"] = mean(
        sum(st["python_s"] for st in scoped(a, "FlatMapGroupsInPandas"))
        for a in aggs)
    return out


def query_layers(rec: Recorder, per: dict) -> Dict[str, float]:
    qi, bi = rec.indices("query"), rec.indices("batch")
    q = [per[i] for i in qi]
    results = sum(rec.spans[i].attrs.get("rows", 0) for i in qi)
    rows_read = sum(a["rows_read"] for a in q)
    planned = [rec.spans[i] for i in qi if "plan_s" in rec.spans[i].attrs]
    return {
        "query.plan_s": median(s.attrs["plan_s"] for s in planned),
        "query.exec_s": median(s.attrs["exec_s"] for s in planned),
        "query.jobs_per_query": mean(a["jobs"] for a in q),
        "query.tasks_per_query": mean(a["tasks"] for a in q),
        "query.driver_idle_s": mean(a["idle_s"] for a in q),
        "query.rows_read_per_query": mean(a["rows_read"] for a in q),
        "query.rows_read_per_result": rows_read / max(1, results),
        "query.shuffle_bytes_per_query": mean(a["shuffle_bytes"] for a in q),
        "query.batch_jobs": mean(per[i]["jobs"] for i in bi),
        "query.batch_rows_read": mean(per[i]["rows_read"] for i in bi),
        "query.refresh_s": median(s.dur for s in rec.of("refresh")),
        "codec.decode_python_s_per_query": mean(
            sum(st["python_s"] for st in scoped(a, "MapInPandas"))
            for a in q),
    }


def ingest_layers(rec: Recorder, per: dict) -> Dict[str, float]:
    ai, ci = rec.indices("append"), rec.indices("compact")
    turns = sum(rec.spans[i].attrs["turns"] for i in ai)
    return {
        "ingest.append_jobs": mean(per[i]["jobs"] for i in ai),
        "ingest.append_python_s": mean(per[i]["python_s"] for i in ai),
        "ingest.append_bytes_per_turn": (
            sum(per[i]["bytes_written"] for i in ai) / max(1, turns)),
        "ingest.delete_s": median(s.dur for s in rec.of("delete")),
        "ingest.parts_live": mean(s.attrs["parts"] for s in rec.of("refresh")),
        "ingest.compact_jobs": mean(per[i]["jobs"] for i in ci),
        "ingest.compact_bytes_rewritten": mean(
            per[i]["bytes_written"] for i in ci),
    }


OPS = ("minhash_lsh", "simhash", "jaccard", "cosine_topk", "textstats")


def ops_layers(rec: Recorder, per: dict, recall: float) -> Dict[str, float]:
    out = {f"ops.{op}_s": median(s.dur for s in rec.of(f"ops.{op}"))
           for op in OPS}
    oi = rec.indices(*(f"ops.{op}" for op in OPS))
    n_pass = max(1, len(rec.of("ops.pass")))
    out["ops.tasks"] = sum(per[i]["tasks"] for i in oi) / n_pass
    out["ops.shuffle_bytes"] = sum(per[i]["shuffle_bytes"] for i in oi) / n_pass
    out["ops.driver_idle_s"] = sum(per[i]["idle_s"] for i in oi) / n_pass
    out["ops.near_dup_recall"] = recall
    return out


# -- index_lifecycle --------------------------------------------------------

class IndexLifecycle(Workload):
    """One unit of work: a fresh bulk ``build_index`` of the seeded
    corpus, then churn on it. The churn appends a batch (some of it
    copies of live texts), deletes a few docs, refreshes the engine and
    asks every query shape of the multi-part snapshot with tombstones,
    where the engine must take its exact (unpruned) path. The unit ends
    with a compaction, a refresh and queries on the clean snapshot."""

    name = "index_lifecycle"

    def setup(self, rec: Recorder) -> None:
        from konlspark import build, corpus
        z = self.size
        n, cluster = z["turns"], z["turns"] // 100
        self.sdf, base = inputs.transcripts(self.spark, n, self.seed, cluster)
        pool_sdf, pool = inputs.transcripts(
            self.spark, n + z["append"], self.seed, cluster)
        pool_sdf.unpersist()
        self.turns = n
        # warm-up: Python workers, codegen and the build's plan shapes on a
        # small slice of the same corpus
        root = os.path.join(self.work, "warm")
        with rec.span("warmup"):
            build.build_index(self.spark, corpus.spark_transcripts(
                self.spark, base.head(z["warm_turns"])), root)
        shutil.rmtree(root, ignore_errors=True)
        self.text_bytes = self._prep(
            lambda: sum(len(t.encode()) for t in base["text"]))
        self.plan = self._prep(self._plan, pool, base)
        self.append_df = corpus.spark_transcripts(self.spark,
                                                  self.plan["append"])
        # inputs only: the expected answers come from the oracle, which
        # is program code, and must not move the digest
        self.digest = self._prep(
            inputs.digest, pool, self.plan["append"], self.plan["victims"],
            {tag: [{k: v for k, v in q.items() if k != "want"} for q in qs]
             for tag, qs in self.plan["queries"].items()})

    def _plan(self, pool, base) -> dict:
        """The unit's calls with every expected answer, replayed on the
        oracle in the order the engine will see them. Compaction leaves
        the live docs as they are, so both query sets share one state."""
        z = self.size
        ix = self._oracle(base["text"])
        plan = inputs.churn_round(pool, z["turns"], list(base["text"]),
                                  z["append"], z["delete"], z["dup_share"],
                                  self.seed)
        plan["n_docs"] = self._expect(len(ix.docs))
        sampler = inputs.TermSampler(inputs.term_strata(ix.postings),
                                     np.random.default_rng([self.seed, 7]))
        ids, conflicts = [], 0
        for t in plan["append"]["text"]:
            status, doc_id = ix.index(t)
            if status == "success":
                ids.append(doc_id)
            else:
                conflicts += 1
        plan["want_append"] = {"indexed": len(ids), "conflicts": conflicts,
                               "first_doc_id": ids[0] if ids else None}
        live = sorted(ix.docs)
        plan["victims"] = sorted({live[int(d * len(live))]
                                  for d in plan.pop("delete_draws")})
        for v in plan["victims"]:
            ix.delete(v)
        plan["n_live"] = len(ix.docs)
        plan["queries"] = {
            tag: [dict(q, want=self._answer(ix, q))
                  for q in inputs.query_set(shapes, sampler, tag)]
            for tag, shapes in (("churned", inputs.ROUND_QUERIES),
                                ("compacted", inputs.COMPACT_QUERIES))}
        self.oracle = ix
        return plan

    @staticmethod
    def _answer(ix, q):
        kind = q["kind"]
        if kind == "bm25":
            return ix.bm25_topk(q["terms"], k=10)
        if kind == "batch":
            return {qid: ix.bm25_topk(ts, k=10)
                    for qid, ts in q["queries"].items()}
        if kind == "suggest":
            return ix.search_suggestions(q["prefix"])
        return ix.search(q["terms"], kind, log=False)

    def _all_scores(self, terms):
        """Every matching doc's oracle score, for the float-tie check."""
        return lambda: dict(self.oracle.bm25_topk(terms, k=1 << 30))

    def _query(self, rec: Recorder, eng, q) -> None:
        kind, want = q["kind"], q["want"]
        if kind == "batch":
            with rec.span("batch", n=len(q["queries"])) as a:
                rows = _timed_collect(a, lambda: eng.bm25_topk_batch(
                    q["queries"], k=10))
            got: Dict[str, list] = {qid: [] for qid in q["queries"]}
            for r in rows:
                got[r["query_id"]].append((r["doc_id"], r["score"]))
            for qid, ts in q["queries"].items():
                rec.check(f"batch {ts}", lambda qid=qid, ts=ts: checks.topk(
                    got[qid], want[qid], self._all_scores(ts)))
            return
        with rec.span("query", kind=kind) as a:
            if kind == "suggest":
                got_s = eng.search_suggestions(q["prefix"])
                a["rows"] = len(got_s)
            elif kind == "bm25":
                rows = _timed_collect(a, lambda: eng.bm25_topk(q["terms"], k=10))
            else:
                rows = _timed_collect(a, lambda: eng.search(q["terms"], kind))
        if kind == "suggest":
            rec.check(f"suggest {q['prefix']}", lambda: checks.same(
                got_s, want, "suggestions"))
        elif kind == "bm25":
            rec.check(f"bm25 {q['terms']}", lambda: checks.topk(
                [(r["doc_id"], r["score"]) for r in rows], want,
                self._all_scores(q["terms"])))
        else:
            rec.check(f"{kind} {q['terms']}", lambda: checks.same(
                [r["doc_id"] for r in rows], want, "doc ids"))

    def _refresh(self, rec: Recorder, eng, root: str) -> None:
        from konlspark.catalog import IndexCatalog
        manifest = IndexCatalog(root).read_manifest()
        with rec.span("refresh", parts=len(manifest["tables"]["postings"])):
            eng.refresh()

    def run_pass(self, rec: Recorder, seconds: float) -> None:
        from konlspark import build, ingest
        from konlspark.query import SearchEngine
        plan = self.plan
        self.passes += 1
        unit = 0
        while rec.busy_s() < seconds:
            root = os.path.join(self.work, f"index_{self.passes}_{unit}")
            unit += 1
            with rec.span("build", turns=self.turns) as a:
                manifest = build.build_index(self.spark, self.sdf, root)
            a["phases"] = manifest["build_phases"]
            a["index_bytes"] = dir_bytes(root)
            rec.check("build", lambda: checks.same(
                manifest["n_docs"], plan["n_docs"], "n_docs"))
            with rec.span("open"):
                eng = SearchEngine(self.spark, root)
            with rec.span("append", turns=len(plan["append"])):
                got = ingest.append_batch(self.spark, root, self.append_df)
            rec.check("append", lambda: checks.same(
                got, plan["want_append"], "append"))
            with rec.span("delete", n=len(plan["victims"])):
                got_d = ingest.delete_docs(self.spark, root, plan["victims"])
            rec.check("delete", lambda: checks.same(
                got_d, {"deleted": len(plan["victims"])}, "delete"))
            self._refresh(rec, eng, root)
            for q in plan["queries"]["churned"]:
                self._query(rec, eng, q)
            with rec.span("compact"):
                got_c = ingest.compact(self.spark, root)
            rec.check("compact", lambda: checks.same(
                got_c["n_docs"], plan["n_live"], "n_docs"))
            self._refresh(rec, eng, root)
            for q in plan["queries"]["compacted"]:
                self._query(rec, eng, q)
            shutil.rmtree(root, ignore_errors=True)

    def e2e(self, rec):
        writes = rec.of("build", "append", "delete", "compact")
        turns = sum(s.attrs.get("turns", 0) for s in writes)
        return {"latency_p50_s": median(s.dur for s in rec.of("query")),
                "throughput_per_s": turns / sum(s.dur for s in writes)}

    def headline(self, rec):
        b, q = rec.of("build"), sorted(s.dur for s in rec.of("query"))
        batches = rec.of("batch")
        return {
            "build_turns_per_s": (sum(s.attrs["turns"] for s in b)
                                  / sum(s.dur for s in b), "turns/s"),
            "index_bytes_per_text_byte": (
                median(s.attrs["index_bytes"] for s in b) / self.text_bytes,
                "ratio"),
            "append_p50_s": (median(s.dur for s in rec.of("append")), "s"),
            "churn_query_p50_s": (median(q), "s"),
            "churn_query_max_s": (max(q), "s"),
            "batch_queries_per_s": (sum(s.attrs["n"] for s in batches)
                                    / sum(s.dur for s in batches), "queries/s"),
            "compact_s": (median(s.dur for s in rec.of("compact")), "s"),
        }


# -- dedup_ops --------------------------------------------------------------

class DedupOps(Workload):
    """One pass = MinHash-LSH, SimHash, shingle-Jaccard, cosine top-k and
    text statistics over the same seeded texts and vectors."""

    name = "dedup_ops"

    def setup(self, rec: Recorder) -> None:
        z = self.size
        pdf, self.injected = inputs.ops_corpus(z["docs"], z["dup_share"],
                                               self.seed)
        emb = inputs.embeddings(z["vecs"], z["dim"], self.seed)
        self.qv = [float(x) for x in np.random.default_rng(
            [self.seed, 8]).standard_normal(z["dim"])]
        self.docs = self.spark.createDataFrame(
            pdf, "doc_id long, text string").cache()
        self.emb = self.spark.createDataFrame(
            emb, "vec_id long, embedding array<float>").cache()
        self.docs.count()
        self.emb.count()
        self.rows_per_pass = 4 * z["docs"] + z["vecs"]
        texts = dict(zip(pdf["doc_id"].tolist(), pdf["text"]))
        self.want = self._prep(self._references, texts, emb)
        self.digest = self._prep(inputs.digest, pdf, emb["embedding"].map(
            lambda v: v.tobytes().hex()).to_frame(), self.qv)
        with rec.span("warmup"):
            self._run_ops(Recorder(), self.docs.limit(z["warm_docs"]),
                          self.emb.limit(z["warm_docs"]))

    def _references(self, texts, emb) -> dict:
        vecs = np.stack(emb["embedding"].to_numpy())
        ids = emb["vec_id"].to_numpy()
        cos = checks.cosine_scores(vecs, ids, self.qv)
        return {
            "jaccard": checks.jaccard_pairs(texts, 3, 0.5),
            "simhash": self._expect(checks.simhash_pairs(
                checks.simhashes(texts, 2), 3)),
            "cosine": cos[:10],
            "cosine_all": dict(cos),
            "text": checks.text_totals(texts.values()),
        }

    def _run_ops(self, rec: Recorder, docs, emb) -> dict:
        from pyspark.sql import functions as F

        from konlspark.ops import dedup, similarity, textstats
        got = {}
        with rec.span("ops.pass"):
            with rec.span("ops.minhash_lsh", nested=True):
                got["minhash_lsh"] = dedup.minhash_lsh_pairs(
                    docs, n=3, n_hashes=16, bands=8,
                    verify_threshold=0.5).collect()
            with rec.span("ops.simhash", nested=True):
                got["simhash"] = dedup.simhash_near_pairs(
                    docs, max_hamming=3).collect()
            with rec.span("ops.jaccard", nested=True):
                got["jaccard"] = dedup.shingle_pairs_jaccard(
                    docs, n=3, threshold=0.5).collect()
            with rec.span("ops.cosine_topk", nested=True):
                got["cosine"] = similarity.cosine_topk(
                    emb, self.qv, k=10).collect()
            with rec.span("ops.textstats", nested=True):
                stats = textstats.with_lang_id(textstats.with_fingerprint(
                    textstats.with_quality_score(
                        textstats.with_token_counts(docs))))
                got["text"] = stats.agg(
                    F.sum("n_tokens_ws").alias("n_tokens"),
                    F.sum("n_chars_").alias("n_chars"),
                    F.countDistinct("fp_norm").alias("n_distinct_fp"),
                    F.avg("quality_score").alias("quality"),
                    F.count_if(F.col("lang_pred") == "ko").alias("ko"),
                ).collect()[0]
        return got

    def _check(self, rec: Recorder, got: dict) -> None:
        want = self.want

        def lsh():
            for r in got["minhash_lsh"]:
                ref = want["jaccard"].get((r["id_a"], r["id_b"]))
                if ref is None or abs(ref - r["jaccard"]) > checks.SCORE_TOL:
                    return f"pair {(r['id_a'], r['id_b'])} not a true pair"
            return None
        rec.check("minhash_lsh", lsh)
        rec.check("simhash", lambda: checks.same(
            {(r["id_a"], r["id_b"]): r["hamming"] for r in got["simhash"]},
            want["simhash"], "simhash pairs"))

        def jac():
            g = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got["jaccard"]}
            if set(g) != set(want["jaccard"]):
                return f"{len(g)} pairs, want {len(want['jaccard'])}"
            bad = [p for p in g if abs(g[p] - want["jaccard"][p])
                   > checks.SCORE_TOL]
            return f"jaccard of {bad[0]} differs" if bad else None
        rec.check("jaccard", jac)
        rec.check("cosine_topk", lambda: checks.topk(
            [(r["id"], r["cos"]) for r in got["cosine"]], want["cosine"],
            lambda: want["cosine_all"]))
        rec.check("textstats", lambda: checks.same(
            {k: int(got["text"][k]) for k in want["text"]}, want["text"],
            "text totals"))
        found = {(r["id_a"], r["id_b"]) for r in got["minhash_lsh"]}
        self.recall = (sum(1 for p in self.injected if p in found)
                       / max(1, len(self.injected)))

    def run_pass(self, rec: Recorder, seconds: float) -> None:
        while rec.busy_s() < seconds:
            self._check(rec, self._run_ops(rec, self.docs, self.emb))

    def e2e(self, rec):
        p = rec.of("ops.pass")
        return {"latency_p50_s": median(s.dur for s in rec.spans
                                        if s.attrs.get("nested")),
                "throughput_per_s": self.rows_per_pass * len(p)
                / sum(s.dur for s in p)}

    def headline(self, rec):
        return {"ops_rows_per_s": (self.e2e(rec)["throughput_per_s"],
                                   "rows/s")}


WORKLOADS = {w.name: w for w in (IndexLifecycle, DedupOps)}
