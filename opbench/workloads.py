"""The workloads: one client, closed loop, one operation at a time.

Each workload generates its inputs from the seed (``generate``), sets
the engine up (``setup``), then runs operations (``op``). An operation
returns the wall time of its engine calls only — answer checks and
block release happen outside it — plus the items it processed and the
answer the oracle checks.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np

import inputs
import oracles

# Sizes keep one whole run (JVM start, set-up, warm pass, timed loop)
# near a minute: every engine call here costs 5-20 Spark jobs whatever
# the input size, so larger inputs buy little realism and cost runs.
CONFIG = {
    "ann_query": dict(n_base=400, n_dups=20, dim=64, clusters=12,
                      arrivals=(30, 30), batch=16, pool=32, k=10, trees=4, leaf=32,
                      stride=40, nprobe=3, pq_m=8, cb_stride=20, pairs_k=3,
                      pairs_sample=64),
    "text_dedup": dict(n_base=600, n_exact=25, n_near=25, n_contam=25,
                       n_short=25, max_hamming=3),
}


def _timed(tracer, name, fn):
    """Run ``fn`` inside a span; return (result, wall seconds)."""
    with tracer.span(name):
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
    return out, wall


class Workload:
    name = ""
    items = ""  # what items_per_s counts
    # set-up repetitions per run; setup_s reports their median
    setup_reps = 3
    # timed operations per run at least, whatever --seconds says: the
    # median then never rests on one operation, and a slow host cannot
    # shrink the sample
    min_ops = 3

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.cfg = CONFIG[self.name]
        self.extras: "dict[str, list[float]]" = {}

    def note(self, key: str, value: float) -> None:
        self.extras.setdefault(key, []).append(float(value))

    def setup_answer(self):
        """An answer produced during set-up that the oracle checks too,
        or None."""
        return None

    def trace_extras(self) -> None:
        """Layer counters that cost extra engine jobs; traced runs only,
        after the timed region."""

    def input_dir(self, rep: int) -> str:
        d = os.path.join(self.work, f"inputs-{rep}")
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


# --- ann_query -------------------------------------------------------------------

class AnnQuery(Workload):
    """Read path timed, write path in set-up.

    Set-up is the index's whole write path: build a forest over the base
    corpus, save it, stream the arrivals into it in two micro-batches,
    load it back and run the leaf-local all-pairs top-3 over the grown
    corpus (answer checked like an operation). Each operation then sends
    one query batch through the loaded forest, the exact BLAS path, the
    IVF-int8 path and the IVF-PQ path."""

    name = "ann_query"
    items = "queries"
    # the write path is the expensive part of a run; it is set up once
    setup_reps = 1
    # and after it a run has room for two operations
    min_ops = 2

    def generate(self, rep: int) -> str:
        c = self.cfg
        rng = np.random.default_rng(self.seed)
        d = self.input_dir(rep)
        n_arr = sum(c["arrivals"])
        vs = inputs.clustered_vectors(rng, c["n_base"] + n_arr, c["dim"], c["clusters"],
                                      c["n_dups"])
        # cluster rows [n_base, n_base + n_arr) arrive later, in one file
        # per micro-batch; corpus.parquet is the grown table (base and
        # arrivals) that queries re-rank against
        n0, n_all = c["n_base"], len(vs.ids)
        base = np.r_[0:n0, n0 + n_arr:n_all]
        inputs.write_vectors(f"{d}/base.parquet", vs.ids[base], vs.vecs[base],
                             "vec_id", "embedding")
        inputs.write_vectors(f"{d}/corpus.parquet", vs.ids, vs.vecs, "vec_id", "embedding")
        os.makedirs(f"{d}/arrivals")
        lo = n0
        for j, n in enumerate(c["arrivals"]):
            inputs.write_vectors(f"{d}/arrivals/part-{j}.parquet", vs.ids[lo:lo + n],
                                 vs.vecs[lo:lo + n], "vec_id", "embedding")
            lo += n
        os.makedirs(f"{d}/queries")
        self.batches = []
        for b in range(c["pool"]):
            qids, q = inputs.query_batch(rng, vs.centers, c["batch"],
                                         inputs.QUERY_ID_BASE + b * c["batch"])
            inputs.write_vectors(f"{d}/queries/b{b:03d}.parquet", qids, q,
                                 "query_id", "query_vec")
            self.batches.append((qids, q))
        self.pairs_sample = set(int(v) for v in rng.choice(vs.ids, c["pairs_sample"],
                                                           replace=False))
        self.vs, self.dir = vs, d
        return d

    def setup(self, rep: int) -> None:
        from rust_vector_search_spark.operators.index import (
            build_rp_forest, load_index, save_index)
        from rust_vector_search_spark.operators.search import all_pairs_rp_forest
        from rust_vector_search_spark.streaming import incremental_index_ingest

        c, sp, tr = self.cfg, self.spark, self.tracer
        base = sp.read.parquet(f"{self.dir}/base.parquet")
        self.corpus = sp.read.parquet(f"{self.dir}/corpus.parquet")
        idx = os.path.join(self.work, f"index-{rep}")
        forest, _ = _timed(tr, "index.build", lambda: build_rp_forest(
            base, num_trees=c["trees"], max_node_size=c["leaf"], seed=self.seed))
        _timed(tr, "index.save", lambda: save_index(forest, idx))

        def ingest():
            stream = (sp.readStream.schema(base.schema)
                      .option("maxFilesPerTrigger", 1).parquet(f"{self.dir}/arrivals"))
            query = incremental_index_ingest(stream, forest, f"{idx}/leaves",
                                             os.path.join(self.work, f"ingest-ckpt-{rep}"))
            query.awaitTermination()
            return query

        query, _ = _timed(tr, "streaming.ingest", ingest)
        self.forest, _ = _timed(tr, "index.load", lambda: load_index(
            sp, idx, c["trees"], c["leaf"], self.seed))
        self.pairs, _ = _timed(tr, "search.allpairs", lambda: [
            tuple(r) for r in all_pairs_rp_forest(self.forest, self.corpus, k=c["pairs_k"])
            .select("query_id", "vec_id", "dist", "rnk").collect()])
        self.note("index.build.nodes", forest.node_count)
        self.note("index.build.depth", forest.max_depth)
        self.note("index.save.disk_mb", _du_mb(idx))
        self.note("streaming.ingest.batches",
                  sum(1 for p in query.recentProgress if p["numInputRows"] > 0))

    def prepare_oracle(self) -> None:
        self.oracle = oracles.VectorOracle(self.vs.ids, self.vs.vecs)

    def setup_answer(self):
        return "allpairs", self.pairs

    def op(self, i: int):
        from rust_vector_search_spark.operators.knn import knn_exact_fast
        from rust_vector_search_spark.operators.pq import ivf_pq_topk
        from rust_vector_search_spark.operators.quant import ivf_int8_topk
        from rust_vector_search_spark.operators.search import search_rp_forest

        c = self.cfg
        b = i % c["pool"]
        q = self.spark.read.parquet(f"{self.dir}/queries/b{b:03d}.parquet")
        cols = ("query_id", "vec_id", "dist", "rnk")
        calls = {
            "search.forest": lambda: search_rp_forest(
                self.forest, self.corpus, q, k=c["k"]),
            "knn.exact": lambda: knn_exact_fast(self.corpus, q, k=c["k"]),
            "quant.ivf_int8": lambda: ivf_int8_topk(
                self.corpus, q, k=c["k"], stride=c["stride"], nprobe=c["nprobe"]),
            "pq.ivf_pq": lambda: ivf_pq_topk(
                self.corpus, q, k=c["k"], stride=c["stride"], nprobe=c["nprobe"],
                m=c["pq_m"], sub_dim=c["dim"] // c["pq_m"], cb_stride=c["cb_stride"]),
        }
        answers, wall = {}, 0.0
        for name, fn in calls.items():
            answers[name], w = _timed(
                self.tracer, name, lambda fn=fn: [tuple(r) for r in fn().select(*cols).collect()])
            wall += w
        return wall, c["batch"], (b, answers)

    def check(self, answer):
        """Forest recall@10 is the recall this workload reports."""
        if answer[0] == "allpairs":
            # every corpus vector is a query: true distances, rank order,
            # no self pair
            problems, recalls = oracles.check_topk(
                answer[1], self.oracle, self.vs.ids, self.vs.vecs, self.cfg["pairs_k"],
                exact=False, exclude_self=True)
            self.note("search.allpairs.recall", statistics.fmean(
                r for v, r in zip(self.vs.ids, recalls) if int(v) in self.pairs_sample))
            return [f"all-pairs: {m}" for m in problems], []
        b, answers = answer
        qids, q = self.batches[b]
        problems, recalls = [], []
        for name, rows in answers.items():
            p, rec = oracles.check_topk(rows, self.oracle, qids, q, self.cfg["k"],
                                        exact=(name == "knn.exact"))
            problems += [f"{name}: {m}" for m in p]
            if name == "search.forest":
                recalls = rec
        return problems, recalls

    def corrupt(self, answer):
        """The exact path's nearest id for the first query, swapped for
        the corpus row farthest from that query."""
        b, answers = answer
        rows = sorted(answers["knn.exact"], key=lambda r: (r[0], r[3]))
        qi = list(self.batches[b][0]).index(rows[0][0])
        far = int(self.vs.ids[int(np.argmax(self.oracle.distances(self.batches[b][1][qi:qi + 1])[0]))])
        rows[0] = (rows[0][0], far, rows[0][2], rows[0][3])
        return b, {**answers, "knn.exact": rows}

    def trace_extras(self) -> None:
        from rust_vector_search_spark.operators.search import (
            node_table_broadcastable, route_queries)

        c = self.cfg
        q = self.spark.read.parquet(f"{self.dir}/queries/b000.parquet")
        routed = route_queries(self.forest, q, spill_margin="auto")
        cand = (routed.join(self.forest.leaves, ["tree_id", "leaf_path"])
                .select("query_id", "vec_id").distinct().count())
        self.note("search.forest.candidates_per_result", cand / (c["batch"] * c["k"]))
        self.note("search.forest.broadcast_route", float(node_table_broadcastable(self.forest)))
        self.note("search.allpairs.candidates_per_result",
                  _allpairs_candidates(self.forest, c["pairs_k"]))


def _allpairs_candidates(forest, k: int) -> float:
    """Distinct leaf co-members per vector (the all-pairs candidate set
    before re-rank), divided by k."""
    from collections import defaultdict

    groups = defaultdict(list)
    for t, p, v in forest.leaves.select("tree_id", "leaf_path", "vec_id").collect():
        groups[(t, p)].append(int(v))
    partners = defaultdict(set)
    for members in groups.values():
        for v in members:
            partners[v].update(members)
    return float(np.mean([len(s) - 1 for s in partners.values()])) / k


def _du_mb(path: str) -> float:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total / 1e6


# --- text_dedup ------------------------------------------------------------------

class TextDedup(Workload):
    """Iterative text operators: the training-corpus pipeline, SimHash
    near-duplicate pairs and star connected components."""

    name = "text_dedup"
    items = "documents"

    def generate(self, rep: int) -> str:
        c = self.cfg
        rng = np.random.default_rng(self.seed)
        d = self.input_dir(rep)
        self.docs = inputs.documents(rng, c["n_base"], c["n_exact"], c["n_near"],
                                     c["n_contam"], c["n_short"])
        inputs.write_documents(f"{d}/documents.parquet", self.docs)
        self.dir = d
        return d

    def setup(self, rep: int) -> None:
        self.df = self.spark.read.parquet(f"{self.dir}/documents.parquet")

    def prepare_oracle(self) -> None:
        dc = self.docs
        self.want_stats = oracles.pipeline_stats(dc.doc_id, dc.text, dc.lang, dc.source)
        self.want_pairs = oracles.simhash_pairs(dc.doc_id, dc.text, self.cfg["max_hamming"])
        self.planted_pairs = sum(len(g) * (len(g) - 1) // 2 for g in dc.groups)

    def op(self, i: int):
        from rust_vector_search_spark.operators.dedup import (
            connected_components_star, simhash_near_dup_pairs)
        from rust_vector_search_spark.plans.textops import corpus_pipeline_stats

        tr, h = self.tracer, self.cfg["max_hamming"]
        stats, w1 = _timed(tr, "textops.pipeline", lambda: {
            tuple(r) for r in corpus_pipeline_stats(self.df)
            .select("source", "lang", "n_docs", "n_tokens").collect()})

        def pairs():
            # materialised once: the oracle reads the pair set and the
            # components step consumes it
            p = simhash_near_dup_pairs(self.df, max_hamming=h).localCheckpoint(eager=True)
            return p, {tuple(r) for r in p.select("doc_id_a", "doc_id_b", "hamming").collect()}

        (pdf, pair_rows), w2 = _timed(tr, "dedup.simhash_pairs", pairs)
        comps, w3 = _timed(tr, "dedup.cc_star", lambda: {
            int(r[0]): int(r[1])
            for r in connected_components_star(pdf).select("node", "component_id").collect()})
        self.note("dedup.simhash_pairs.pairs_per_planted", len(pair_rows) / max(self.planted_pairs, 1))
        self.note("dedup.cc_star.components", len(set(comps.values())))
        return w1 + w2 + w3, len(self.docs.doc_id), (stats, pair_rows, comps)

    def check(self, answer):
        stats, pair_rows, comps = answer
        problems = []
        if stats != self.want_stats:
            problems.append(f"pipeline stats differ: got {sorted(stats)[:3]}..., "
                            f"want {sorted(self.want_stats)[:3]}...")
        if pair_rows != self.want_pairs:
            problems.append(f"simhash pairs differ: {len(pair_rows - self.want_pairs)} extra, "
                            f"{len(self.want_pairs - pair_rows)} missing")
        # components must be the union-find closure of the pairs returned
        replay = oracles.union_find_components((a, b) for a, b, _ in pair_rows)
        if comps != replay:
            bad = [n for n in set(comps) | set(replay) if comps.get(n) != replay.get(n)]
            problems.append(f"cc_star differs from union-find on {len(bad)} nodes")
        return problems, [oracles.collapsed_share(self.docs.groups, comps)]

    def corrupt(self, answer):
        """One node moved to a component of its own."""
        stats, pair_rows, comps = answer
        node = min(comps)
        return stats, pair_rows, {**comps, node: -1}


WORKLOADS = {w.name: w for w in (AnnQuery, TextDedup)}
