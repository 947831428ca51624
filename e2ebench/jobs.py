"""The three workloads' jobs, driven through promi_spark's public API.

Each workload object has ``build_index()`` (run once per session),
``job(i)`` (the timed unit; returns what the job produced) and ``check(out)`` (compares
that output with the generator's truth and returns the list of
mismatches, empty when correct). Every public call goes through
``Tracer.call`` so the traced run can attribute it; with tracing off
that is a plain call.
"""

from __future__ import annotations

import os

from gen import END, HEARTBEAT, MAX_PUNCT_RATIO, MIN_TOKENS, N_SHARDS, START, TOPK

# A search query fails below this top-10 recall, or when it returns any
# id outside its 20 true nearest. Each query's true top-10 lie in its own
# tight cluster, so IVF with nprobe='auto' nearly always finds all of
# them; when a cluster straddles an unprobed cell it may swap a boundary
# neighbour for the next one (1 query in ~500 at 0.9 while the floor was
# set), which is approximation, not a wrong answer.
RECALL_FLOOR = 0.8


def corpus_flow(sf_dir: str, out_path: str) -> dict:
    """The examples/clean_corpus.yml stages over this run's documents."""
    source = {"name": "DocumentsTable", "attributes": {"sf_dir": sf_dir}}
    return {
        "pipes": [
            {
                "name": "Benchmark",
                "source": source,
                "streams": [{"name": "Filter", "attributes": {"cnf": [["doc_id < 20"]]}}],
                "sink": {"name": "Sender", "stream_sender": ["bench"]},
            },
            {
                "name": "Clean",
                "source": source,
                "streams": [
                    {"name": "QualityFilter",
                     "attributes": {"min_tokens": MIN_TOKENS, "max_punct_ratio": MAX_PUNCT_RATIO}},
                    {"name": "CorpusStats", "artifact_sender": ["corpus_profile"]},
                    {"name": "PiiScrub"},
                    {"name": "ExactDedup"},
                    {"name": "NearDupDedup", "attributes": {"threshold": 0.7, "transitive": True}},
                    {"name": "Decontaminate", "attributes": {"n": 5, "min_shared": 1},
                     "stream_receiver": ["bench"]},
                ],
                "sink": {"name": "ShardExport",
                         "attributes": {"path": out_path, "n_shards": N_SHARDS}},
            },
        ]
    }


def _cache_count(data):
    """Cache an EventLog or a DataFrame and materialise it; returns the
    cached object and its row count."""
    data = data.cache()
    return data, getattr(data, "df", data).count()


def _internal_edges(edges) -> dict:
    return {(a, b): n for a, b, n in edges if a != START and b != END}


class Mining:
    """XES ingest -> filter -> validate -> DFG / variants / heuristic
    dependency -> alpha miner + token replay -> a stateful streaming DFG
    drained with availableNow over the same events."""

    def __init__(self, spark, spec, workdir, tracer):
        self.spark, self.spec, self.tr = spark, spec, tracer
        self.zone = os.path.join(workdir, "zone")

    def build_index(self) -> None:
        """Parse and cache the log, then write the case-bucketed event
        table the stream drains from."""
        from promi_spark.io import read_xes_distributed
        from promi_spark.operators.scale import write_events_bucketed

        log, _ = self.tr.call("io.read_xes_distributed", read_xes_distributed,
                              self.spark, self.spec["xes_dir"], force=_cache_count)
        try:
            self.tr.call("operators.scale.write_events_bucketed", write_events_bucketed, log,
                         "e2e_zone", n_buckets=4, path=self.zone)
        finally:
            log.df.unpersist()

    def job(self, i):
        from pyspark.sql import functions as F

        from promi_spark.io import read_xes_distributed
        from promi_spark.operators import dfg, filters, mining
        from promi_spark.operators.validate import validate
        from promi_spark.streaming import engine

        t, spark = self.tr, self.spark
        out = {}
        keep = filters.neg(filters.Concept.name_eq(HEARTBEAT))
        log, out["n_raw"] = t.call("io.read_xes_distributed", read_xes_distributed,
                                   spark, self.spec["xes_dir"], force=_cache_count)
        try:
            ev = t.call("operators.filters.filter_events", filters.filter_events, log, keep)
            out["violations"] = t.call("operators.validate.validate", validate, ev,
                                       force=lambda d: [r["violation"] for r in d.collect()])
            out["dfg"] = t.call("operators.dfg.directly_follows", dfg.directly_follows, ev,
                                with_endpoints=True,
                                force=lambda d: [tuple(r) for r in d.collect()])
            out["n_variants"] = t.call("operators.dfg.trace_variants", dfg.trace_variants, ev,
                                       force=lambda d: d.count())
            out["heuristic"] = t.call("operators.dfg.heuristic_dependency",
                                      dfg.heuristic_dependency, ev,
                                      force=lambda d: [(r["a"], r["b"], r["n_ab"]) for r in d.collect()])
            net = t.call("operators.mining.alpha_miner", mining.alpha_miner, ev)
            out["transitions"] = sorted(net.transitions)
            out["fitness"] = t.call("operators.mining.token_replay", mining.token_replay, ev, net,
                                    force=lambda d: mining.fitness_summary(d).first().asDict())
            name = f"e2e_sdfg_{i}"
            stream = engine.read_event_stream(spark, self.zone).filter(keep)
            t.call("streaming.engine.stateful_dfg", engine.stateful_dfg, stream,
                   force=lambda s: engine.run_to_memory(s, name))
            out["stream_dfg"] = [
                tuple(r) for r in spark.table(name).groupBy("activity", "next_activity")
                .agg(F.count(F.lit(1)).alias("n")).collect()
            ]
            spark.catalog.dropTempView(name)
        finally:
            log.df.unpersist()
        return out

    def check(self, out) -> list[str]:
        truth = self.spec["truth"]
        bad = []
        if out["n_raw"] != truth["n_raw_events"]:
            bad.append(f"read_xes_distributed: {out['n_raw']} events, want {truth['n_raw_events']}")
        want = {(a, b): n for a, b, n in truth["edges"]}
        got = {(a, b): n for a, b, n in out["dfg"]}
        if got != want:
            bad.append(f"dfg: {len(set(got.items()) ^ set(want.items()))} edge counts differ")
        if out["n_variants"] != truth["n_variants"]:
            bad.append(f"variants: {out['n_variants']} != {truth['n_variants']}")
        n_chrono = sum(v == "time:chronology" for v in out["violations"])
        if n_chrono != truth["n_violations"] or len(out["violations"]) != n_chrono:
            bad.append(f"violations: {len(out['violations'])} rows, {n_chrono} chronology, "
                       f"want {truth['n_violations']}")
        internal = _internal_edges(truth["edges"])
        heur = {(a, b): n for a, b, n in out["heuristic"] if n}
        if heur != internal:
            bad.append("heuristic_dependency: n_ab differs from the DFG")
        stream = {(a, b): n for a, b, n in out["stream_dfg"]}
        if stream != internal or stream != _internal_edges(out["dfg"]):
            bad.append("stateful_dfg: streaming DFG differs from the batch DFG")
        alphabet = sorted({a for a, _ in want if a != START})
        if out["transitions"] != alphabet:
            bad.append("alpha_miner: transitions differ from the alphabet")
        fit = out["fitness"]
        if fit["n_traces"] != truth["n_traces"] or not 0.0 <= fit["avg_fitness"] <= 1.0:
            bad.append(f"token_replay: {fit}")
        return bad


class Corpus:
    """The clean-corpus flow through ``plans.pipeline.execute``, ending in
    a shard export. The traced run also calls the flow's operators
    directly to split the flow's time by operator."""

    def __init__(self, spark, spec, workdir, tracer):
        self.spark, self.spec, self.tr = spark, spec, tracer
        self.workdir = workdir
        # the export overwrites its directory on every job
        self.out_path = os.path.join(workdir, "shards")
        self.flow = corpus_flow(spec["sf_dir"], self.out_path)

    def build_index(self) -> None:
        """Load and cache the documents, then write the corpus's MinHash
        index (its ingest-time dedup index)."""
        from promi_spark.io import load_table
        from promi_spark.operators.dedup import write_minhash_index

        docs = self.tr.call("io.load_table", load_table, self.spark, "documents",
                            self.spec["sf_dir"], force=lambda d: _cache_count(d)[0])
        try:
            self.tr.call("operators.dedup.write_minhash_index", write_minhash_index, docs,
                         os.path.join(self.workdir, "minhash_index"))
        finally:
            docs.unpersist()

    def job(self, i):
        from promi_spark.plans import execute

        self.tr.call("plans.pipeline.execute", execute, self.spark, self.flow)
        return {"path": self.out_path}

    def direct(self) -> dict:
        """The flow's stages as direct operator calls (traced run only).
        Returns the output to check."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from promi_spark.io import load_table
        from promi_spark.operators import dedup, filters, scale, text

        t, spark = self.tr, self.spark
        path = os.path.join(self.workdir, "shards_direct")
        docs = t.call("io.load_table", load_table, spark, "documents", self.spec["sf_dir"])
        bench = t.call("operators.filters.cnf", filters.cnf, docs, [[F.expr("doc_id < 20")]])
        col = F.col("text")
        good = t.call("operators.text.token_count",
                      lambda: docs.filter((text.token_count(col) >= MIN_TOKENS)
                                          & (text.punct_ratio(col) <= MAX_PUNCT_RATIO)))
        t.call("operators.text.punct_ratio",
               lambda: good.agg(F.count(F.lit(1)), F.sum(text.token_count(col)),
                                F.avg(text.punct_ratio(col))),
               force=lambda d: d.first())
        scrubbed = t.call("operators.text.scrubbed_text",
                          lambda: good.withColumn("text", text.scrubbed_text("text")))
        w = Window.partitionBy(F.md5(dedup.norm_text("text"))).orderBy("doc_id")
        exact = t.call("operators.dedup.norm_text",
                       lambda: scrubbed.withColumn("_rn", F.row_number().over(w))
                       .filter("_rn = 1").drop("_rn"))
        pairs = t.call("operators.dedup.minhash_dedup", dedup.minhash_dedup, exact,
                       "doc_id", "text", threshold=0.7)
        comp = t.call("operators.dedup.dedup_components", dedup.dedup_components, pairs)
        drop = comp.filter(F.col("doc_id") != F.col("component")).select("doc_id")
        near = exact.join(drop, "doc_id", "left_anti")
        verdicts = t.call("operators.text.ngram_overlap", text.ngram_overlap, near, bench,
                          "doc_id", "text", n=5, min_shared=1)
        clean = near.join(verdicts.filter(~F.col("contaminated")).select("doc_id"),
                          "doc_id", "left_semi")
        t.call("operators.scale.write_shards", scale.write_shards, clean, path, "doc_id",
               n_shards=N_SHARDS)
        for cache in (pairs.gram_cache, pairs.sig_cache, comp.labels_cache):
            if cache is not None:
                cache.unpersist()
        return {"path": path}

    def check(self, out) -> list[str]:
        truth = self.spec["truth"]
        got = read_shards(out["path"])
        bad = []
        if len(got) != truth["n_shards"]:
            bad.append(f"shards: {len(got)} != {truth['n_shards']}")
        survivors = sorted(d for ids in got.values() for d in ids)
        if survivors != truth["survivors"]:
            want = set(truth["survivors"])
            bad.append(f"survivors: {len(set(survivors) - want)} extra, "
                       f"{len(want - set(survivors))} missing, "
                       f"{len(survivors) - len(set(survivors))} repeated")
        elif {str(k): v for k, v in got.items()} != truth["shards"]:
            bad.append("shards: a doc landed in the wrong shard")
        return bad


def read_shards(path: str) -> dict[int, list[int]]:
    """``{shard: sorted doc ids}`` of a ``shard=<k>`` partitioned export,
    read with pyarrow."""
    import pyarrow.parquet as pq

    out = {}
    for d in sorted(os.listdir(path)):
        if not d.startswith("shard="):
            continue
        ids = []
        for f in sorted(os.listdir(os.path.join(path, d))):
            if f.endswith(".parquet"):
                ids += pq.read_table(os.path.join(path, d, f), columns=["doc_id"]).column(0).to_pylist()
        out[int(d.split("=", 1)[1])] = sorted(ids)
    return out


class Search:
    """One IVF index build per session, then single top-10 queries with
    ``ivf_topk_indexed`` (one job = one query)."""

    def __init__(self, spark, spec, workdir, tracer):
        self.spark, self.spec, self.tr = spark, spec, tracer
        self.index = os.path.join(workdir, "ivf_index")

    def build_index(self) -> None:
        """Train the coarse quantiser, then write the IVF index."""
        from promi_spark.operators.similarity import ivf_centroids, write_ivf_index

        vecs = self.spark.read.parquet(self.spec["vec_path"])
        cent = self.tr.call("operators.similarity.ivf_centroids", ivf_centroids, vecs,
                            n_clusters="auto")
        self.tr.call("operators.similarity.write_ivf_index", write_ivf_index, vecs, cent,
                     self.index)

    def job(self, i):
        from promi_spark.operators.similarity import ivf_topk_indexed

        q = i % len(self.spec["queries"])
        ids = self.tr.call("operators.similarity.ivf_topk_indexed", ivf_topk_indexed,
                           self.spark, self.index, self.spec["queries"][q], k=TOPK,
                           nprobe="auto", force=lambda d: [r["vec_id"] for r in d.collect()])
        return {"q": q, "ids": ids}

    def recall(self, out) -> float:
        want = set(self.spec["truth"]["nearest"][out["q"]][:TOPK])
        return len(want & set(out["ids"])) / float(TOPK)

    def check(self, out) -> list[str]:
        q, ids = out["q"], out["ids"]
        r = self.recall(out)
        bad = []
        if len(ids) != TOPK or len(set(ids)) != TOPK:
            bad.append(f"query {q}: {len(ids)} ids returned")
        far = set(ids) - set(self.spec["truth"]["nearest"][q])
        if far:
            bad.append(f"query {q}: {sorted(far)} not among the {2 * TOPK} true nearest")
        if r < RECALL_FLOOR:
            bad.append(f"query {q}: recall {r:.2f} < {RECALL_FLOOR}")
        return bad


WORKLOADS = {"mining": Mining, "corpus": Corpus, "search": Search}
