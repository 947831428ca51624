"""Seeded input generators and their ground truth.

Every workload's inputs are a pure function of ``(workload, seed)`` and
the truth is computed here, in plain Python and NumPy, without importing
``promi_spark``: a job's output is correct only if it matches what this
module derives from the planted structure.

- ``mining``: an XES log sampled from a small Markov process model, with
  heartbeat noise events (dropped by the job's filter) and planted
  chronology violations. Truth: the endpoint DFG edge counts, the variant
  count, the violation count and the trace count.
- ``corpus``: documents with planted exact duplicates, near-duplicate
  clusters, benchmark-contaminated documents, low-quality documents and
  PII. Truth: the surviving doc ids per export shard.
- ``search``: Gaussian-mixture vectors plus queries. Truth: the exact
  cosine top-10 of every query.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import random

import numpy as np

START, END = "__START__", "__END__"

# -- mining ------------------------------------------------------------------

# about 7.5k events (why this size: STEADINESS.md, "Mining size")
MINING_CASES = 1200
MINING_SHARDS = 4
HEARTBEAT = "heartbeat"
# Markov process model: activity -> [(next activity, weight)]; "close"
# ends the trace.
PROCESS = {
    "register": [("check", 6), ("triage", 3)],
    "check": [("approve", 4), ("reject", 2), ("request_info", 3)],
    "triage": [("check", 5), ("escalate", 2)],
    "request_info": [("check", 4), ("reject", 1)],
    "escalate": [("approve", 2), ("reject", 2)],
    "approve": [("notify", 5), ("archive", 2)],
    "reject": [("notify", 4), ("close", 1)],
    "notify": [("archive", 3), ("close", 2)],
    "archive": [("close", 1)],
}
MAX_TRACE_EVENTS = 24


def _walk(rng: random.Random) -> list[str]:
    acts, cur = [], "register"
    while cur != "close" and len(acts) < MAX_TRACE_EVENTS:
        acts.append(cur)
        nxt, wts = zip(*PROCESS[cur])
        cur = rng.choices(nxt, weights=wts)[0]
    return acts


def _xes_ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.000+00:00")


_XES_HEAD = """<?xml version="1.0" encoding="UTF-8"?>
<log xes.version="1849.2016" xes.features="nested-attributes">
\t<extension name="Concept" prefix="concept" uri="http://www.xes-standard.org/concept.xesext"/>
\t<extension name="Time" prefix="time" uri="http://www.xes-standard.org/time.xesext"/>
\t<classifier name="Activity" keys="concept:name"/>
"""


def mining_cases(seed: int) -> list[tuple[str, list[tuple[str, dt.datetime]]]]:
    """``[(case_id, [(activity, ts), ...])]`` in document order, noise
    included. About 6% of cases carry one planted chronology violation:
    an event stamped before its predecessor."""
    rng = random.Random(f"mining:{seed}")
    base = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    cases = []
    for i in range(MINING_CASES):
        t = base + dt.timedelta(minutes=rng.randrange(0, 60 * 24 * 90))
        events = []
        for act in _walk(rng):
            t += dt.timedelta(seconds=rng.randrange(60, 7200))
            events.append((act, t))
            if rng.random() < 0.15:  # noise between two real events
                t += dt.timedelta(seconds=rng.randrange(1, 30))
                events.append((HEARTBEAT, t))
        real = [j for j, (a, _) in enumerate(events) if a != HEARTBEAT]
        if len(real) >= 3 and rng.random() < 0.06:
            j = real[rng.randrange(1, len(real) - 1)]
            prev = max(ts for a, ts in events[:j] if a != HEARTBEAT)
            events[j] = (events[j][0], prev - dt.timedelta(seconds=rng.randrange(1, 600)))
        cases.append((f"case-{seed}-{i:05d}", events))
    return cases


def mining_truth(cases) -> dict:
    """Truth over the events the job keeps (heartbeats filtered out),
    plus the number of events read."""
    edges: dict[tuple[str, str], int] = {}
    variants, violations = set(), 0
    for _cid, events in cases:
        real = [(a, ts) for a, ts in events if a != HEARTBEAT]
        acts = [a for a, _ in real]
        variants.add(",".join(acts))
        for a, b in zip([START] + acts, acts + [END]):
            edges[(a, b)] = edges.get((a, b), 0) + 1
        violations += sum(1 for (_, t0), (_, t1) in zip(real, real[1:]) if t1 < t0)
    return {
        "edges": sorted([a, b, n] for (a, b), n in edges.items()),
        "n_variants": len(variants),
        "n_violations": violations,
        "n_traces": len(cases),
        "n_raw_events": sum(len(events) for _, events in cases),
    }


def write_mining(seed: int, out_dir: str) -> dict:
    """The log as ``MINING_SHARDS`` XES files (one scan task each)."""
    cases = mining_cases(seed)
    xes_dir = os.path.join(out_dir, "xes")
    os.makedirs(xes_dir, exist_ok=True)
    for s in range(MINING_SHARDS):
        lines = [_XES_HEAD]
        for cid, events in cases[s::MINING_SHARDS]:
            lines.append(f'\t<trace>\n\t\t<string key="concept:name" value="{cid}"/>\n')
            for act, ts in events:
                lines.append(
                    f'\t\t<event><string key="concept:name" value="{act}"/>'
                    f'<date key="time:timestamp" value="{_xes_ts(ts)}"/></event>\n'
                )
            lines.append("\t</trace>\n")
        lines.append("</log>\n")
        with open(os.path.join(xes_dir, f"part-{s:02d}.xes"), "w") as f:
            f.write("".join(lines))
    return {"xes_dir": xes_dir, "truth": mining_truth(cases)}


# -- corpus ------------------------------------------------------------------

CORPUS_BASE_DOCS = 420
BENCH_IDS = 20  # the flow's benchmark pipe keeps doc_id < 20
N_SHARDS = 16
MIN_TOKENS, MAX_PUNCT_RATIO = 5, 0.9  # the flow's QualityFilter
_PUNCT = set(chr(c) for c in range(33, 127) if not chr(c).isalnum())


def passes_quality(text: str) -> bool:
    """Whitespace token count and ASCII-punctuation share of the chars."""
    if len(text.split()) < MIN_TOKENS:
        return False
    return not text or sum(ch in _PUNCT for ch in text) / len(text) <= MAX_PUNCT_RATIO


def _vocab(rng: random.Random, n: int = 5000) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters) for _ in range(rng.randrange(4, 10))))
    return sorted(words)


def corpus_docs(seed: int) -> tuple[list[tuple[int, str]], dict]:
    """``[(doc_id, text)]`` plus the planted labels.

    Plain docs draw uniformly from a 5000-word vocabulary, so two of them
    share no word 5-gram and have Jaccard near 0. Planted structure:
    exact copies (one with changed case and spacing), near-duplicate
    clusters (one word substituted per member, Jaccard >= 0.85 to the
    base), documents quoting a 12-word span of a benchmark document,
    too-short and punctuation-heavy documents, and email/IP PII."""
    rng = random.Random(f"corpus:{seed}")
    vocab = _vocab(rng)

    def doc(lo=90, hi=140):
        return [rng.choice(vocab) for _ in range(rng.randrange(lo, hi))]

    texts: list[str] = []
    kind: list[str] = []
    group: list[int] = []  # dup/near-dup group index, -1 if none

    def add(words, k, g=-1):
        texts.append(words if isinstance(words, str) else " ".join(words))
        kind.append(k)
        group.append(g)

    bench = [doc() for _ in range(BENCH_IDS)]
    for w in bench:
        add(w, "bench")
    n_groups = 0
    for _ in range(CORPUS_BASE_DOCS):
        add(doc(), "plain")
    for _ in range(24):  # exact duplicate groups
        w = doc()
        add(w, "exact", n_groups)
        add(w, "exact", n_groups)
        if rng.random() < 0.5:
            add("  " + " ".join(w).upper().replace(" ", "   ") + " ", "exact", n_groups)
        n_groups += 1
    for _ in range(20):  # near-duplicate clusters
        w = doc(110, 150)
        add(w, "near", n_groups)
        pos = rng.sample(range(len(w)), 4)
        for p in pos[: rng.randrange(2, 5)]:
            v = list(w)
            v[p] = rng.choice([x for x in vocab if x != w[p]][:50])
            add(v, "near", n_groups)
        n_groups += 1
    for _ in range(16):  # contaminated by a benchmark span
        w, b = doc(), rng.choice(bench)
        at = rng.randrange(0, len(b) - 12)
        k = rng.randrange(0, len(w))
        add(w[:k] + b[at : at + 12] + w[k:], "contaminated")
    for _ in range(10):
        add(doc(2, 4), "short")
    for _ in range(6):
        add(" ".join(doc(5, 7)) + " " + "!?.;,-" * 120, "punct")
    for _ in range(12):
        w = doc()
        w.insert(rng.randrange(len(w)), f"{rng.choice(vocab)}@{rng.choice(vocab)}.org")
        w.insert(rng.randrange(len(w)), f"10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}")
        add(w, "pii")
    # doc ids: benchmark docs keep 0..19, every other doc a shuffled id
    rest = list(range(BENCH_IDS, len(texts)))
    rng.shuffle(rest)
    ids = list(range(BENCH_IDS)) + rest
    docs = [(ids[i], texts[i]) for i in range(len(texts))]
    labels = {"kind": kind, "group": group, "ids": ids}
    return docs, labels


def shard_of(doc_id: int, n_shards: int = N_SHARDS, seed: int = 0) -> int:
    """md5("<id>:<seed>")'s first 8 hex digits mod n_shards."""
    h = hashlib.md5(f"{doc_id}:{seed}".encode()).hexdigest()[:8]
    return int(h, 16) % n_shards


def corpus_truth(docs, labels) -> dict:
    """Survivors of quality filter -> exact dedup -> near-dup dedup
    (transitive, min id kept) -> decontamination, then their shards."""
    keep_min: dict[int, int] = {}
    for (did, _), g in zip(docs, labels["group"]):
        if g >= 0:
            keep_min[g] = min(keep_min.get(g, did), did)
    survivors = []
    for (did, text), k, g in zip(docs, labels["kind"], labels["group"]):
        if k in ("bench", "contaminated") or not passes_quality(text):
            continue
        if g >= 0 and keep_min[g] != did:
            continue
        survivors.append(did)
    shards: dict[int, list[int]] = {}
    for did in sorted(survivors):
        shards.setdefault(shard_of(did), []).append(did)
    return {
        "survivors": sorted(survivors),
        "n_shards": len(shards),
        "shards": {str(s): ids for s, ids in sorted(shards.items())},
    }


def write_corpus(seed: int, out_dir: str) -> dict:
    """``documents.parquet`` in the layout the flow's DocumentsTable
    source reads (``<sf_dir>/documents.parquet``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs, labels = corpus_docs(seed)
    sf_dir = os.path.join(out_dir, "docs")
    os.makedirs(sf_dir, exist_ok=True)
    table = pa.table(
        {
            "doc_id": pa.array([d for d, _ in docs], pa.int64()),
            "text": pa.array([t for _, t in docs], pa.string()),
            "lang": pa.array(["en"] * len(docs), pa.string()),
            "source": pa.array([f"src{d % 3}" for d, _ in docs], pa.string()),
            "n_chars": pa.array([len(t) for _, t in docs], pa.int64()),
        }
    )
    pq.write_table(table, os.path.join(sf_dir, "documents.parquet"))
    return {"sf_dir": sf_dir, "truth": corpus_truth(docs, labels)}


# -- search ------------------------------------------------------------------

SEARCH_CLUSTERS = 200
SEARCH_CLUSTER_SIZE = 30
SEARCH_DIM = 32
SEARCH_QUERIES = 200
TOPK = 10


def search_data(seed: int) -> tuple[np.ndarray, np.ndarray]:
    """float32 vectors ``(CLUSTERS * CLUSTER_SIZE, DIM)`` and queries
    ``(QUERIES, DIM)``: a mixture of tight, well-separated Gaussian
    clusters (the spread within a cluster is ~1/20 of the distance
    between centres), with each query next to a random vector. A query's
    true top-10 all sit in its own cluster, which the IVF coarse
    quantiser keeps within the cells it probes."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    centers = rng.normal(size=(SEARCH_CLUSTERS, SEARCH_DIM))
    assign = np.repeat(np.arange(SEARCH_CLUSTERS), SEARCH_CLUSTER_SIZE)
    rng.shuffle(assign)
    vecs = centers[assign] + 0.05 * rng.normal(size=(len(assign), SEARCH_DIM))
    anchors = rng.integers(0, len(vecs), SEARCH_QUERIES)
    queries = vecs[anchors] + 0.02 * rng.normal(size=(SEARCH_QUERIES, SEARCH_DIM))
    return vecs.astype(np.float32), queries.astype(np.float32)


def brute_topk(vecs: np.ndarray, queries: np.ndarray, k: int = TOPK) -> list[list[int]]:
    """Exact cosine top-k ids (ties to the lower id)."""
    v = vecs.astype(np.float64)
    q = queries.astype(np.float64)
    sims = (q @ v.T) / (np.linalg.norm(q, axis=1)[:, None] * np.linalg.norm(v, axis=1)[None, :])
    out = []
    for row in sims:
        order = np.lexsort((np.arange(len(row)), -row))
        out.append([int(i) for i in order[:k]])
    return out


def write_search(seed: int, out_dir: str) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs, queries = search_data(seed)
    vec_path = os.path.join(out_dir, "vectors.parquet")
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel(), pa.float32()), SEARCH_DIM)
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
            "embedding": emb.cast(pa.list_(pa.float32())),
        }
    )
    pq.write_table(table, vec_path, row_group_size=len(vecs) // 4)
    return {
        "vec_path": vec_path,
        "queries": queries.tolist(),
        # the exact 2k nearest: the first k score recall, and no returned
        # id may fall outside all 2k
        "truth": {"nearest": brute_topk(vecs, queries, 2 * TOPK)},
    }


WRITERS = {"mining": write_mining, "corpus": write_corpus, "search": write_search}


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write the inputs under ``out_dir``; return the spec (paths, query
    vectors, truth) that is handed to every session as JSON."""
    os.makedirs(out_dir, exist_ok=True)
    spec = WRITERS[workload](seed, out_dir)
    spec["workload"] = workload
    spec["seed"] = seed
    with open(os.path.join(out_dir, "spec.json"), "w") as f:
        json.dump(spec, f)
    return spec
