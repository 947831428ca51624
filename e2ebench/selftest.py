"""Self-tests of the benchmark's own checks; needs no Spark.

    python3 e2ebench/selftest.py

- the truth the checks compare against accepts a correct output;
- one DFG edge count off, one planted duplicate kept and one wrong
  neighbour each make the job count as failed;
- one seed regenerates byte-identical inputs, and another seed does not;
- BENCHMARK.json names the workloads and metrics run.py prints.
"""

from __future__ import annotations

import copy
import filecmp
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import jobs  # noqa: E402
import run  # noqa: E402


def mining_output(truth: dict) -> dict:
    """What a correct mining job returns, built from the truth."""
    internal = [(a, b, n) for a, b, n in truth["edges"] if a != gen.START and b != gen.END]
    return {
        "n_raw": truth["n_raw_events"],
        "dfg": [tuple(e) for e in truth["edges"]],
        "n_variants": truth["n_variants"],
        "violations": ["time:chronology"] * truth["n_violations"],
        "heuristic": internal + [(b, a, 0) for a, b, _ in internal],
        "stream_dfg": internal,
        "transitions": sorted({a for a, _, _ in truth["edges"] if a != gen.START}),
        "fitness": {"n_traces": truth["n_traces"], "avg_fitness": 0.9, "frac_fitting": 0.5},
    }


def write_shards(path: str, shards: dict[str, list[int]]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    for shard, ids in shards.items():
        d = os.path.join(path, f"shard={shard}")
        os.makedirs(d)
        pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64())}),
                       os.path.join(d, "part-0.parquet"))


def test_mining(tmp: str) -> None:
    spec = gen.write_mining(1, tmp)
    m = jobs.Mining(None, spec, tmp, None)
    good = mining_output(spec["truth"])
    assert m.check(good) == [], m.check(good)
    assert spec["truth"]["n_violations"] > 0, "no chronology violation was planted"
    bad = copy.deepcopy(good)
    a, b, n = bad["dfg"][0]
    bad["dfg"][0] = (a, b, n + 1)
    assert any(e.startswith("dfg") for e in m.check(bad)), "edge count off by one passed"
    bad = copy.deepcopy(good)
    bad["stream_dfg"] = bad["stream_dfg"][1:]
    assert m.check(bad), "a streaming DFG missing an edge passed"


def test_corpus(tmp: str) -> None:
    spec = gen.write_corpus(1, tmp)
    c = jobs.Corpus(None, spec, tmp, None)
    truth = spec["truth"]
    assert truth["n_shards"] == gen.N_SHARDS
    ok = os.path.join(tmp, "ok")
    write_shards(ok, truth["shards"])
    assert c.check({"path": ok}) == [], c.check({"path": ok})
    docs, labels = gen.corpus_docs(1)
    dropped = [d for (d, _), g in zip(docs, labels["group"])
               if g >= 0 and d not in set(truth["survivors"])]
    assert dropped, "no duplicate was planted"
    kept = copy.deepcopy(truth["shards"])
    kept.setdefault(str(gen.shard_of(dropped[0])), []).append(dropped[0])
    bad = os.path.join(tmp, "dup_kept")
    write_shards(bad, kept)
    assert any(e.startswith("survivors") for e in c.check({"path": bad})), \
        "a kept planted duplicate passed"


def test_search(tmp: str) -> None:
    spec = gen.write_search(1, tmp)
    s = jobs.Search(None, spec, tmp, None)
    nearest = spec["truth"]["nearest"][3]
    right = nearest[: gen.TOPK]
    assert s.check({"q": 3, "ids": right}) == []
    assert s.recall({"q": 3, "ids": right}) == 1.0
    # an approximate answer: the 10th neighbour swapped for the 11th
    swapped = {"q": 3, "ids": right[:-1] + [nearest[gen.TOPK]]}
    assert s.check(swapped) == [] and s.recall(swapped) == 0.9
    wrong = next(i for i in range(len(nearest) + 1) if i not in nearest)
    bad = {"q": 3, "ids": right[:-1] + [wrong]}
    assert s.check(bad), "a wrong neighbour passed"


def test_same_seed_same_bytes(tmp: str) -> None:
    for w in run.WORKLOADS:
        a, b, c = (os.path.join(tmp, w, x) for x in ("a", "b", "c"))
        gen.generate(w, 7, a)
        gen.generate(w, 7, b)
        gen.generate(w, 8, c)
        # paths inside spec.json differ by directory, so compare the rest
        for d in (a, b, c):
            with open(os.path.join(d, "spec.json")) as f:
                spec = json.load(f)
            with open(os.path.join(d, "truth.json"), "w") as f:
                json.dump({k: v for k, v in spec.items() if not k.endswith(("_dir", "_path"))}, f)
            os.remove(os.path.join(d, "spec.json"))
        cmp = filecmp.dircmp(a, b)
        assert _identical(cmp), f"{w}: seed 7 gave different inputs twice"
        assert not _identical(filecmp.dircmp(a, c)), f"{w}: seeds 7 and 8 gave the same inputs"


def test_benchmark_json_names(tmp: str) -> None:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER


def _identical(cmp: filecmp.dircmp) -> bool:
    _, mismatch, errors = filecmp.cmpfiles(cmp.left, cmp.right, cmp.common_files, shallow=False)
    if mismatch or errors or cmp.left_only or cmp.right_only:
        return False
    return all(_identical(sub) for sub in cmp.subdirs.values())


def main() -> int:
    tests = [test_mining, test_corpus, test_search, test_same_seed_same_bytes,
             test_benchmark_json_names]
    failed = 0
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    for t in tests:
        tmp = tempfile.mkdtemp(dir=work)
        try:
            t(tmp)
            print(f"ok   {t.__name__}")
        except AssertionError as exc:
            failed += 1
            print(f"FAIL {t.__name__}: {exc}")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
