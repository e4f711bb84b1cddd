"""The benchmark's own tests.

    python3 -m pytest perfbench/tests -q

They start Spark (one session here, plus one per smoke run), so they
take a few minutes; the engine's test suite does not collect them.
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import sys

import pytest

from perfbench import common, gen

RUN = os.path.join(common.PERFBENCH_DIR, "run.py")
TINY = {"stored_docs": 300, "file_drops": 16, "near_dups": 600}


def _spec() -> dict:
    with open(os.path.join(common.REPO_ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", str(TINY[workload])],
        cwd=common.REPO_ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(TINY))
def test_smoke_untraced(workload):
    result = _run(workload, trace=0)
    assert result["correct"], result
    assert result["failed"] == 0 and result["attempted"] >= 2
    names = [m["name"] for m in _spec()["end_to_end"]]
    assert list(result["metrics"]) == names
    assert all(v["value"] > 0 for v in result["metrics"].values()), result


@pytest.mark.parametrize("workload", sorted(TINY))
def test_smoke_traced(workload):
    result = _run(workload, trace=1)
    assert result["correct"], result
    assert list(result["metrics"]) == [m["name"] for m in _spec()["per_layer"]]
    prefix = {"stored_docs": "extract.", "file_drops": "streaming.",
              "near_dups": "dedup."}[workload]
    ours = {k: v["value"] for k, v in result["metrics"].items() if k.startswith(prefix)}
    assert ours and all(v > 0 for k, v in ours.items() if k != "dedup.cc_rounds"), ours
    assert result["metrics"]["spark.tasks"]["value"] > 0


def _tree_digest(root) -> dict[str, str]:
    """relative path -> sha1 of every file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = hashlib.sha1(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("workload", sorted(TINY))
def test_same_seed_gives_byte_identical_inputs(workload, tmp_path, monkeypatch):
    build = {"stored_docs": gen.stored_docs, "file_drops": gen.file_drops,
             "near_dups": gen.near_dups}[workload]
    digests = {}
    for side, seed in (("a", 3), ("b", 3), ("c", 4)):
        monkeypatch.setattr(gen, "CACHE_DIR", str(tmp_path / side))
        build(seed, TINY[workload])
        (entry,) = os.listdir(tmp_path / side)
        digests[side] = _tree_digest(tmp_path / side / entry)
    manifest = "manifest.json"
    assert digests["a"] == digests["b"]
    # another seed gives other inputs (the manifest records the seed itself)
    assert {k: v for k, v in digests["a"].items() if k != manifest} != \
        {k: v for k, v in digests["c"].items() if k != manifest}


def test_file_drop_stems_are_unique(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CACHE_DIR", str(tmp_path))
    drop, manifest = gen.file_drops(5, 64)
    stems = [n.rpartition(".")[0] or n for n in os.listdir(drop)]
    assert len(stems) == len(set(stems)) == 64
    assert sum(1 for f in manifest["files"] if f["source"] == "doc_55.pdf") == 1


def test_planted_pairs_are_true_near_duplicates(tmp_path, monkeypatch):
    import pyarrow.parquet as pq

    monkeypatch.setattr(gen, "CACHE_DIR", str(tmp_path))
    src, manifest, planted = gen.near_dups(2, 1000)
    rows = pq.read_table(src).to_pydict()
    text = dict(zip(rows["doc_id"], rows["text"]))
    assert planted and manifest["largest_cluster"] >= 8
    for a, b in planted:
        assert a < b
        assert gen.jaccard(gen.shingles(text[a]), gen.shingles(text[b])) >= 0.8


@pytest.fixture(scope="module")
def spark():
    common.prepare_environment()
    session = common.start_spark()
    yield session
    common.stop_spark(session)


def test_stored_docs_legs_sum_to_untraced_noop(spark):
    """The traced legs' self times add up to within 10% of the untraced
    noop extraction of the same table."""
    from parserpdf_spark.operators.extract import extract_combined
    from perfbench.workloads import _noop, _timed, extraction_legs, timed_legs

    src, _ = gen.stored_docs(1, 3000)
    tracer = common.Tracer("legs", enabled=True)
    legs = timed_legs(extraction_legs(spark, src), tracer)
    order = list(legs)
    self_s = [legs[order[0]]] + [legs[b] - legs[a] for a, b in zip(order, order[1:])]
    df = spark.read.parquet(src)
    _noop(extract_combined(df))
    untraced = statistics.median(_timed(lambda: _noop(extract_combined(df))) for _ in range(3))
    assert abs(sum(self_s) - untraced) <= 0.10 * untraced, (legs, untraced)
    assert common.isolate(spark) == 0
