"""The three workloads.

Each workload object has:

- ``prepare()``: generate (or load cached) inputs and the expected
  outputs; untimed;
- ``unit(spark, i)``: one closed-loop unit of work on fresh output dirs,
  returning its wall time, batch latencies and output bytes;
- ``check(result)``: compare the unit's committed output with the
  plain-Python reference; raises ``CheckFailed``;
- ``probe(spark, tracer)``: the traced per-layer measurements.

Mapped functions used by the probes live at module level so Spark
workers can import them by name.
"""

from __future__ import annotations

import contextlib
import hashlib
import io
import json
import os
import random
import statistics
import time

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.common import isolate, out_dir


class CheckFailed(AssertionError):
    pass


def _require(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _parquet_files(path: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return sorted(out)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _parquet_files(path))


def span_checksum(spans) -> str:
    """Order-sensitive digest of (kind, text, media_ref, offset) spans."""
    h = hashlib.sha1()
    for s in sorted(spans, key=lambda s: s["offset"]):
        h.update(json.dumps([s["kind"], s["text"], s["media_ref"], s["offset"]]).encode())
    return h.hexdigest()


def _combined_by_doc(files: list[str]) -> tuple[dict, dict]:
    """Committed combined-frame parquet files -> (spans by doc, metrics
    row by doc), read with pyarrow so checks start no Spark job."""
    spans: dict[str, list] = {}
    metrics: dict[str, dict] = {}
    cols = ["doc_id", "kind", "text", "media_ref", "offset", "status"]
    for path in files:
        for row in pq.read_table(path, columns=cols).to_pylist():
            if row["kind"] == "_metrics":
                _require(row["doc_id"] not in metrics, f"doc {row['doc_id']} committed twice")
                metrics[row["doc_id"]] = row
            else:
                spans.setdefault(row["doc_id"], []).append(row)
    return spans, metrics


def _read_json(path: str):
    with open(path) as fh:
        return json.load(fh)


def _quiet(fn, *args, **kw):
    """Run ``fn`` with its stdout swallowed (job CLIs print reports)."""
    with contextlib.redirect_stdout(io.StringIO()):
        return fn(*args, **kw)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


# ---------------------------------------------------------------------------
# mapInArrow bodies for the extraction legs (module level: workers import them)
# ---------------------------------------------------------------------------
_COUNT_DDL = "n long"
_COUNT_SCHEMA = pa.schema([("n", pa.int64())])


def leg_handoff(batches):
    n = 0
    for batch in batches:
        n += batch.num_rows
    yield pa.RecordBatch.from_pydict({"n": [n]}, schema=_COUNT_SCHEMA)


def leg_decode(batches):
    from parserpdf_spark.operators.extract import _decode_docs

    n = 0
    for batch in batches:
        for _ in _decode_docs(batch):
            n += 1
    yield pa.RecordBatch.from_pydict({"n": [n]}, schema=_COUNT_SCHEMA)


def leg_kernel(batches):
    from parserpdf_spark.kernels.extract import extract_document_safe
    from parserpdf_spark.operators.extract import _decode_docs

    n = 0
    for batch in batches:
        for _, spans in _decode_docs(batch):
            n += len(extract_document_safe(spans)[0])
    yield pa.RecordBatch.from_pydict({"n": [n]}, schema=_COUNT_SCHEMA)


def extraction_legs(spark, src: str) -> list:
    """(name, fn) per cumulative extraction leg over the docs table at
    ``src``, each a noop-sink job: JVM scan; + Arrow handoff to Python;
    + span decode; + kernel; + output assembly (= ``extract_combined``)."""
    from parserpdf_spark.operators.extract import extract_combined

    df = spark.read.parquet(src)
    return [
        ("extract.scan_s", lambda: _noop(df)),
        ("extract.handoff_s", lambda: _noop(df.mapInArrow(leg_handoff, _COUNT_DDL))),
        ("extract.decode_s", lambda: _noop(df.mapInArrow(leg_decode, _COUNT_DDL))),
        ("extract.kernel_s", lambda: _noop(df.mapInArrow(leg_kernel, _COUNT_DDL))),
        ("extract.assembly_s", lambda: _noop(extract_combined(df))),
    ]


def timed_legs(legs, tracer, reps: int = 3) -> dict:
    """Median of ``reps`` warm timings per leg, each inside a span."""
    out = {}
    for name, fn in legs:
        fn()  # warm: codegen and the UDF's first pickling
        times = []
        for _ in range(reps):
            with tracer.span(name):
                times.append(_timed(fn))
        out[name] = _median(times)
    return out


# ---------------------------------------------------------------------------
# stored_docs
# ---------------------------------------------------------------------------
class StoredDocs:
    """A stored docs(doc_id, spans) table through ``jobs/extract_job.main``
    into a fresh output dir, one checkpointed job per unit."""

    name = "stored_docs"

    sample = 48  # docs whose spans are compared with the plain-Python kernel

    def __init__(self, seed: int, n_docs: int, chunks: int):
        self.seed, self.n_docs, self.chunks = seed, n_docs, chunks

    def prepare(self) -> dict:
        from parserpdf_spark.kernels.extract import extract_document_safe

        self.src, self.manifest = gen.stored_docs(self.seed, self.n_docs)
        self.in_bytes = self.manifest["bytes"]
        self.all_ids = {str(i) for i in range(self.n_docs)}
        rng = random.Random(f"stored_docs-sample:{self.seed}")
        ids = sorted(rng.sample(range(self.n_docs), min(self.sample, self.n_docs)))
        table = pq.read_table(self.src).to_pydict()
        by_id = dict(zip(table["doc_id"], table["spans"]))
        self.inputs = by_id
        self.expected = {
            str(i): span_checksum(extract_document_safe(by_id[str(i)])[0]) for i in ids
        }
        return self.manifest

    @property
    def units_done(self) -> int:
        return self.n_docs

    def unit(self, spark, i: int) -> dict:
        from parserpdf_spark.jobs import extract_job

        out = out_dir(f"stored_docs-{i}")
        wall0 = time.time_ns()
        t0 = time.perf_counter()
        _quiet(extract_job.main,
               ["--input", self.src, "--output", out, "--chunks", str(self.chunks)],
               spark=spark)
        dt = time.perf_counter() - t0
        # per-chunk commit latency: gaps between the manifests' write times
        mdir = os.path.join(out, "_manifest")
        commits = sorted(os.stat(os.path.join(mdir, n)).st_mtime_ns for n in os.listdir(mdir))
        edges = [wall0] + commits
        batches = [(b - a) / 1e6 for a, b in zip(edges, edges[1:])]
        return {"out": out, "seconds": dt, "batch_ms": batches,
                "out_bytes": _dir_bytes(os.path.join(out, "chunks"))}

    def check(self, res: dict) -> None:
        out = res["out"]
        mdir = os.path.join(out, "_manifest")
        manifests = [_read_json(os.path.join(mdir, n)) for n in os.listdir(mdir)]
        _require(sorted(m["chunk_id"] for m in manifests) == list(range(self.chunks)),
                 "not every chunk committed")
        _require(sum(m["n_docs"] for m in manifests) == self.n_docs,
                 "manifests do not cover every input doc")
        spans, metrics = _combined_by_doc(_parquet_files(os.path.join(out, "chunks")))
        _require(set(metrics) == self.all_ids, "committed docs differ from input docs")
        bad = [d for d, m in metrics.items() if m["status"] != "ok"]
        _require(not bad, f"{len(bad)} docs not ok, e.g. {bad[:3]}")
        res["spans_out"] = sum(len(v) for v in spans.values())
        _require(sum(m["n_spans"] for m in manifests) == res["spans_out"],
                 "manifest span counts differ from committed spans")
        for doc_id, want in self.expected.items():
            _require(span_checksum(spans.get(doc_id, [])) == want,
                     f"doc {doc_id}: spans differ from extract_document_safe")
        res["recall"] = len(metrics) / self.n_docs

    def probe(self, spark, tracer, best_unit_s: float) -> dict:
        from parserpdf_spark.kernels.extract import extract_document_safe

        m = timed_legs(extraction_legs(spark, self.src), tracer)
        m["checkpoint.write_s"] = max(best_unit_s - m["extract.assembly_s"], 0.0)

        # single-thread kernel cost per route, on this run's documents
        by_family = {"html": 0, "pdf_block": 1, "mixed": 2}
        rng = random.Random(f"kernel-probe:{self.seed}")
        for route, fam in by_family.items():
            docs = [self.inputs[str(i)] for i in range(fam, self.n_docs, 3)[:200]]
            with tracer.span(f"kernels.{route}", docs=len(docs)):
                t = _timed(lambda: [extract_document_safe(d) for d in docs])
            m[f"kernels.doc_us.{route}"] = t / len(docs) * 1e6
        md_docs = [[{"kind": "markdown", "media_ref": None, "offset": 0,
                     "text": _markdown_doc(rng)}] for _ in range(200)]
        with tracer.span("kernels.markdown", docs=len(md_docs)):
            t = _timed(lambda: [extract_document_safe(d) for d in md_docs])
        m["kernels.doc_us.markdown"] = t / len(md_docs) * 1e6
        m["checkpoint.chunks"] = self.chunks
        return m


def _markdown_doc(rng: random.Random) -> str:
    words = gen._text(rng).split(" ")
    paras = [" ".join(words[i : i + 12]) for i in range(3, len(words), 12)]
    return "\n\n".join([f"# {' '.join(words[:3])}"] + paras + ["- a\n- b"])


# ---------------------------------------------------------------------------
# file_drops
# ---------------------------------------------------------------------------
ROUTE_LABELS = ("pdf", "pdf_aes256", "docx", "doc", "html", "md", "rtf", "epub", "odt")
STATUSES = ("ok", "error", "encrypted", "needs_ocr", "needs_prechunk", "skipped")


def _route_label(source: str) -> str | None:
    if source == "doc_55.pdf":
        return "pdf_aes256"
    suffix = gen._suffix(source)
    label = {".htm": "html", ".markdown": "md"}.get(suffix, suffix.lstrip("."))
    return label if label in ROUTE_LABELS else None


class FileDrops:
    """Real files drained by ``streaming.ingest.run_incremental_file_ingestion``
    (availableNow, 16 files per trigger) into fresh output and checkpoint
    dirs, one drain per unit."""

    name = "file_drops"

    def __init__(self, seed: int, n_files: int):
        self.seed, self.n_files = seed, n_files

    def prepare(self) -> dict:
        self.drop, self.manifest = gen.file_drops(self.seed, self.n_files)
        self.n_files = self.manifest["n_files"]
        self.in_bytes = self.manifest["bytes"]
        ref = self.reference()
        self.expected = {}
        self.status_counts = dict.fromkeys(STATUSES, 0)
        for f in self.manifest["files"]:
            status, digest, _ = ref[f["source"]]
            self.status_counts[status] += 1
            if status == "ok":
                doc_id = f["name"].rpartition(".")[0] or f["name"]
                self.expected[doc_id] = digest
        return self.manifest

    def reference(self, fresh: bool = False) -> dict:
        """source file -> (ingest status, span checksum, route ms): the
        plain-Python route_file -> extract_document_safe result for every
        corpus file, run once per engine version (copies share bytes)."""
        from parserpdf_spark.kernels.extract import extract_document_safe
        from parserpdf_spark.sources.files import route_file

        path = os.path.join(gen.CACHE_DIR, f"file_reference-{gen.engine_digest()}.json")
        if os.path.exists(path) and not fresh:
            return _read_json(path)
        ref = {}
        for name in sorted(os.listdir(gen.CORPUS_DIR)):
            with open(os.path.join(gen.CORPUS_DIR, name), "rb") as fh:
                content = fh.read()
            t0 = time.perf_counter()
            row = route_file(os.path.join(self.drop, name), content)
            route_ms = (time.perf_counter() - t0) * 1000.0
            ok = row["ingest_status"] == "ok"
            spans = extract_document_safe(row["spans"])[0] if ok else None
            ref[name] = (row["ingest_status"], spans and span_checksum(spans), route_ms)
        gen.write_json_atomic(path, ref)
        return ref

    @property
    def units_done(self) -> int:
        return self.n_files

    def unit(self, spark, i: int) -> dict:
        from parserpdf_spark.streaming.ingest import run_incremental_file_ingestion

        out = out_dir(f"file_drops-{i}")
        ckpt = out_dir(f"file_drops-{i}-checkpoint")
        t0 = time.perf_counter()
        query = run_incremental_file_ingestion(spark, self.drop, out, ckpt)
        dt = time.perf_counter() - t0
        progress = [p for p in query.recentProgress if p.numInputRows > 0]
        return {"out": out, "seconds": dt, "query": query,
                "rows_in": sum(p.numInputRows for p in progress),
                "batch_ms": [float(p.durationMs["triggerExecution"]) for p in progress],
                "out_bytes": _dir_bytes(out)}

    def check(self, res: dict) -> None:
        _require(res["rows_in"] == self.n_files,
                 f"the stream read {res['rows_in']} files of {self.n_files}")
        spans, metrics = _combined_by_doc(_parquet_files(res["out"]))
        _require(set(metrics) == set(self.expected),
                 "extracted docs differ from the files route_file accepts")
        bad = [d for d, m in metrics.items() if m["status"] != "ok"]
        _require(not bad, f"{len(bad)} docs not ok, e.g. {bad[:3]}")
        for doc_id, want in self.expected.items():
            _require(span_checksum(spans.get(doc_id, [])) == want,
                     f"{doc_id}: spans differ from route_file -> extract_document_safe")
        res["recall"] = len(metrics) / len(self.expected)
        res["spans_out"] = sum(len(v) for v in spans.values())

    def probe(self, spark, tracer) -> dict:
        from parserpdf_spark.sources.scans import scan_files

        m = {}
        fn = lambda: scan_files(spark, self.drop, "*").select("path").count()  # noqa: E731
        fn()
        times = []
        for _ in range(3):
            with tracer.span("scans.list"):
                times.append(_timed(fn))
        m["scans.list_s"] = _median(times)
        route_ms: dict[str, list[float]] = {}
        for name, (status, _, ms) in self.reference(fresh=True).items():
            label = _route_label(name)
            if label and status == "ok":
                route_ms.setdefault(label, []).append(ms)
        for label in ROUTE_LABELS:
            m[f"files.route_ms.{label}"] = _median(route_ms.get(label, []))
        for status in STATUSES:
            m[f"files.status.{status}"] = self.status_counts[status]
        return m


# ---------------------------------------------------------------------------
# near_dups
# ---------------------------------------------------------------------------
# word 3-shingle sets per text, built once per run; each check joins the
# reported pairs against them
_DUCKDB_SHINGLES = """
CREATE TABLE s AS
WITH d AS (
    SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM read_parquet(?)
)
SELECT doc_id, list_distinct(list_transform(range(1, len(toks) - 1),
               i -> array_to_string(toks[i:i + 2], ' '))) AS sh
FROM d WHERE len(toks) >= 3
"""
_DUCKDB_JACCARD = """
SELECT p.doc_a, p.doc_b, p.jaccard AS reported,
       len(list_intersect(a.sh, b.sh)) /
       (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS exact
FROM pairs p JOIN s a ON a.doc_id = p.doc_a JOIN s b ON b.doc_id = p.doc_b
"""


def union_find_labels(pairs) -> dict:
    """doc -> smallest doc id of its connected component."""
    parent: dict = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


class NearDups:
    """Texts with planted near-duplicate clusters through
    ``minhash_lsh_pairs(threshold=0.8)``, then ``connected_components_star``
    over the persisted pairs; the cluster table is written as the commit."""

    name = "near_dups"
    threshold = gen.NEAR_DUP_THRESHOLD

    def __init__(self, seed: int, n_texts: int):
        self.seed, self.n_texts = seed, n_texts

    def prepare(self) -> dict:
        self.src, self.manifest, planted = gen.near_dups(self.seed, self.n_texts)
        self.planted = set(planted)
        self.in_bytes = self.manifest["bytes"]
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(_DUCKDB_SHINGLES, [_parquet_files(self.src)])
        return self.manifest

    @property
    def units_done(self) -> int:
        return self.n_texts

    def unit(self, spark, i: int) -> dict:
        from parserpdf_spark.operators.dedup import (
            connected_components_star,
            minhash_lsh_pairs,
        )

        out = out_dir(f"near_dups-{i}")
        docs = spark.read.parquet(self.src)
        t0 = time.perf_counter()
        pairs = minhash_lsh_pairs(docs, threshold=self.threshold).persist()
        rows = pairs.collect()
        connected_components_star(pairs).write.parquet(out)
        dt = time.perf_counter() - t0
        pairs.unpersist()
        return {"out": out, "seconds": dt, "batch_ms": [dt * 1000.0],
                "pairs": [(r["doc_a"], r["doc_b"], r["jaccard"]) for r in rows],
                "out_bytes": _dir_bytes(out)}

    def check(self, res: dict) -> None:
        import pandas as pd

        pairs = pd.DataFrame(res["pairs"], columns=["doc_a", "doc_b", "jaccard"])
        self.con.register("pairs", pairs)
        try:
            got = self.con.execute(_DUCKDB_JACCARD).fetchall()
        finally:
            self.con.unregister("pairs")
        _require(len(got) == len(pairs), "reported pairs reference unknown docs")
        for a, b, reported, exact in got:
            _require(a < b and round(exact, 6) >= self.threshold,
                     f"pair ({a}, {b}) has exact Jaccard {exact:.4f}")
            _require(abs(round(exact, 6) - reported) < 1e-9,
                     f"pair ({a}, {b}): reported {reported}, exact {exact:.6f}")
        labels = {r["doc_id"]: r["cluster_id"]
                  for r in pq.read_table(_parquet_files(res["out"])).to_pylist()}
        _require(labels == union_find_labels((a, b) for a, b, _ in res["pairs"]),
                 "clusters differ from union-find over the reported pairs")
        found = {(a, b) for a, b, _ in res["pairs"]}
        res["recall"] = len(found & self.planted) / len(self.planted)

    def probe(self, spark, tracer) -> dict:
        from parserpdf_spark.operators.dedup import (
            connected_components_star,
            lsh_candidate_pairs,
            minhash_lsh_pairs,
            minhash_signatures,
        )

        docs = spark.read.parquet(self.src)
        counts = {}

        def candidates():
            counts["candidates"] = lsh_candidate_pairs(minhash_signatures(docs)).count()

        def verify():
            counts["pairs"] = minhash_lsh_pairs(docs, threshold=self.threshold).count()
            isolate(spark)  # the candidate pairs it persists would serve the next rep

        m = timed_legs([
            ("dedup.signatures_s", lambda: _noop(minhash_signatures(docs))),
            ("dedup.candidates_s", candidates),
            ("dedup.verify_s", verify),
        ], tracer)
        pairs = minhash_lsh_pairs(docs, threshold=self.threshold).persist()
        pairs.count()
        stats: dict = {}
        times = []
        for _ in range(3):
            with tracer.span("dedup.cc"):
                times.append(_timed(lambda: connected_components_star(pairs, stats=stats).collect()))
        isolate(spark)
        m["dedup.cc_s"] = _median(times)
        m["dedup.candidates"] = counts["candidates"]
        m["dedup.pairs"] = counts["pairs"]
        m["dedup.verify_yield"] = counts["pairs"] / max(counts["candidates"], 1)
        m["dedup.cc_rounds"] = stats.get("cc_rounds", 0)
        m["dedup.cc_edges"] = stats.get("cc_edges", 0)
        m["dedup.cc_fast_path"] = int(stats.get("cc_rounds", 0) == 0)
        return m

