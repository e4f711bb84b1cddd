"""Benchmark entry point.

    python3 perfbench/run.py --workload stored_docs --seed 1 --seconds 14 --trace 0

Runs one workload closed-loop with a single client (one job or one
stream drain at a time) on a ``local[<cores>]`` session, checks every
unit's output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``) named in BENCHMARK.json.  The line before it records the
host, the input's size and mix, and a same-run pure-Python burn control.
See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common  # noqa: E402

# input sizes: one run (JVM start, cold unit, a warm-up unit, a 14 s
# measured loop and the checks) takes about a minute on a 4-core host
SIZES = {"stored_docs": 3000, "file_drops": 32, "near_dups": 4000}
STORED_DOCS_CHUNKS = 2
# a warm unit's typical time on that host: a run measures
# round(--seconds / this) units, so every run samples the same
# stretch of the JVM's warm-up curve whatever the host's speed
NOMINAL_UNIT_S = {"stored_docs": 3.5, "file_drops": 9.0, "near_dups": 3.5}
# warm units run (and checked) after the cold one but before the measured
# ones: the first warm unit is still 10-25% slower than the later ones
WARMUP_UNITS = 1

PER_LAYER = [
    "session.jvm_start_s", "session.first_python_task_s",
    "extract.scan_s", "extract.handoff_s", "extract.decode_s",
    "extract.kernel_s", "extract.assembly_s",
    "kernels.doc_us.html", "kernels.doc_us.pdf_block", "kernels.doc_us.mixed",
    "kernels.doc_us.markdown", "kernels.spans_out",
    "checkpoint.write_s", "checkpoint.chunks", "checkpoint.bytes_written",
    "scans.list_s",
    *(f"files.route_ms.{r}" for r in
      ("pdf", "pdf_aes256", "docx", "doc", "html", "md", "rtf", "epub", "odt")),
    *(f"files.status.{s}" for s in
      ("ok", "error", "encrypted", "needs_ocr", "needs_prechunk", "skipped")),
    "streaming.batches", "streaming.trigger_ms.p50", "streaming.trigger_ms.p90",
    "streaming.add_batch_ms.p50", "streaming.wal_commit_ms.p50",
    "streaming.latest_offset_ms.p50",
    "dedup.signatures_s", "dedup.candidates_s", "dedup.verify_s", "dedup.cc_s",
    "dedup.candidates", "dedup.pairs", "dedup.verify_yield", "dedup.cc_rounds",
    "dedup.cc_edges", "dedup.cc_fast_path",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.tasks_failed",
    "spark.leaked_persisted", "trace.overhead_docs_per_s",
]


def quantile(xs: list[float], q: float) -> float:
    """Linearly interpolated quantile (q in 0..1)."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo = int(pos)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (pos - lo)


def load_spec() -> dict:
    with open(os.path.join(common.REPO_ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def make_workload(name: str, seed: int, size: int | None = None):
    from perfbench.workloads import FileDrops, NearDups, StoredDocs

    size = size or SIZES[name]
    if name == "stored_docs":
        return StoredDocs(seed, size, STORED_DOCS_CHUNKS)
    if name == "file_drops":
        return FileDrops(seed, size)
    return NearDups(seed, size)


class StreamEvents:
    """Streaming progress events for the traced run, from a
    StreamingQueryListener."""

    def __init__(self, tracer):
        from pyspark.sql.streaming import StreamingQueryListener

        class Listener(StreamingQueryListener):
            def onQueryStarted(_, event):
                tracer.event("stream.started", query=str(event.id))

            def onQueryProgress(_, event):
                p = event.progress
                tracer.event("stream.progress", query=str(p.id), batch=p.batchId,
                             rows=p.numInputRows, duration_ms=dict(p.durationMs))

            def onQueryIdle(_, event):
                pass

            def onQueryTerminated(_, event):
                tracer.event("stream.terminated", query=str(event.id))

        self.listener = Listener()
        self.tracer = tracer

    def metrics(self, queries: set[str], timeout_s: float = 10.0) -> dict:
        """streaming.* over the non-empty micro-batches of ``queries``,
        once the listener has seen all of them terminate (events arrive
        asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline and not queries <= {
            e["query"] for e in self.tracer.events if e["name"] == "stream.terminated"
        }:
            time.sleep(0.05)
        d: dict[str, list[float]] = {}
        for e in self.tracer.events:
            if e["name"] == "stream.progress" and e["rows"] > 0 and e["query"] in queries:
                for k, v in e["duration_ms"].items():
                    d.setdefault(k, []).append(float(v))

        def p(key, q):
            return quantile(d[key], q / 100) if d.get(key) else 0.0

        return {
            "streaming.batches": len(d.get("triggerExecution", [])),
            "streaming.trigger_ms.p50": p("triggerExecution", 50),
            "streaming.trigger_ms.p90": p("triggerExecution", 90),
            "streaming.add_batch_ms.p50": p("addBatch", 50),
            "streaming.wal_commit_ms.p50": p("walCommit", 50),
            "streaming.latest_offset_ms.p50": p("latestOffset", 50),
        }


class Runner:
    """One run: the session, the attempted/failed counters and the tracer."""

    def __init__(self, args):
        self.args = args
        self.tracer = common.Tracer(run_id=f"{args.workload}-{args.seed}-{os.getpid()}",
                                    enabled=bool(args.trace))
        self.attempted = self.failed = 0
        self.check_s = 0.0
        self.errors: list[str] = []
        self.spark = None
        self.events = None

    def guarded(self, fn, *a):
        """Count one attempt; an exception marks it failed."""
        self.attempted += 1
        try:
            return fn(*a)
        except Exception:
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=4))
            return None

    def unit(self, wl, i, traced: bool = False):
        """One unit of ``wl`` on fresh dirs, isolated and checked; with
        ``traced``, under its own job group with Spark's work counted."""
        spark, group = self.spark, f"perfbench-{wl.name}-{i}"
        if traced:
            spark.sparkContext.setJobGroup(group, f"perfbench {wl.name} unit {i}")
        try:
            with self.tracer.span(f"{wl.name}.unit", unit=i, traced=traced):
                t0 = time.perf_counter()
                res = wl.unit(spark, i)
                res["window"] = (t0, time.perf_counter())
        finally:
            if traced:
                spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        query = res.pop("query", None)
        if query is not None:
            res["query_id"] = str(query.id)
        if traced:
            # micro-batch jobs run under the stream's own job group
            groups = [group] + ([str(query.runId)] if query is not None else [])
            works = [common.spark_work(spark, g) for g in groups]
            res["spark"] = {k: sum(w[k] for w in works) for k in works[0]}
        t1 = time.perf_counter()
        res["leaked"] = common.isolate(spark)
        wl.check(res)
        self.check_s += time.perf_counter() - t1
        return res

    def run(self) -> dict:
        args, tracer = self.args, self.tracer
        ticks0 = common.cpu_ticks()
        common.prepare_environment()
        wl = make_workload(args.workload, args.seed, args.size)
        t_gen = time.perf_counter()
        manifest = wl.prepare()
        gen_s = time.perf_counter() - t_gen
        per_layer: dict[str, float] = {}
        units: list[dict] = []
        traced_units: list[dict] = []

        with common.RssSampler() as rss:
            t0 = time.perf_counter()
            with tracer.span("session.start"):
                self.spark = common.start_spark()
            per_layer["session.jvm_start_s"] = time.perf_counter() - t0
            if args.trace:
                with tracer.span("session.first_python_task"):
                    t1 = time.perf_counter()
                    self.spark.sparkContext.parallelize([0], 1).map(lambda x: x).collect()
                    per_layer["session.first_python_task_s"] = time.perf_counter() - t1
                self.events = StreamEvents(tracer)
                self.spark.streams.addListener(self.events.listener)
            cold = self.guarded(self.unit, wl, 0)
            setup_s = time.perf_counter() - t0

            # the measured closed loop: warm units, one at a time, after the
            # warm-up ones.  A traced run has one untraced and one traced
            # unit, then probes layers.
            n_warmup = 0 if args.trace else WARMUP_UNITS
            n_units = 2 if args.trace else max(1, round(args.seconds / NOMINAL_UNIT_S[wl.name]))
            for i in range(1, n_warmup + n_units + 1):
                traced = bool(args.trace) and i % 2 == 0
                res = self.guarded(self.unit, wl, i, traced)
                if res is not None and i > n_warmup:
                    (traced_units if traced else units).append(res)
            if args.trace and units:
                found = self.guarded(self.probe, wl, units, traced_units)
                per_layer.update(found or {})
            t_stop = time.perf_counter()
            common.stop_spark(self.spark)
            stop_s = time.perf_counter() - t_stop

        metrics: dict[str, dict] = {}
        spec = load_spec()
        if args.trace:
            values = dict.fromkeys(PER_LAYER, 0.0)
            values.update(per_layer)
            for m in spec["per_layer"]:
                metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}
        elif units:
            batches = [b for u in units for b in u["batch_ms"]]
            values = {
                "setup_s": setup_s,
                "docs_per_s": statistics.median(wl.units_done / u["seconds"] for u in units),
                "batch_p50_ms": statistics.median(batches),
                "batch_p90_ms": quantile(batches, 0.9),
                "out_bytes_per_in_byte":
                    statistics.median(u["out_bytes"] for u in units) / wl.in_bytes,
                "recall": min(u["recall"] for u in units),
                "peak_rss_mb": statistics.median(rss.peak_mb(*u["window"]) for u in units),
            }
            for m in spec["end_to_end"]:
                metrics[m["name"]] = {"value": values[m["name"]], "unit": m["unit"]}

        info = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "host": common.host_record(ticks0),
            "input": {k: v for k, v in manifest.items() if k != "files"},
            "generate_s": gen_s, "units": len(units),
            "unit_seconds": [round(u["seconds"], 4) for u in units],
            "cold_unit_s": cold and cold["seconds"], "check_s": self.check_s,
            "stop_s": stop_s, "errors": self.errors,
        }
        if args.trace:
            path = os.path.join(common.WORK_DIR, f"trace-{args.workload}-{args.seed}.json")
            tracer.write(path, {"info": info, "per_layer": per_layer})
            info["trace_file"] = os.path.relpath(path, common.REPO_ROOT)
        print(json.dumps({"info": info}, default=str))
        return {"correct": self.failed == 0 and bool(metrics),
                "attempted": self.attempted, "failed": self.failed, "metrics": metrics}

    def probe(self, wl, units, traced_units) -> dict:
        """Per-layer numbers for the traced run."""
        spark, tracer = self.spark, self.tracer
        m: dict[str, float] = {}
        if wl.name == "stored_docs":
            m.update(wl.probe(spark, tracer, min(u["seconds"] for u in units)))
            m["kernels.spans_out"] = units[-1]["spans_out"]
            m["checkpoint.bytes_written"] = units[-1]["out_bytes"]
            # the file-ingestion layers ride along here: a cold and a warm
            # drain of the file_drops input, both checked
            files = make_workload("file_drops", self.args.seed)
            files.prepare()
            drains = [self.guarded(self.unit, files, f"probe{k}") for k in range(2)]
            m.update(files.probe(spark, tracer))
            if drains[1] is not None:
                m.update(self.events.metrics({drains[1]["query_id"]}))
        elif wl.name == "file_drops":
            m.update(wl.probe(spark, tracer))
            m.update(self.events.metrics({u["query_id"] for u in units + traced_units}))
        else:
            m.update(wl.probe(spark, tracer))
        if traced_units:
            for k, v in traced_units[-1]["spark"].items():
                m[f"spark.{k}"] = v
            traced_dps = statistics.median(wl.units_done / u["seconds"] for u in traced_units)
            untraced_dps = statistics.median(wl.units_done / u["seconds"] for u in units)
            m["trace.overhead_docs_per_s"] = untraced_dps - traced_dps
        m["spark.leaked_persisted"] = max(u["leaked"] for u in units + traced_units)
        return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", type=int, default=None,
                    help="override the workload's input size (smoke tests)")
    args = ap.parse_args(argv)
    missing = common.missing_sources()
    if missing:
        print(f"perfbench: engine sources not found next to perfbench/: {missing}",
              file=sys.stderr)
        return 2
    print(json.dumps(Runner(args).run()))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
