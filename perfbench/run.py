#!/usr/bin/env python3
"""Extraction benchmark: one workload per run.

    python3 perfbench/run.py --workload interleaved_tokens --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root.  Set-up starts one Spark session sized to
this host (``harness.session_conf``), materialises the workload's inputs
``SETUP_REPEATS`` times, runs one cold checked pass (its output is read back
and compared with checks made apart from the program) and the workload's
untimed warm-up passes.  Then the timed loop repeats the workload's pass,
clearing Spark's cache before each, for ``--seconds`` seconds and at least
``workloads.MIN_PASSES`` passes.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics of a traced run, whose spans
are written to ``perfbench/.traces/``.  The line before it holds the raw
per-pass times, steal ticks and the check's findings.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import workloads  # noqa: E402

SETUP_REPEATS = 3


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


class Run:
    def __init__(self, args, work, tracer) -> None:
        self.args, self.work, self.tracer = args, work, tracer
        self.detail: dict = {"workload": args.workload, "seed": args.seed,
                             "slots": harness.slots(),
                             "heap_mb": harness.heap_mb()}

    def span(self, name):
        from contextlib import nullcontext
        return self.tracer.span(name) if self.tracer else nullcontext()

    def setup(self):
        t0 = time.perf_counter()
        with self.span("session.start"):
            self.spark = harness.start_spark(self.work)
        session_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[self.args.workload](
            self.spark, self.work, self.args.seed)
        mats = []
        for _ in range(SETUP_REPEATS):
            t1 = time.perf_counter()
            with self.span("derived.docs"):
                wl.materialise()
            mats.append(time.perf_counter() - t1)
        with self.span("checked_pass"):
            checked_s, check = wl.checked_pass()
        warmup_s = []
        for _ in range(workloads.WARMUPS):
            self.spark.catalog.clearCache()
            t1 = time.perf_counter()
            with self.span("warmup_pass"):
                wl.run_pass()
            warmup_s.append(time.perf_counter() - t1)
        self.setup_s = (session_s + statistics.median(mats) + checked_s
                        + sum(warmup_s))
        self.detail.update({
            "session_s": session_s, "materialise_s": mats,
            "checked_pass_s": checked_s, "warmup_pass_s": warmup_s,
            "n_docs": wl.n_docs})
        with self.span("check"):
            self.check = check()
        self.detail["check"] = self.check
        self.wl = wl

    def timed_loop(self, pass_fn) -> list[dict]:
        passes = []
        t_start = time.perf_counter()
        while (len(passes) < workloads.MIN_PASSES
               or time.perf_counter() - t_start < self.args.seconds):
            self.spark.catalog.clearCache()
            s0 = harness.steal_ticks()
            rec = pass_fn(len(passes))
            rec["steal_ticks"] = harness.steal_ticks() - s0
            passes.append(rec)
        return passes

    def _plain_pass(self, i: int) -> dict:
        t0 = time.perf_counter()
        self.wl.run_pass()
        return {"s": time.perf_counter() - t0}

    # -- end to end ---------------------------------------------------------
    def end_to_end(self) -> dict:
        with harness.RssPoller() as rss:
            passes = self.timed_loop(self._plain_pass)
        times = [p["s"] for p in passes]
        self.detail["passes"] = passes
        return {
            "docs_per_s": metric(self.wl.n_docs / statistics.median(times),
                                 "docs/s"),
            "setup_s": metric(self.setup_s, "s"),
            "worker_peak_rss_mb": metric(rss.worker_peak_mb, "MB"),
            "jvm_peak_rss_mb": metric(rss.jvm_peak_mb, "MB"),
            "table_bytes_per_doc": metric(
                self.check["table_bytes"] / self.wl.n_docs, "bytes/doc"),
        }

    # -- traced -------------------------------------------------------------
    def _traced_pass(self, i: int) -> dict:
        import tracing
        sc = self.spark.sparkContext
        group = f"pass-{i}"
        tables0 = len(getattr(self.wl, "tables", []))
        with self.tracer.span("pipeline.plan"):
            self.wl.plan()._jdf.queryExecution().executedPlan()
        sc.setJobGroup(group, group)
        try:
            with self.tracer.span("pass", index=i):
                t0 = time.perf_counter()
                self.wl.run_pass()
                dt = time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        with self.tracer.span("status_store"):
            stats = tracing.pass_stats(self.spark, group)
        return {"s": dt, "stats": stats,
                "tables": getattr(self.wl, "tables", [])[tables0:]}

    def traced(self) -> dict:
        import layers
        wl, tr = self.wl, self.tracer
        with layers.AppendTimer(tr) as appends:
            passes = self.timed_loop(self._traced_pass)
        self.detail["passes"] = passes
        med = lambda key: statistics.median(  # noqa: E731
            p["stats"][key] for p in passes)
        pass_s = statistics.median(p["s"] for p in passes)
        out = {
            "derived.docs_s": statistics.median(tr.durations("derived.docs")),
            "skew.exchange_write_mb": med("exchange_read_mb"),
            "skew.kernel_task_skew": med("kernel_task_skew"),
            "pipeline.plan_s": statistics.median(tr.durations(
                "pipeline.plan")),
            "pipeline.kernel_stage_s": med("kernel_stage_s"),
            "pipeline.reassemble_stage_s": med("reassemble_stage_s"),
            "pipeline.reassemble_shuffle_mb": med("reassemble_shuffle_mb"),
            "pipeline.python_init_s": med("python_init_s"),
            "pipeline.gc_s": med("gc_s"),
            "pipeline.jobs_per_pass": med("jobs"),
            # compare with the untraced run's docs_per_s for the overhead
            "trace.docs_per_s": wl.n_docs / pass_s,
            "trace.status_store_s": statistics.median(tr.durations(
                "status_store")),
        }
        out.update(layers.skew_probe(wl, tr))
        media = None
        out["derived.media_store_s"] = 0.0
        if wl.probe_pixels:
            media, out["derived.media_store_s"] = layers.media_probe(wl, tr)
        out.update(layers.kernel_probe(wl, tr, media))
        tables = [t for p in passes for t in p["tables"]]
        if tables:
            out.update(layers.table_probe(tables, appends.times, tr))
        else:
            out.update({k: 0.0 for k in layers.TABLE_METRICS})
        self.detail["probe_rows"] = out.pop("probe.rows")
        return {k: metric(v, UNITS[k]) for k, v in out.items()}


UNITS = {
    "derived.docs_s": "s", "derived.media_store_s": "s",
    "skew.exchange_s": "s", "skew.exchange_write_mb": "MB",
    "skew.salts": "salts/doc", "skew.kernel_task_skew": "ratio",
    "html_extract.rows_per_s": "rows/s", "pdf_extract.rows_per_s": "rows/s",
    "ocr_extract.rows_per_s": "rows/s",
    "ocr_extract.candidates_per_span": "count",
    "ocr_extract.passes_per_span": "count",
    "png_codec.decode_ms": "ms", "image_kernels.threshold_ms": "ms",
    "glyph_ocr.recognize_ms": "ms",
    "pipeline.plan_s": "s", "pipeline.kernel_stage_s": "s",
    "pipeline.reassemble_stage_s": "s",
    "pipeline.reassemble_shuffle_mb": "MB",
    "pipeline.python_init_s": "s", "pipeline.gc_s": "s",
    "pipeline.jobs_per_pass": "count",
    "checkpoint.bucket_s": "s", "checkpoint.lineage_rows": "count",
    "icelite.append_s": "s", "icelite.files_per_commit": "count",
    "icelite.committed_units_s": "s",
    "trace.docs_per_s": "docs/s", "trace.status_store_s": "s",
}


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(harness.ROOT,
                                      "apple_ocr_backend_spark")):
        print("perfbench: run from a checkout of the repository (the "
              "apple_ocr_backend_spark package is missing)", file=sys.stderr)
        return 2
    sys.path.insert(0, harness.ROOT)
    import tracing
    # a SIGTERM unwinds through the finally below, which stops the JVM and
    # its workers and waits for them
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    harness.become_subreaper()
    work = harness.WorkDir()
    tracer = tracing.Tracer() if args.trace else None
    run = Run(args, work, tracer)
    try:
        run.setup()
        metrics = run.traced() if args.trace else run.end_to_end()
    finally:
        try:
            harness.stop_spark(getattr(run, "spark", None))
        finally:
            work.close()
    check = run.check
    # a failed doc is counted in "failed"; "correct" speaks of the rest:
    # no unexpected docs, and resume skipped exactly the committed buckets
    correct = not check["problems"]
    if tracer is not None:
        out_dir = os.path.join(harness.BENCH_DIR, ".traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path, {"detail": run.detail, "metrics": metrics})
        run.detail["trace_file"] = os.path.relpath(path, harness.ROOT)
    print(json.dumps({"detail": run.detail}, default=str))
    print(json.dumps({"correct": correct, "attempted": check["attempted"],
                      "failed": check["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
