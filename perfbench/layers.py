"""Per-layer probes for the traced run: each calls a layer's public
functions directly, in this process, on the workload's own inputs.

The pixel path (media store, PNG decode, threshold, glyph OCR) has no
workload of its own (see README); ``interleaved_tokens`` probes it on the
media its image spans name.  A layer that does no work on a workload reports
0 there: the pixel path off ``interleaved_tokens``, the table layers off
``resume_commit``.
"""

from __future__ import annotations

import glob
import os
import statistics
import time

import corpus

# kernel probes run on the exploded rows of the first PROBE_DOCS base docs
# (all their replicas) plus every giant doc
PROBE_DOCS = 300


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def skew_probe(wl, tracer) -> dict:
    """The salted exchange alone (explode_salted + repartition_salted to a
    noop sink) and how many salts the docs split into."""
    from apple_ocr_backend_spark.operators.skew import (explode_salted,
                                                        repartition_salted)
    from workloads import noop
    rows = explode_salted(wl.docs)
    noop(repartition_salted(rows))  # warm
    wl.spark.catalog.clearCache()
    with tracer.span("skew.exchange"):
        _, dt = _timed(noop, repartition_salted(explode_salted(wl.docs)))
    with tracer.span("skew.salts"):
        groups = rows.select("doc_id", "salt").distinct().count()
    return {"skew.exchange_s": dt, "skew.salts": groups / wl.n_docs}


def _probe_rows(wl, media=None):
    """The probe sample of the workload's exploded span rows, in pandas,
    with the media payloads joined when a media store is given."""
    from pyspark.sql import functions as F
    from apple_ocr_backend_spark.operators.skew import explode_salted
    base = F.substring_index("doc_id", "~", 1)
    keep = (base < F.lit(f"doc_{PROBE_DOCS:08d}")) | \
        F.col("doc_id").startswith(corpus.GIANT_PREFIX)
    rows = explode_salted(wl.docs).filter(keep)
    if media is not None:
        rows = rows.join(media, "media_ref", "left")
    pdf = rows.toPandas()
    return pdf.sort_values(["doc_id", "span_pos"], ignore_index=True)


def media_probe(wl, tracer, repeats: int = 3):
    """Materialise the media store ``repeats`` times (as a pixels set-up
    would); returns the last one and the median seconds."""
    from apple_ocr_backend_spark.sources.derived import media_from_documents
    times = []
    for _ in range(repeats):
        with tracer.span("derived.media_store"):
            media, dt = _timed(lambda: _materialise(
                media_from_documents(wl.spark, wl.sf_dir)))
        times.append(dt)
    return media, statistics.median(times)


def _materialise(df):
    df = df.localCheckpoint()
    df.count()
    return df


def _rate(kernel, sub, cfg) -> float:
    cols = ["doc_id", "span_pos", "offset", "media_ref", "text"]
    if sub.empty:
        return 0.0
    kernel(sub[cols].head(50), cfg)  # first-call costs (regex compile)
    _, dt = _timed(kernel, sub[cols], cfg)
    return len(sub) / dt


def _ocr_counts(img, cfg) -> tuple[float, float]:
    """Candidates and executed passes per image span, replaying the
    per-span early stop over the public per-pass kernels."""
    import numpy as np
    import pandas as pd
    from apple_ocr_backend_spark.operators.ocr_extract import (
        parse_tokens, pass_candidates, split_passes)
    passes = split_passes(img["text"].reset_index(drop=True))
    n_passes = passes.str.len().clip(upper=cfg.max_passes).to_numpy()
    active = np.ones(len(img), dtype=bool)
    n_cands = n_runs = 0
    for p in range(int(n_passes.max()) if len(img) else 0):
        rows = np.flatnonzero(active & (n_passes > p))
        if len(rows) == 0:
            break
        n_runs += len(rows)
        cands = pass_candidates(
            parse_tokens(pd.Series([passes.iloc[i][p] for i in rows])), cfg)
        n_cands += len(cands)
        if len(cands):
            best = cands.groupby("row")["conf"].max()
            done = best.index.to_numpy()[
                (best >= cfg.early_stop_confidence).to_numpy()]
            active[rows[done]] = False
    return n_cands / len(img), n_runs / len(img)


def kernel_probe(wl, tracer, media=None) -> dict:
    from apple_ocr_backend_spark.config import DEFAULT_CONFIG as cfg
    from apple_ocr_backend_spark.operators.html_extract import extract_html
    from apple_ocr_backend_spark.operators.ocr_extract import recover_ocr
    from apple_ocr_backend_spark.operators.pdf_extract import extract_pdf
    with tracer.span("probe.collect_rows"):
        rows = _probe_rows(wl, media)
    out = {}
    for layer, kind, kernel in (("html_extract", "html", extract_html),
                                ("pdf_extract", "pdf", extract_pdf)):
        with tracer.span(f"{layer}.probe"):
            out[f"{layer}.rows_per_s"] = _rate(
                kernel, rows[rows["kind"] == kind], cfg)
    img = rows[rows["kind"] == "image"]
    with tracer.span("ocr_extract.probe"):
        out["ocr_extract.rows_per_s"] = _rate(recover_ocr, img, cfg)
        (out["ocr_extract.candidates_per_span"],
         out["ocr_extract.passes_per_span"]) = _ocr_counts(img, cfg)
    if media is None:
        out.update({k: 0.0 for k in PIXEL_METRICS})
    else:
        with tracer.span("pixel_ocr.probe"):
            out.update(_pixel_probe(img["payload"]))
    out["probe.rows"] = len(rows)
    return out


def _pixel_probe(payloads) -> dict:
    """Per-image time of each step of the pixel path, as the pixels kernel
    chains them: PNG decode, adaptive threshold, glyph recognition."""
    from apple_ocr_backend_spark.functions import image_kernels as K
    from apple_ocr_backend_spark.functions.glyph_ocr import recognize_text
    from apple_ocr_backend_spark.functions.png_codec import decode_png_gray
    blobs = [bytes(p) for p in payloads if p is not None]
    for b in blobs[:5]:  # first-call costs
        recognize_text(K.adaptive_threshold(decode_png_gray(b)),
                       expect_chars=12)
    t_dec = t_thr = t_rec = 0.0
    for b in blobs:
        img, dt = _timed(decode_png_gray, b)
        t_dec += dt
        mask, dt = _timed(K.adaptive_threshold, img)
        t_thr += dt
        _, dt = _timed(lambda m: recognize_text(m, expect_chars=12), mask)
        t_rec += dt
    n = max(len(blobs), 1)
    return {"png_codec.decode_ms": 1000 * t_dec / n,
            "image_kernels.threshold_ms": 1000 * t_thr / n,
            "glyph_ocr.recognize_ms": 1000 * t_rec / n}


class AppendTimer:
    """Times every ``icelite.Table.append`` while installed (the per-bucket
    commit happens inside ``run_resumable``, out of the benchmark's reach
    otherwise)."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.times: list[float] = []

    def __enter__(self) -> "AppendTimer":
        from apple_ocr_backend_spark.sources import icelite
        self._orig = orig = icelite.Table.append
        timer = self

        def append(table, df, *a, **kw):
            with timer.tracer.span("icelite.append"):
                t0 = time.perf_counter()
                try:
                    return orig(table, df, *a, **kw)
                finally:
                    timer.times.append(time.perf_counter() - t0)
        icelite.Table.append = append
        return self

    def __exit__(self, *exc) -> None:
        from apple_ocr_backend_spark.sources import icelite
        icelite.Table.append = self._orig


def table_probe(table_dirs: list[str], append_times: list[float],
                tracer) -> dict:
    """Commit-level figures of the tables the traced passes wrote."""
    import checks
    from apple_ocr_backend_spark.sources.icelite import Table
    bucket_s, lineage, files = [], [], []
    for d in table_dirs:
        for s in checks.committed_snapshots(d):
            bucket_s.append(s["summary"]["wall_ms"] / 1000.0)
            lineage.append(len(s["lineage"]))
            files.extend(len(glob.glob(os.path.join(d, dd, "*.parquet")))
                         for dd in s["data_dirs"])
    reads = []
    for d in table_dirs:
        for _ in range(5):
            with tracer.span("icelite.committed_units"):
                _, dt = _timed(Table(d).committed_units, "bucket")
            reads.append(dt)
    return {"checkpoint.bucket_s": statistics.median(bucket_s),
            "checkpoint.lineage_rows": statistics.mean(lineage),
            "icelite.append_s": statistics.median(append_times),
            "icelite.files_per_commit": statistics.mean(files),
            "icelite.committed_units_s": statistics.median(reads)}


PIXEL_METRICS = ("png_codec.decode_ms", "image_kernels.threshold_ms",
                 "glyph_ocr.recognize_ms")
TABLE_METRICS = ("checkpoint.bucket_s", "checkpoint.lineage_rows",
                 "icelite.append_s", "icelite.files_per_commit",
                 "icelite.committed_units_s")
