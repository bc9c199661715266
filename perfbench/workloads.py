"""The workloads.  Each one materialises its inputs, runs one cold checked
pass (its output is read back and compared with ``checks``) and its untimed
warm-up passes, and then repeats an identical timed pass.

* ``interleaved_tokens`` — fused ``extract_docs`` to a noop sink over the
  replicated base docs plus giant multi-page pdf docs: the html, pdf and
  token-OCR kernels, the salted exchange and the multi-partial reassembly
  work; PNG decode and table writes idle.
* ``resume_commit`` — ``run_resumable`` writes the replicated base docs into
  a fresh icelite table in ``BUCKETS`` buckets, is stopped after half of
  them (``fail_after``) and resumed to completion: the write path
  (per-bucket jobs, lineage collect, parquet write, reading the snapshot
  log) that the noop sink skips.
"""

from __future__ import annotations

import os
import time

import checks
import corpus

REPLICAS = 5
N_GIANTS = 2
GIANT_SPANS = 2000
BUCKETS = 2
FAIL_AFTER = BUCKETS // 2
# untimed passes after the cold checked pass: the first pass after it still
# runs 10-15% slow
WARMUPS = 1
MIN_PASSES = 3
ORACLE_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                            ".cache")


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    name = ""
    giants = 0
    probe_pixels = False

    def __init__(self, spark, work, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed
        self.sf_dir = work.sub("sf")
        self.documents = corpus.write_documents(self.sf_dir)
        self.docs = None
        self.n_docs = 0
        self._outputs = 0

    def materialise(self) -> None:
        """(Re)build the docs as a local checkpoint, which survives
        ``clearCache``."""
        docs = corpus.replicated_docs(self.spark, self.sf_dir, REPLICAS,
                                      self.seed)
        if self.giants:
            docs = docs.unionByName(corpus.giant_docs(
                self.spark, self.giants, GIANT_SPANS, self.seed))
        self.docs = docs.localCheckpoint()
        self.n_docs = self.docs.count()

    def plan(self):
        from apple_ocr_backend_spark.plans.pipeline import extract_docs
        return extract_docs(self.docs, mode="fused")

    def run_pass(self) -> None:
        noop(self.plan())

    def expected(self) -> checks.Expected:
        oracle = checks.oracle_spans(self.documents, ORACLE_CACHE)
        return checks.Expected(
            oracle, [corpus.replica_tag(self.seed, r)
                     for r in range(REPLICAS)],
            self.giants, GIANT_SPANS, self.seed)

    def checked_pass(self) -> tuple[float, callable]:
        """Run the pipeline once into parquet (the first, cold pass).
        Returns its seconds and a function that checks what it wrote."""
        self._outputs += 1
        out = os.path.join(self.work.path, f"extracted-{self._outputs}")
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        self.plan().write.parquet(out)
        dt = time.perf_counter() - t0

        def check() -> dict:
            counts, rows = checks.read_extracted([out])
            res = checks.check_docs(self.expected(), counts, rows)
            res["table_bytes"] = checks.parquet_bytes([out])
            return res
        return dt, check


class InterleavedTokens(Workload):
    name = "interleaved_tokens"
    giants = N_GIANTS
    # the traced run also probes the pixel path on the media its image
    # spans name (layers.media_probe)
    probe_pixels = True


class ResumeCommit(Workload):
    name = "resume_commit"

    def __init__(self, *a) -> None:
        super().__init__(*a)
        self.tables: list[str] = []

    def _table_dir(self) -> str:
        self._outputs += 1
        self.tables.append(os.path.join(self.work.path,
                                        f"table-{self._outputs}"))
        return self.tables[-1]

    def _resumable(self, table_dir: str, **kw) -> dict:
        from apple_ocr_backend_spark.plans.checkpoint import run_resumable
        return run_resumable(self.spark, self.docs, table_dir,
                             n_buckets=BUCKETS, **kw)

    def stop_and_resume(self, table_dir: str) -> tuple[set, dict]:
        try:
            self._resumable(table_dir, fail_after=FAIL_AFTER)
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        else:
            raise RuntimeError("run_resumable did not stop at fail_after")
        stopped = checks.committed_buckets(table_dir)
        return stopped, self._resumable(table_dir)

    def run_pass(self) -> None:
        stopped, resumed = self.stop_and_resume(self._table_dir())
        # cheap per-pass guard; the full read-back check is checked_pass's
        if len(stopped) != FAIL_AFTER or \
                len(resumed["processed"]) != BUCKETS - FAIL_AFTER:
            raise RuntimeError(f"resume processed {resumed['processed']} "
                               f"after committing {sorted(stopped)}")

    def checked_pass(self) -> tuple[float, callable]:
        table_dir = self._table_dir()
        self.spark.catalog.clearCache()
        t0 = time.perf_counter()
        stopped, resumed = self.stop_and_resume(table_dir)
        dt = time.perf_counter() - t0

        def check() -> dict:
            again = self._resumable(table_dir)
            dirs = checks.table_data_dirs(table_dir)
            counts, rows = checks.read_extracted(dirs)
            res = checks.check_docs(self.expected(), counts, rows)
            res["problems"] = checks.check_resume(
                BUCKETS, FAIL_AFTER, stopped, resumed, again) \
                + res["problems"]
            res["table_bytes"] = checks.parquet_bytes(dirs)
            return res
        return dt, check


WORKLOADS = {w.name: w for w in (InterleavedTokens, ResumeCommit)}
