"""Benchmark inputs.

* ``write_documents`` writes the base ``documents(doc_id, text)`` table with
  the shape of the repository's sf0.01 test table: 500 docs of 10-100 words
  drawn from a 30-word vocabulary.  It uses a fixed RNG, so the base corpus
  is the same on every seed.
* ``replicated_docs`` derives the interleaved (html, pdf, image) corpus from
  it with ``sources.derived.docs_from_documents`` and copies it ``replicas``
  times under seed-dependent doc ids ``<base>~<tag>``.
* ``giant_docs`` builds multi-page pdf docs JVM-side (as ``bench.giant_docs``
  does), one record per span, with seed-dependent line text.
"""

from __future__ import annotations

import os

import numpy as np

BASE_DOCS = 500
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
CORPUS_RNG_SEED = 20260
GIANT_PREFIX = "doc_giant_"


def write_documents(path: str, n_docs: int = BASE_DOCS) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = np.random.default_rng(CORPUS_RNG_SEED)
    lens = rng.integers(10, 101, size=n_docs)
    words = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), size=n)])
             for n in lens]
    out = os.path.join(path, "documents.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(np.arange(n_docs),
                                                pa.int64()),
                             "text": pa.array(texts, pa.string())}), out)
    return out


def replica_prefix(seed: int) -> str:
    return f"s{seed:x}r"


def replica_tag(seed: int, rep: int) -> str:
    """Seed-dependent replica suffix; the part before '~' is the base id."""
    return f"{replica_prefix(seed)}{rep}"


def base_doc_id(doc_id: str) -> str:
    return doc_id.split("~", 1)[0]


def replicated_docs(spark, sf_dir: str, replicas: int, seed: int):
    from pyspark.sql import functions as F
    from apple_ocr_backend_spark.sources.derived import docs_from_documents
    docs = docs_from_documents(
        spark, sf_dir, num_partitions=2 * spark.sparkContext.defaultParallelism)
    tags = spark.range(replicas).select(
        F.concat(F.lit(replica_prefix(seed)), F.col("id")).alias("tag"))
    return (docs.crossJoin(tags)
            .select(F.concat_ws("~", "doc_id", "tag").alias("doc_id"),
                    "spans"))


def giant_line(i: int, seed: int) -> str:
    """Closed form of span ``i``'s line text in every giant doc."""
    return f"page {i // 50} line {i} k{(i * 7919 + seed) % 1000}"


def giant_docs(spark, n_giants: int, spans_each: int, seed: int):
    """``n_giants`` docs of ``spans_each`` single-line pdf spans; line ``i``
    sits at y = (i % 50) * 12 + 40 with text ``giant_line(i, seed)``."""
    from pyspark.sql import functions as F
    span = lambda i: F.struct(  # noqa: E731
        F.lit("pdf").alias("kind"),
        F.concat(F.lit("72,"), ((i % 50) * 12 + 40).cast("string"),
                 F.lit(",10|page "), F.floor(i / 50).cast("string"),
                 F.lit(" line "), i.cast("string"), F.lit(" k"),
                 F.pmod(i.cast("long") * 7919 + seed, F.lit(1000)).cast("string"))
        .alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        i.cast("int").alias("offset"))
    return (spark.range(n_giants)
            .select(F.concat(F.lit(GIANT_PREFIX), F.col("id"),
                             F.lit(f"~s{seed:x}")).alias("doc_id"),
                    F.transform(F.sequence(F.lit(0), F.lit(spans_each - 1)),
                                span).alias("spans")))

