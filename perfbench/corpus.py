"""Seeded synthetic input for the benchmark: documents → staged web_pages.

The base documents mimic the frozen-vocabulary fixture corpus (the
``documents`` table: 8–96 words drawn from the 30 fixture words plus a rare
``dup``), but are generated here from the workload seed, so a run needs no
data outside the checkout. The page table is then derived by the shipped
``sources/web_pages.web_pages_from_documents`` (html wrap, replication,
paragraph expansion and, for the Zipf corpus, per-(word, url) hash salting).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

# the vocabulary of the frozen fixture corpus (and of the frozen query set)
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
RARE_WORD = "dup"
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]

# every page: a document replicated twice (distinct urls), its text expanded
# into 8 paragraphs whose words carry the paragraph suffix
REPLICATE = 2
EXPAND = 8

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def make_documents(seed: int, n_docs: int, first_doc_id: int = 0) -> pd.DataFrame:
    """``n_docs`` seeded rows of the documents table, ids from ``first_doc_id``."""
    rng = np.random.default_rng(seed)
    lengths = rng.integers(8, 97, size=n_docs)
    words = np.array(WORDS + [RARE_WORD])
    p = np.full(len(words), 0.999 / len(WORDS))
    p[-1] = 0.001
    texts = [" ".join(rng.choice(words, size=int(n), p=p)) for n in lengths]
    ids = np.arange(first_doc_id, first_doc_id + n_docs, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": [LANGS[i % len(LANGS)] for i in rng.integers(0, 1 << 30, size=n_docs)],
            "source": [f"src{i % 5}" for i in ids],
            "n_chars": [len(t) for t in texts],
        }
    )


def pages_frame(spark, docs: pd.DataFrame, buckets: int):
    """Derive web_pages from ``docs``; ``buckets`` > 0 salts every word."""
    from splade_spark.sources.web_pages import web_pages_from_documents

    return web_pages_from_documents(
        spark.createDataFrame(docs, DOC_SCHEMA),
        replicate=REPLICATE,
        expand_text=EXPAND,
        vocab_hash_buckets=buckets,
    )


def stage_pages(spark, docs: pd.DataFrame, buckets: int, path: str, n_files: int) -> None:
    """Write the derived page table to parquet as ``n_files`` files."""
    pages_frame(spark, docs, buckets).repartition(n_files).write.mode("overwrite").parquet(path)


def stage_micro_batches(spark, docs: pd.DataFrame, buckets: int, path: str,
                        n_batches: int) -> list[str]:
    """Stage appended pages as one parquet file per micro-batch.

    Batch i holds the pages of the i-th slice of ``docs`` (by doc id). Files
    get increasing modification times, so a file source with
    ``maxFilesPerTrigger=1`` turns each into one micro-batch, in order.
    """
    from pyspark.sql import functions as F

    first, n = int(docs["doc_id"].min()), len(docs)
    doc_id = F.regexp_extract("url", r"/doc/(\d+)", 1).cast("long")
    tmp = path + "_tmp"
    (
        pages_frame(spark, docs, buckets)
        .withColumn("_b", ((doc_id - F.lit(first)) * F.lit(n_batches) / F.lit(n)).cast("int"))
        .repartition(n_batches, "_b")
        .write.mode("overwrite").partitionBy("_b").parquet(tmp)
    )
    os.makedirs(path, exist_ok=True)
    files = []
    for i in range(n_batches):
        part = os.path.join(tmp, f"_b={i}")
        src = next(f for f in sorted(os.listdir(part)) if f.endswith(".parquet"))
        dst = os.path.join(path, f"part-{i:03d}.parquet")
        os.replace(os.path.join(part, src), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
        files.append(dst)
    return files
