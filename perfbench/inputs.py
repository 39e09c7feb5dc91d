"""Seeded input tables for the benchmark workloads.

Every table is a pure function of ``seed`` and its size, written as
parquet; the program under test only ever sees the written tables.
Document tables are partitioned by their ``partition`` column in the
Hive layout (``partition=p000/``, one file per partition), the way an
Iceberg table is laid out.

The validation inputs come from the program's own fixture generators
(``generate_documents``, ``generate_media_catalog``,
``synthesize_codec_payloads``). The corpus for the training-data
operators is generated here in numpy, because those operators need
text in several languages and ``generate_documents`` has none.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_PARTITIONS = 16
N_MEDIA_REFS = 512  # generate_documents' media key space

# Content words shaped like the sf-tier ``documents`` test data.
WORDS = (
    "spark table scan merge join window batch stream filter column vector "
    "query order group hash sort line value key row data part agg slow fast "
    "big small customer index shard commit"
).split()
# Marker words per language (the vocabulary ``lang_guess`` scores), so the
# admission filter keeps some documents and rejects others by language.
MARKERS = {
    "en": ("the", "and", "is", "of", "a"),
    "es": ("el", "la", "que", "los", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "les", "des", "est", "et"),
    "zh": ("zhe", "shi", "de", "le", "ta"),
}


def texts(rng: np.random.Generator, n_docs: int, lo: int, hi: int, langs) -> list[str]:
    """``n_docs`` texts of ``lo``..``hi`` words; one word in six is a
    marker of the doc's language."""
    lengths = rng.integers(lo, hi + 1, n_docs)
    words = np.asarray(WORDS)[rng.integers(0, len(WORDS), lengths.sum())]
    table = np.asarray([MARKERS[lg] for lg in MARKERS])
    doc_lang = np.repeat(langs, lengths)
    pick = rng.random(len(words)) < 1 / 6
    markers = table[doc_lang, rng.integers(0, table.shape[1], len(words))]
    words = np.where(pick, markers, words)
    return [" ".join(w) for w in np.split(words, np.cumsum(lengths)[:-1])]


def flat_corpus(n_docs: int, seed: int, dup_share: float = 0.0) -> pa.Table:
    """(doc_id, text, source, lang, partition): 8–97 words per doc. The
    last ``dup_share`` of ids copy an earlier document's text with one
    word appended: planted near-duplicates for MinHash/LSH."""
    rng = np.random.default_rng([seed, 1])
    langs = rng.integers(0, len(MARKERS), n_docs)
    text = texts(rng, n_docs, 8, 97, langs)
    n_dup = int(n_docs * dup_share)
    for i in range(n_docs - n_dup, n_docs):
        text[i] = text[i - (n_docs - n_dup)] + " zebra"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": text,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "lang": [list(MARKERS)[i] for i in langs],
            "partition": [f"p{b:03d}" for b in rng.integers(0, N_PARTITIONS, n_docs)],
        }
    )


def write_corpus(table: pa.Table, path: str) -> dict:
    """Write ``table`` partitioned by ``partition``; return its layout."""
    pq.write_to_dataset(table, path, partition_cols=["partition"])
    return layout(path)


def write_dirty_documents(spark, n_docs: int, seed: int, hot_copies: int, path: str) -> dict:
    """``generate_documents`` (planted violations, ``_fixture_class``
    labels, doc ``"0"`` copied ``hot_copies`` more times) written one
    file per partition."""
    from zparse_spark.sources.datagen import generate_documents

    docs = generate_documents(
        spark, n_docs, seed, n_partitions=N_PARTITIONS,
        n_media_refs=N_MEDIA_REFS, hot_dup_copies=hot_copies,
    )
    docs.repartition("partition").write.partitionBy("partition").parquet(path)
    return layout(path)


def write_media_catalog(spark, seed: int, path: str) -> dict:
    """The media key space minus ~1% of keys (extra dangling refs)."""
    from zparse_spark.sources.datagen import generate_media_catalog

    cat = generate_media_catalog(spark, N_MEDIA_REFS, drop_fraction=0.01, seed=seed)
    cat.coalesce(1).write.parquet(path)
    return layout(path)


def write_media_payloads(spark, n: int, path: str) -> dict:
    """Real BMP / WAV / ZVID payloads for ``media_00000``.. in rotation."""
    from zparse_spark.multimodal import synthesize_codec_payloads

    synthesize_codec_payloads(spark, n).coalesce(1).write.parquet(path)
    return layout(path)


def layout(path: str) -> dict:
    files = [
        os.path.join(d, f)
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return {"files": len(files), "bytes": sum(os.path.getsize(f) for f in files)}
