"""Seeded inputs for the benchmark workloads.

Every input is a pure function of ``--seed``, written under the run's own
work directory; the program under test only ever sees the generated files.

- clip tables: the public ``curator_spark.synth.clips.clip_row`` over the
  index range ``[clip_base(seed), clip_base(seed) + n)``, written as
  ``n_files`` parquet files (one row group each). Manifest mode assigns
  files to partition keys, so ``n_files >= n_partitions`` is what makes
  every key, and so every commit group, receive rows.
- documents: a synthetic ``documents.parquet`` (doc_id, text, lang,
  source, n_chars). Its parameters were read off the testdata
  ``documents`` tables (sf0.01: 500 rows, sf0.1: 5000 rows) with pandas:
  both use the same 31 distinct words, 10-100 words per text, languages
  en 41-44% and zh/es/fr/de 13-15% each, and 20 sources. Exact copies are
  planted far more often than there (one per 40 documents here, 8 in 5000
  at sf0.1), so the exact-duplicate paths of the operators have output on
  a small table. No near-duplicates are planted: the simhash and minhash
  candidates are the chance collisions of random texts.
"""

from __future__ import annotations

import os

CLIP_STRIDE = 1_000_000
# the testdata documents' vocabulary, language mix and source count
DOC_WORDS = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
DOC_LANGS = ("en", "zh", "es", "fr", "de")
DOC_LANG_P = (0.40, 0.15, 0.15, 0.15, 0.15)
DOC_SOURCES = 20
DOC_COPY_EVERY = 40  # one exact copy of an earlier document per 40 docs


def clip_base(seed: int) -> int:
    """First clip index of this seed's range (ids stay 12-digit)."""
    return (seed % 100_000) * CLIP_STRIDE


def write_clips(spark, seed: int, n: int, n_files: int, path: str) -> None:
    """``n`` clips from this seed's index range as ``n_files`` parquet
    files. Generated in Spark tasks so the Spark driver never holds the audio."""
    import pandas as pd

    from curator_spark.synth import clips

    def _rows(it):
        for pdf in it:
            yield pd.DataFrame([clips.clip_row(int(i)) for i in pdf["id"]])

    base = clip_base(seed)
    (
        spark.range(base, base + n, 1, n_files)
        .mapInPandas(_rows, schema=clips.CLIPS_SCHEMA)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_documents(seed: int, n: int, sf_dir: str) -> None:
    """``sf_dir/documents.parquet`` with ``n`` seeded documents."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(seed)
    words = np.array(DOC_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))])
        for _ in range(n)
    ]
    for i in range(DOC_COPY_EVERY, n, DOC_COPY_EVERY):
        texts[i] = texts[int(rng.integers(0, i))]
    pdf = pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(DOC_LANGS, size=n, p=DOC_LANG_P),
            "source": [f"src{i % DOC_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    os.makedirs(sf_dir, exist_ok=True)
    pdf.to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
