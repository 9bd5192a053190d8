"""Seeded benchmark inputs, cached per seed under ``perfbench/.data``.

Two families, both pure functions of the seed:

* transcripts: seeded ``events`` rows pushed through the program's own
  ``datagen.generate_transcripts_pdf``, so the 13-branch syslog mix,
  the 1/13 malformed RFC5424 rows (dead letter) and the 30% hot
  conversation come from the same mapping the test fixtures use. The
  table is written as ``FILE_TURNS``-row part files: the spine reads the
  whole directory per pass, the traced run's stream lands them one file
  per epoch.
* corpus: a seeded word-salad documents table shaped like the sf
  ``documents`` table, written as ``DOC_COPIES`` per-copy-tagged copies
  (doc_id shifted, text suffixed) so dedup cannot collapse copies.

The repo's ``data/`` directory is never touched.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
DATA_DIR = os.path.join(BENCH_DIR, ".data")

TURNS = 100_000  # one spine pass
FILE_TURNS = 10_000  # one part file; one epoch of the traced stream
N_USERS = 2_000
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

DOC_BASE = 5_000  # documents per copy (the sf0.1 table size)
DOC_COPIES = 12
DOC_SPAN = 10_000_000  # doc_id offset per copy; above the gate variants
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def seed_dir(seed: int) -> str:
    return os.path.join(DATA_DIR, f"seed{seed}")


def _publish(tmp: str, final: str) -> str:
    shutil.rmtree(final, ignore_errors=True)
    os.replace(tmp, final)
    return final


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def events(seed: int, n: int) -> pd.DataFrame:
    """The ``events`` table shape datagen expects. event_id is dense, so
    ``event_id % 13`` (syslog branch) and ``% 10`` (hot conversation)
    give exact mixes; everything else is drawn from the seed."""
    rng = np.random.default_rng(seed)
    offs = np.sort(rng.integers(0, 30 * 86_400 * 10**6, n))
    return pd.DataFrame(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(offs, unit="us"),
            "user_id": rng.integers(0, N_USERS, n, dtype=np.int64),
            "event_type": np.asarray(EVENT_TYPES)[rng.integers(0, 5, n)],
            "value": np.round(rng.gamma(2.0, 30.0, n), 2),
        }
    )


def transcripts(seed: int, turns: int | None = None) -> str:
    """Directory of ``turns // FILE_TURNS`` parquet files (file i holds
    rows [i*FILE_TURNS, (i+1)*FILE_TURNS) of the generated table);
    ``turns`` defaults to ``TURNS``."""
    from skewer_spark.datagen import generate_transcripts_pdf

    turns = turns or TURNS
    final = os.path.join(seed_dir(seed), f"transcripts_{turns}")
    if os.path.isdir(final):
        return final
    tr = generate_transcripts_pdf(events(seed, turns))
    table = pa.Table.from_pandas(tr, preserve_index=False)
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table.column("ts").cast(pa.timestamp("us")))
    tmp = _fresh(final + ".tmp")
    for k, start in enumerate(range(0, table.num_rows, FILE_TURNS)):
        pq.write_table(
            table.slice(start, FILE_TURNS),
            os.path.join(tmp, f"part-{k:05d}.parquet"),
            compression="snappy",
        )
    return _publish(tmp, final)


def transcript_files(path: str) -> list[str]:
    return sorted(
        os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")
    )


def corpus_base(seed: int, n: int = DOC_BASE) -> pd.DataFrame:
    """One copy of the documents table: 10-100 words from a 31-word
    vocabulary (so the quality rules keep some docs and drop others),
    1 in 20 docs carrying a trailing 'dup' token like the sf table."""
    rng = np.random.default_rng(seed + 1_000_003)
    nw = rng.integers(10, 101, n)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(nw.sum()))]
    ends = np.cumsum(nw)
    text = [" ".join(words[e - k : e]) for e, k in zip(ends, nw)]
    doc_id = np.arange(n, dtype=np.int64)
    text = [t + " dup" if i % 20 == 11 else t for i, t in zip(doc_id, text)]
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": text,
            "lang": np.asarray(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in doc_id],
        }
    )


def corpus(seed: int, copies: int | None = None) -> str:
    """An sf-style directory holding ``documents.parquet/`` (one part
    file per copy) — the ``sf_dir`` argument curate_pack takes;
    ``copies`` defaults to ``DOC_COPIES``."""
    copies = copies or DOC_COPIES
    final = os.path.join(seed_dir(seed), f"corpus_x{copies}")
    if os.path.isdir(final):
        return final
    base = corpus_base(seed)
    tmp = _fresh(final + ".tmp")
    docs = os.path.join(tmp, "documents.parquet")
    os.makedirs(docs)
    for i in range(copies):
        c = base.copy()
        c["doc_id"] = c["doc_id"] + i * DOC_SPAN
        c["text"] = c["text"] + f" s{seed}r{i}"
        c["n_chars"] = c["text"].str.len().astype("int64")
        pq.write_table(
            pa.Table.from_pandas(c, preserve_index=False),
            os.path.join(docs, f"part-{i:05d}.parquet"),
            compression="snappy",
        )
    return _publish(tmp, final)
