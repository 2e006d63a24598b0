"""Seeded benchmark inputs, written as parquet with numpy + pyarrow
(no Spark), so they exist before the Spark session starts.

Both tables follow the shapes the program's own generators produce:

* ``spans_table``  -- the ``datagen.documents_spans`` shape
  (doc_id, spans array<struct<kind,text,media_ref,offset>>, part_key)
  with the same injection rates: ~0.1 % duplicate doc_ids plus a hot
  doc_id, ~1/211 invalid kinds, ~1/223 text/media_ref mutex breaks,
  ~1/97 offset regressions, media refs over 520 ids of which 500 are
  valid, and part_key 0 for half the docs, else one of the odd keys.
* ``prep_corpus`` -- the ``bench._prep_docs_path`` shape
  (doc_id, text, lang): 30-80 words from a 1000-word pool, ~2 % exact
  copies of the previous doc, ~1 % near copies (previous doc plus one
  extra word), lang 50/30/10/10 over en/de/fr/zh.

Where the program's generators place violations and duplicates by
formula, these place them by a numpy RNG seeded from ``--seed``: the
same seed gives byte-identical tables.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT_DOC_ID = "doc-00000042"
N_FILES = 8
SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])


def _write_files(table: pa.Table, path: str) -> None:
    """Write ``table`` as N_FILES parquet files under ``path``
    (atomically: a half-written directory never looks complete)."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    step = -(-table.num_rows // N_FILES)
    for i in range(N_FILES):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(tmp, f"part-{i:05d}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def spans_table(seed: int, n_docs: int, path: str) -> None:
    rng = np.random.default_rng([seed, 1])
    r = np.arange(n_docs)
    ids = np.array([f"doc-{i:08d}" for i in range(n_docs)], dtype=object)
    dup = (rng.random(n_docs) < 1 / 997) & (r > 0)
    ids[dup] = ids[np.nonzero(dup)[0] - 1]
    ids[rng.random(n_docs) < 1 / 499] = HOT_DOC_ID
    odd_keys = np.arange(1, 16, 2)
    part_key = np.where(rng.random(n_docs) < 0.5, 0,
                        odd_keys[rng.integers(0, len(odd_keys), n_docs)])

    n_spans = rng.integers(1, 13, n_docs)
    total = int(n_spans.sum())
    starts = np.cumsum(n_spans) - n_spans
    pos = np.arange(total) - np.repeat(starts, n_spans)
    media = rng.random(total) < 1 / 7
    bad_kind = rng.random(total) < 1 / 211
    mutex_bad = rng.random(total) < 1 / 223
    mono_bad = (rng.random(total) < 1 / 97) & (pos > 0)
    kind = np.array(["text", "media", "tezt"], dtype=object)[
        np.where(bad_kind, 2, np.where(media, 1, 0))]
    toks = np.array([f"tok-{i:04d}" for i in range(997)], dtype=object)
    refs = np.array([f"media-{i:05d}" for i in range(520)], dtype=object)
    # a text span carries text, a media span a media_ref; a mutex break
    # sets both
    text = pa.array(toks[rng.integers(0, 997, total)], pa.string(),
                    mask=media & ~mutex_bad)
    media_ref = pa.array(refs[rng.integers(0, 520, total)], pa.string(),
                         mask=~media & ~mutex_bad)
    jitter = np.repeat(rng.integers(0, 5, n_docs), n_spans)
    offset = (pos * 8 + jitter - 9 * mono_bad).astype(np.int32)
    spans = pa.StructArray.from_arrays(
        [pa.array(kind, pa.string()), text, media_ref, pa.array(offset)],
        fields=list(SPAN_TYPE),
    )
    offsets = pa.array(np.concatenate([[0], np.cumsum(n_spans)]).astype(np.int32))
    table = pa.table({
        "doc_id": pa.array(ids, pa.string()),
        "spans": pa.ListArray.from_arrays(offsets, spans),
        "part_key": pa.array(part_key.astype(np.int32)),
    })
    _write_files(table, path)


def prep_corpus(seed: int, n_docs: int, path: str) -> None:
    rng = np.random.default_rng([seed, 2])
    pool = np.array([f"w{i}" for i in range(1000)], dtype=object)
    n_words = rng.integers(30, 81, n_docs)
    words = pool[rng.integers(0, 1000, int(n_words.sum()))]
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    u = rng.random(n_docs)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and u[i] < 0.02:
            texts.append(texts[i - 1])
        elif i > 0 and u[i] < 0.03:
            texts.append(texts[i - 1] + " extradupword")
        else:
            texts.append(" ".join(words[bounds[i]:bounds[i + 1]]))
    langs = np.array(["en"] * 5 + ["de"] * 3 + ["fr", "zh"], dtype=object)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs[rng.integers(0, 10, n_docs)], pa.string()),
    })
    _write_files(table, path)
