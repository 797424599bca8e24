"""Seeded input generator of the registry_queries workload.

Every table has the schema of the registry's test tables (`events`,
`documents`, `embeddings`), so the registered queries and their DuckDB
oracles run on it unchanged. The same seed always writes the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "error", "purchase", "signup"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
TS0_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
MONTH_US = 30 * 86400 * 1_000_000


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def events(rng, n, users):
    """The change-source table: ids 0..n-1, a month of µs timestamps."""
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(TS0_US + rng.integers(0, MONTH_US, n),
                       type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in rng.integers(0, 5, n)]),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n), 2)),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, n)]),
    })


def documents(rng, n, exact_share, near_share):
    """A corpus with seeded duplicate families: `exact_share` of the docs
    copy an earlier doc verbatim, `near_share` copy one with 1-3 words
    replaced; the rest are fresh 10-100 word texts."""
    texts = []
    kind = rng.random(n)
    for i in range(n):
        if i > 0 and kind[i] < exact_share:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 0 and kind[i] < exact_share + near_share:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[j] for j in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array(["src%d" % j for j in rng.integers(0, 20, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64, labels=10):
    """Unit vectors scattered around `labels` seeded centres."""
    centres = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n).astype(np.int32)
    v = centres[label] + rng.normal(scale=1.5, size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def write_inputs(seed, out_dir, scale):
    """Write the tables registry_queries reads into `out_dir`; returns the
    row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {
        "events": events(rng, scale["events"], scale["users"]),
        "documents": documents(rng, scale["docs"], scale["exact_share"],
                               scale["near_share"]),
        "embeddings": embeddings(rng, scale["vectors"]),
    }
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, name + ".parquet"))
    return {name: t.num_rows for name, t in tables.items()}
