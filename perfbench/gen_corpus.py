"""Seeded generator for the `corpus` workload, in the engine's sf layout
(one parquet file per table): `documents` and `events`.

documents: DOCS rows; text is 10-100 words drawn from a Zipf-weighted
vocabulary of VOCAB words (the sf tables' 30 words first, then
synthetic ones); lang and source (src0..src19) spread as in the sf
tables. Planted duplicates, each of a distinct original and with its
source and language: EXACT_SHARE of the documents copy an original's
text exactly, and NEAR_SHARE copy it with one word replaced. Every
planted pair is listed in `truth.json`.

events: EVENTS rows over 30 days, 5 event types, for the streaming path.

    python3 gen_corpus.py OUT_DIR SEED
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DOCS = 4000
VOCAB = 2000
EXACT_SHARE = 0.02
NEAR_SHARE = 0.03
EVENTS = 20000
BASE_WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
              "value", "data", "small", "join", "filter", "big", "group", "hash",
              "customer", "sort", "order", "slow", "fast", "line", "part", "row",
              "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def vocabulary():
    return BASE_WORDS + [f"tok{i:04d}" for i in range(VOCAB - len(BASE_WORDS))]


def write(table, path):
    pq.write_table(table, path, compression="snappy")


def documents(rng, out):
    vocab = np.array(vocabulary())
    weights = 1.0 / np.arange(1, VOCAB + 1)
    weights /= weights.sum()
    lengths = rng.integers(10, 101, size=DOCS)
    words = vocab[rng.choice(VOCAB, size=int(lengths.sum()), p=weights)].tolist()
    ends = np.cumsum(lengths).tolist()
    texts = [" ".join(words[e - n:e]) for e, n in zip(ends, lengths.tolist())]
    langs = np.array(LANGS)[rng.choice(len(LANGS), size=DOCS, p=LANG_P)].tolist()
    sources = [f"src{i % 20}" for i in range(DOCS)]
    n_exact, n_near = int(DOCS * EXACT_SHARE), int(DOCS * NEAR_SHARE)
    # distinct originals in the first half, copies in the second half
    originals = rng.choice(DOCS // 2, size=n_exact + n_near, replace=False)
    copies = DOCS // 2 + rng.choice(DOCS - DOCS // 2, size=n_exact + n_near, replace=False)
    exact, near = [], []
    for k, (o, c) in enumerate(zip(originals.tolist(), copies.tolist())):
        # a copy comes from the same source in the same language
        langs[c], sources[c] = langs[o], sources[o]
        if k < n_exact:
            texts[c] = texts[o]
            exact.append([o, c])
        else:
            words = texts[o].split(" ")
            i = int(rng.integers(len(words)))
            repl = vocab[int(rng.integers(len(BASE_WORDS), VOCAB))]
            while repl == words[i]:
                repl = vocab[int(rng.integers(len(BASE_WORDS), VOCAB))]
            words[i] = str(repl)
            texts[c] = " ".join(words)
            near.append([o, c])
    table = pa.table({
        "doc_id": pa.array(np.arange(DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })
    write(table, os.path.join(out, "documents.parquet"))
    distinct = len(set(texts))
    return {"exact_pairs": sorted(exact), "near_pairs": sorted(near),
            "distinct_texts": distinct}


def events(rng, out):
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, size=EVENTS))
    ts = pa.array(np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]"))
    table = pa.table({
        "event_id": pa.array(np.arange(EVENTS, dtype=np.int64)),
        "ts": ts,
        "user_id": pa.array(rng.integers(0, 300, size=EVENTS).astype(np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, size=EVENTS)].tolist()),
        "value": pa.array(np.floor(rng.exponential(60.0, size=EVENTS) * 100 + 1) / 100),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=EVENTS)]),
    })
    write(table, os.path.join(out, "events.parquet"))


def generate(out_dir, seed):
    rng = np.random.default_rng(seed)
    sf = os.path.join(out_dir, "sf")
    os.makedirs(sf, exist_ok=True)
    planted = documents(rng, sf)
    events(rng, sf)
    truth = {"seed": seed, "docs": DOCS, "vocab": VOCAB,
             "events": EVENTS, "exact_share": EXACT_SHARE,
             "near_share": NEAR_SHARE, **planted}
    with open(os.path.join(out_dir, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]))
