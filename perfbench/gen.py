"""Seeded input tables for the batch workload.

Every table is a pure function of the seed: numpy's PCG64 generator drives
all draws, and the same seed writes byte-identical parquet files. The
shapes follow the sf0.1 catalog tables the queries were written against
(column names, types and value domains), at the same row counts: events
100,000 (1,500 distinct users), documents 5,000.

Documents are drawn uniformly from the 31-word vocabulary of the sf0.1
corpus, and exactly 300 of them are planted near-duplicates of an earlier
document of at least 30 tokens (last token replaced), so the dedup queries
find small clusters whose Jaccard similarity sits far above their 0.8
threshold while unrelated documents sit far below it.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_USERS = 1_500
N_DOCS = 5_000
# the 31-word vocabulary of the sf0.1 corpus: BM25 idf values and the q176
# flag threshold were tuned against a vocabulary this small
VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
N_NEAR_DUPS = 300

TABLES = {"curation_hll": ["events", "documents"]}


def events(rng):
    n = N_EVENTS
    users = rng.choice(1_000_000, N_USERS, replace=False)
    # every user appears at least once, so the distinct count is exactly N_USERS
    pick = np.concatenate([np.arange(N_USERS), rng.integers(0, N_USERS, n - N_USERS)])
    rng.shuffle(pick)
    start_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n)) + start_us
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users[pick], pa.int64()),
        "event_type": kinds[rng.integers(0, 5, n)],
        "value": np.round(rng.uniform(0.0, 200.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng):
    vocab = np.array(VOCAB)
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    # exactly N_NEAR_DUPS planted copies, so every seed has the same dedup load
    copies = set(rng.choice(np.arange(20, N_DOCS), N_NEAR_DUPS, replace=False).tolist())
    texts, long_docs = [], []
    for i in range(N_DOCS):
        if i in copies:
            # near-duplicate of an earlier long document: last token replaced
            src = texts[long_docs[int(rng.integers(0, len(long_docs)))]].split(" ")
            src[-1] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(src))
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
            if n >= 30:
                long_docs.append(i)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def generate(out_dir, workload, seed):
    """Write the workload's tables as <out_dir>/<table>.parquet."""
    os.makedirs(out_dir, exist_ok=True)
    makers = {"events": events, "documents": documents}
    for i, name in enumerate(TABLES[workload]):
        rng = np.random.default_rng([seed, i])
        pq.write_table(makers[name](rng), os.path.join(out_dir, f"{name}.parquet"))
