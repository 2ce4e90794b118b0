"""Seeded input generators for the benchmark.

Every generator is a pure function of its parameters and the seed: the
same call writes the same parquet bytes, a different seed different
ones. Each returns the properties of what it wrote, which the benchmark
records next to its metrics.
"""
import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# CdcOps fixes its generation switches, windows and cutoffs inside
# January 2024 (day 10, day 15, day 20, "now" = day 30), so every change
# falls in those 30 days.
JAN_2024_US = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)
DAY_US = 86_400 * 1_000_000
NUM_STREAMS = 64  # CdcLogAdapter: stream_id = user_id % 64

# event_type -> CDC operation through CdcLogAdapter: view=insert,
# click=update, purchase=delete, signup=pre/post image (event_id
# parity), error=partition delete or one of four range-delete bounds
# (event_id % 5). Five types therefore yield all ten operations.
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
EVENT_MIX = [0.30, 0.25, 0.15, 0.15, 0.15]

LANGS = ["en", "es", "de", "fr", "zh"]
LANG_MIX = [0.40, 0.15, 0.15, 0.15, 0.15]
NUM_SOURCES = 20
# Classifier.RefSources: the reference slice the corpus classifier trains on.
REF_SOURCES = {"src0", "src3", "src7", "src12", "src17"}
BENCHMARK_MOD = 20  # Dedup.BenchmarkMod: every 20th doc is the benchmark slice


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


def operations(types, ids):
    """CdcLogAdapter's operation code (CdcSchema) for each event."""
    op = np.array([2, 1, 3, 0, 4])[types]
    op = np.where(types == 3, np.where(ids % 2 == 0, 0, 9), op)
    return np.where(types == 4, 4 + ids % 5, op)


def events_columns(n, seed, n_users, zipf_s):
    """The events table as numpy columns: Zipf-skewed users, the fixed
    operation mix, microsecond times over January 2024's 30 days."""
    rng = np.random.default_rng(seed)
    ts = np.sort(rng.integers(JAN_2024_US, JAN_2024_US + 30 * DAY_US, size=n, dtype=np.int64))
    # the rank -> user id map is fixed, not seeded: which streams and
    # partitions the hot users share stays the same for every seed, so
    # the skew is a property of the workload rather than of the seed
    rank_to_user = np.random.default_rng(0).permutation(n_users).astype(np.int64)
    users = rank_to_user[rng.choice(n_users, size=n, p=zipf_weights(n_users, zipf_s))]
    types = rng.choice(len(EVENT_TYPES), size=n, p=EVENT_MIX)
    values = np.round(rng.integers(100, 50_000, size=n) / 100.0, 2)
    ks = rng.integers(0, 100, size=n)
    return ts, users, types, values, ks


def write_events(path, n, seed, n_users=4000, zipf_s=1.1):
    ts, users, types, values, ks = events_columns(n, seed, n_users, zipf_s)
    ids = np.arange(n, dtype=np.int64)
    table = pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[types], pa.string()),
        "value": pa.array(values, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in ks.tolist()], pa.string()),
    })
    pq.write_table(table, path, compression="snappy")
    stream_counts = np.bincount(users % NUM_STREAMS, minlength=NUM_STREAMS)
    return {
        "rows": n, "seed": seed, "users": n_users, "zipf_s": zipf_s,
        "hot_stream_share": round(float(stream_counts.max()) / n, 4),
        "operations": int(np.unique(operations(types, ids)).size), "days": 30,
    }


def word(i):
    """The i-th vocabulary word: lowercase letters only, so the quality
    rules see no punctuation."""
    letters = "abcdefghijklmnopqrstuvwxyz"
    w = ""
    i += 26 * 27  # at least three letters
    while i:
        i, r = divmod(i, 26)
        w = letters[r] + w
    return w


def documents_columns(n, seed, vocab, zipf_s, exact_dup, near_dup, hq_ref, hq_raw):
    """Documents as python lists. Plain docs draw 40-110 tokens from a
    Zipf vocabulary. A high-quality doc swaps 15% of its tokens for
    words of a small high-quality list, a low-quality doc for words of
    a low-quality list; reference sources are mostly high quality, so
    the classifier learns the split. A share of docs copy an earlier
    doc exactly, another share copy one with 5% of the tokens changed."""
    rng = np.random.default_rng(seed)
    words = np.array([word(i) for i in range(vocab)], dtype=object)
    hq_words = np.array([word(vocab + i) for i in range(40)], dtype=object)
    lq_words = np.array([word(vocab + 40 + i) for i in range(40)], dtype=object)
    p = zipf_weights(vocab, zipf_s)
    sources = rng.integers(0, NUM_SOURCES, size=n)
    langs = rng.choice(len(LANGS), size=n, p=LANG_MIX)
    kind = rng.random(n)
    texts, n_exact, n_near = [], 0, 0
    for i in range(n):
        src = f"src{sources[i]}"
        if i > 0 and kind[i] < exact_dup:
            texts.append(texts[rng.integers(0, i)])
            n_exact += 1
            continue
        if i > 0 and kind[i] < exact_dup + near_dup:
            toks = texts[rng.integers(0, i)].split(" ")
            for j in rng.choice(len(toks), size=max(1, len(toks) // 20), replace=False):
                toks[j] = words[rng.choice(vocab, p=p)]
            texts.append(" ".join(toks))
            n_near += 1
            continue
        length = int(rng.integers(40, 111))
        toks = words[rng.choice(vocab, size=length, p=p)]
        hq = rng.random() < (hq_ref if src in REF_SOURCES else hq_raw)
        marked = rng.choice(length, size=length * 15 // 100, replace=False)
        toks[marked] = rng.choice(hq_words if hq else lq_words, size=len(marked))
        texts.append(" ".join(toks))
    return texts, sources, langs, n_exact, n_near


def write_documents(path, n, seed, vocab=20000, zipf_s=0.9, exact_dup=0.04,
                    near_dup=0.04, hq_ref=0.9, hq_raw=0.7):
    texts, sources, langs, n_exact, n_near = documents_columns(
        n, seed, vocab, zipf_s, exact_dup, near_dup, hq_ref, hq_raw)
    table = pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[x] for x in langs.tolist()], pa.string()),
        "source": pa.array([f"src{x}" for x in sources.tolist()], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path, compression="snappy")
    return {
        "rows": n, "seed": seed, "vocab": vocab, "zipf_s": zipf_s,
        "exact_dup_share": round(n_exact / n, 4), "near_dup_share": round(n_near / n, 4),
        "languages": len(set(langs.tolist())), "sources": len(set(sources.tolist())),
        "benchmark_slice": (n + BENCHMARK_MOD - 1) // BENCHMARK_MOD,
    }
