#!/usr/bin/env python3
"""Deterministic 10x upscale of a testdata dir for SCALE PROBES.

Usage: python3 tools/upscale.py <srcDir> <dstDir> [factor]

Builds <dstDir> (default factor 10) from <srcDir> without touching the
source. This is NOT a correctness oracle input — it exists so
graft.Bench (every entry, or only named ones) can measure how query
wall-time scales one decade past the largest driver-generated SF (the
r12 verdict's sf1 probe). The copy
rules preserve the distributional properties the expensive operators
are sensitive to, mirroring how the driver's generator scales:

- dims (region, nation): copied verbatim (fixed size at every SF).
- customer/orders/lineitem/part/supplier/events: `factor` copies with
  key offsets that keep FK joins consistent (custkey/orderkey/partkey/
  suppkey/user_id/event_id all shift by their source range per copy);
  non-key columns verbatim, so value/date/price distributions are
  unchanged and per-key fan-outs stay constant (no artificial skew).
- documents: doc_id shifts; copy 0 is verbatim, copies >0 get a
  deterministic ~30% word-replacement within the SAME per-language
  vocabulary. Cross-copy near-duplicate pairs are destroyed (real
  corpora don't repeat themselves 10x verbatim) while WITHIN-copy
  dup/near-dup structure survives (two near-dup sources get the same
  replacements), so dedup candidate-pair counts scale ~linearly like
  the driver data — the property the f^2-sensitive operators need.
- embeddings: the driver scales these 4x per decade (500 -> 2000
  between sf0.01 and sf0.1), so factor 10 maps to 4 copies; copies >0
  add small seeded gaussian noise and renormalize to unit length,
  keeping cluster geometry and label structure.
"""
import hashlib
import os
import sys

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TEN_X = {  # table -> (key column -> per-copy offset) at factor 10
    "customer": {"c_custkey": None},
    "orders": {"o_orderkey": None, "o_custkey": "customer.c_custkey"},
    "lineitem": {"l_orderkey": "orders.o_orderkey",
                 "l_partkey": "part.p_partkey", "l_suppkey": "supplier.s_suppkey"},
    "part": {"p_partkey": None},
    "supplier": {"s_suppkey": None},
    "events": {"event_id": None, "user_id": None},
}


def h32(s: str) -> int:
    return int.from_bytes(hashlib.md5(s.encode()).digest()[:4], "little")


def key_range(con, src, table, col):
    return con.execute(
        f"SELECT max({col}) - min({col}) + 1 FROM '{src}/{table}.parquet'"
    ).fetchone()[0]


def upscale_relational(con, src, dst, factor):
    for t in ("region", "nation"):
        con.execute(f"COPY (SELECT * FROM '{src}/{t}.parquet') TO "
                    f"'{dst}/{t}.parquet' (FORMAT PARQUET)")
    for t, keys in TEN_X.items():
        offsets = {}
        for col, ref in keys.items():
            rt, rc = (ref.split(".") if ref else (t, col))
            offsets[col] = key_range(con, src, rt, rc)
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{src}/{t}.parquet'").fetchall()]
        sel = ", ".join(
            f"{c} + c.copy * {offsets[c]} AS {c}" if c in offsets else c
            for c in cols)
        con.execute(
            f"COPY (SELECT {sel} FROM '{src}/{t}.parquet', "
            f"(SELECT unnest(generate_series(0, {factor - 1})) AS copy) c) "
            f"TO '{dst}/{t}.parquet' (FORMAT PARQUET)")
        n = con.execute(f"SELECT count(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        print(f"  {t}: {n} rows")


def upscale_documents(con, src, dst, factor):
    rows = con.execute(
        f"SELECT doc_id, text, lang, source FROM '{src}/documents.parquet' "
        "ORDER BY doc_id").fetchall()
    n_src = len(rows)
    vocab = {}  # lang -> sorted word list
    for _, text, lang, _ in rows:
        vocab.setdefault(lang, set()).update((text or "").split(" "))
    vocab = {lang: sorted(ws) for lang, ws in vocab.items()}

    out = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for copy in range(factor):
        for doc_id, text, lang, source in rows:
            if copy == 0:
                new = text
            else:
                vs = vocab[lang]
                words = (text or "").split(" ")
                # replacement depends on (word, copy) ONLY, so two
                # near-dup source docs stay near-dups inside each copy
                new = " ".join(
                    vs[h % len(vs)] if h % 100 < 30 else w
                    for w in words
                    for h in (h32(f"{w}|{copy}") // 100,))
            out["doc_id"].append(doc_id + copy * n_src)
            out["text"].append(new)
            out["lang"].append(lang)
            out["source"].append(source)
            out["n_chars"].append(len(new))
    pq.write_table(pa.table({
        "doc_id": pa.array(out["doc_id"], pa.int64()),
        "text": pa.array(out["text"], pa.string()),
        "lang": pa.array(out["lang"], pa.string()),
        "source": pa.array(out["source"], pa.string()),
        "n_chars": pa.array(out["n_chars"], pa.int64()),
    }), f"{dst}/documents.parquet")
    print(f"  documents: {len(out['doc_id'])} rows")


def upscale_embeddings(con, src, dst, factor):
    emb_factor = max(1, round(factor ** 0.602))  # 10x data -> 4x vectors
    rows = con.execute(
        f"SELECT vec_id, embedding, label FROM '{src}/embeddings.parquet' "
        "ORDER BY vec_id").fetchall()
    n_src = len(rows)
    vec_ids, vecs, labels = [], [], []
    for copy in range(emb_factor):
        for vec_id, emb, label in rows:
            v = np.asarray(emb, dtype=np.float64)
            if copy > 0:
                rng = np.random.default_rng(h32(f"{vec_id}|{copy}"))
                v = v + rng.normal(0.0, 0.05, size=v.shape)
                v = v / np.linalg.norm(v)
            vec_ids.append(vec_id + copy * n_src)
            vecs.append(v.astype(np.float32).tolist())
            labels.append(label)
    pq.write_table(pa.table({
        "vec_id": pa.array(vec_ids, pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{dst}/embeddings.parquet")
    print(f"  embeddings: {len(vec_ids)} rows ({emb_factor} copies)")


def main():
    if len(sys.argv) < 3:
        sys.exit("usage: upscale.py <srcDir> <dstDir> [factor]")
    src, dst = sys.argv[1], sys.argv[2]
    factor = int(sys.argv[3]) if len(sys.argv) > 3 else 10
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    print(f"upscaling {src} -> {dst} (factor {factor})")
    upscale_relational(con, src, dst, factor)
    upscale_documents(con, src, dst, factor)
    upscale_embeddings(con, src, dst, factor)


if __name__ == "__main__":
    main()
