#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Everything the program under test reads comes from here; no program code
is called, so a change to the program cannot change its own inputs.

  python3 perfbench/gen.py --selfcheck    # same seed -> same digest, other seed -> other digest

run.py calls generate() with each workload's sizes (run.INPUTS).

Layout of DIR:
  tables/<name>.parquet   star-schema tables + events + the K-copy document
                          and embedding corpus (the schemas of the repo's test
                          tables, written by the same pyarrow version)
  days/day_<c>.ndjson     tweet-shaped NDJSON of fold cycle c (hashtags carry
                          the document's lang and source)
  days/emb_<c>.parquet    the embeddings of the same documents
  schedule.json           the cycles in order: fold c (even c), then takedown c+1
  digest.json             sha256 over every file above, plus their sizes
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["row", "the", "query", "stream", "key", "agg", "scan", "slow", "table",
         "part", "a", "merge", "window", "order", "column", "join", "vector",
         "value", "hash", "batch", "sort", "data", "big", "filter", "dup",
         "fast", "spark", "line", "small", "customer", "group"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
DIM = 64
AZ = "abcdefghijklmnopqrstuvwxyz"
COPRIMES = [1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25]
US_PER_DAY = 86_400_000_000


def _ts_us(base, offsets_us):
    """Naive microsecond timestamps: base (a date) + offsets."""
    epoch = int(dt.datetime(base.year, base.month, base.day).replace(
        tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    return pa.array(epoch + np.asarray(offsets_us, dtype=np.int64), type=pa.timestamp("us"))


def star_tables(rng, sf):
    """TPC-H-shaped dimension and fact tables plus the events stream."""
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_li = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    adj = np.array(["large", "red", "hot", "cold", "old", "new", "blue", "small"])
    noun = np.array(["anvil", "plate", "gizmo", "ring", "widget", "gear", "bolt", "rod"])
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    day0 = dt.date(1995, 1, 1)
    odays = rng.integers(0, 2404, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts_us(day0, odays * US_PER_DAY),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    lok = rng.integers(0, n_ord, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(lok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(day0, (odays[lok] + rng.integers(1, 122, n_li)) * US_PER_DAY)})
    gaps = rng.integers(1, 2 * 259_000_000, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts_us(dt.date(2024, 1, 1), np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
            rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(40.0, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    return t


def base_corpus(rng, n):
    """n word-soup documents; about one in six is a near-copy of an earlier
    one (a few tokens replaced), one in fifty an exact copy, so the
    near-dup, cluster and survivor stages all have work."""
    w = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.6
    w /= w.sum()
    docs = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            docs.append(list(docs[rng.integers(0, i)]))
        elif i > 10 and r < 0.17:
            src = list(docs[rng.integers(0, i)])
            for j in rng.integers(0, len(src), max(1, len(src) // 12)):
                src[j] = VOCAB[rng.choice(len(VOCAB), p=w)]
            docs.append(src)
        else:
            docs.append([VOCAB[k] for k in rng.choice(len(VOCAB), size=rng.integers(10, 100), p=w)])
    text = [" ".join(d) for d in docs]
    centroids = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, n)
    emb = centroids[label] + rng.normal(scale=1.2, size=(n, DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return text, rng.choice(LANGS, size=n, p=LANG_P), emb.astype(np.float32), label


def k_copies(rng, text, lang, emb, label, k):
    """K copies of the base corpus. Each copy gets its own affine letter
    cipher and its own sign flips on the embedding, so near-duplicates
    across copies stay at chance while each copy keeps the structure the
    operators mine."""
    n = len(text)
    ids, texts, langs, embs, labels = [], [], [], [], []
    for i in range(k):
        a, b = COPRIMES[(i // 26) % len(COPRIMES)], i % 26
        tr = str.maketrans(AZ, "".join(AZ[(a * j + b) % 26] for j in range(26)))
        flip = np.where(rng.integers(0, 2, DIM) == 1, -1.0, 1.0).astype(np.float32) \
            if i else np.ones(DIM, np.float32)
        ids.append(np.arange(n, dtype=np.int64) + i * n)
        texts += [s.translate(tr) for s in text]
        langs.append(lang)
        embs.append(emb * flip)
        labels.append(label)
    ids = np.concatenate(ids)
    docs = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": np.concatenate(langs),
        "source": [f"src{d % 20}" for d in ids],
        "n_chars": pa.array([len(s) for s in texts], pa.int64())})
    e = np.concatenate(embs)
    vecs = pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(e.ravel(), pa.float32()), DIM)
                       .cast(pa.list_(pa.float32())),
        "label": pa.array(np.concatenate(labels), pa.int32())})
    return docs, vecs


def day_files(rng, out, docs, vecs, days):
    """Split the corpus over `days` fold cycles in a seeded order. Each fold
    cycle is followed by a takedown cycle: a seeded 4% of what has landed
    so far and has not been taken down yet."""
    os.makedirs(f"{out}/days", exist_ok=True)
    chunks = np.array_split(rng.permutation(docs.num_rows), days)
    ids = docs.column("doc_id").to_numpy()
    text = docs.column("text").to_pylist()
    lang = docs.column("lang").to_pylist()
    source = docs.column("source").to_pylist()
    schedule, live = [], []
    day0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    for fold, chunk in enumerate(chunks):
        c = 2 * fold
        rows = np.sort(chunk)
        created = (day0 + dt.timedelta(days=c, hours=12)).strftime("%Y-%m-%dT%H:%M:%S.000Z")
        with open(f"{out}/days/day_{c}.ndjson", "w") as f:
            for r in rows:
                f.write(json.dumps({
                    "id": str(int(ids[r])), "text": text[r], "created_at": created,
                    "public_metrics": {"retweet_count": int(r % 7), "reply_count": int(r % 3),
                                       "like_count": int(r % 11), "quote_count": 0},
                    "entities": {"hashtags": [
                        {"start": 0, "end": len(lang[r]), "tag": lang[r]},
                        {"start": 0, "end": len(source[r]), "tag": source[r]}]}}) + "\n")
        pq.write_table(vecs.take(pa.array(rows)), f"{out}/days/emb_{c}.parquet")
        schedule.append({"cycle": c, "kind": "fold",
                         "date": (day0 + dt.timedelta(days=c)).strftime("%Y-%m-%d"),
                         "ndjson": f"days/day_{c}.ndjson", "emb": f"days/emb_{c}.parquet",
                         "n_docs": int(len(rows))})
        live += [int(ids[r]) for r in rows]
        pick = set(int(x) for x in rng.choice(live, size=max(1, len(live) // 25), replace=False))
        schedule.append({"cycle": c + 1, "kind": "takedown", "ids": sorted(pick)})
        live = [i for i in live if i not in pick]
    return schedule


def digest(out):
    h = hashlib.sha256()
    sizes = {}
    for root, _, files in sorted(os.walk(out)):
        for f in sorted(files):
            if f == "digest.json":
                continue
            p = os.path.join(root, f)
            rel = os.path.relpath(p, out)
            h.update(rel.encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
            sizes[rel] = os.path.getsize(p)
    return h.hexdigest(), sizes


def generate(out, seed, sf, base, copies, days):
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(f"{out}/tables")
    rng = np.random.default_rng(seed)
    for name, t in star_tables(rng, sf).items():
        pq.write_table(t, f"{out}/tables/{name}.parquet")
    docs, vecs = k_copies(rng, *base_corpus(rng, base), copies)
    pq.write_table(docs, f"{out}/tables/documents.parquet")
    pq.write_table(vecs, f"{out}/tables/embeddings.parquet")
    schedule = day_files(rng, out, docs, vecs, days) if days else []
    with open(f"{out}/schedule.json", "w") as f:
        json.dump(schedule, f)
    d, sizes = digest(out)
    info = {"digest": d, "seed": seed, "bytes": sum(sizes.values()), "files": len(sizes),
            "rows": {p[:-len(".parquet")]: pq.ParquetFile(f"{out}/tables/{p}").metadata.num_rows
                     for p in sorted(os.listdir(f"{out}/tables"))},
            "cycles": len(schedule)}
    with open(f"{out}/digest.json", "w") as f:
        json.dump(info, f)
    return info


def selfcheck(work):
    kw = dict(sf=0.001, base=100, copies=2, days=4)
    a = generate(f"{work}/a", 7, **kw)["digest"]
    b = generate(f"{work}/b", 7, **kw)["digest"]
    c = generate(f"{work}/c", 8, **kw)["digest"]
    shutil.rmtree(work, ignore_errors=True)
    ok = a == b and a != c
    print(f"selfcheck: seed 7 -> {a[:16]} twice {'same' if a == b else 'DIFFERENT'}; "
          f"seed 8 -> {c[:16]} {'differs' if a != c else 'SAME'}: {'ok' if ok else 'FAIL'}")
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--selfcheck", action="store_true", required=True)
    ap.parse_args()
    sys.exit(0 if selfcheck(".bench_build/gen_selfcheck") else 1)


if __name__ == "__main__":
    main()
