"""Seeded input generators for the benchmark.

Every generator is a pure function of its arguments: the same seed and
sizes give byte-identical parquet files, and each returns the sha256
content hash of what it wrote (the oracle cache keys on it).

- ``tables``: the TPC-H-ish star schema plus ``events``, with the column
  types and value distributions of the repo's sf test tables
  (uniform keys, 2-decimal money, a 30-day event stream).
- ``corpus``: ``documents`` and ``embeddings`` like the test tables' (5%
  ``... dup`` near-duplicate documents, unit-norm 64-d embeddings),
  replicated N times. Replica i > 0 keeps a seeded subset
  of the base documents and interleaves a replica-unique slot token
  between every two words, so no shingle crosses replicas while the
  within-replica duplicate structure survives; its embeddings are the
  base vectors times a seeded Rademacher sign pattern, which keeps every
  within-replica dot product and sends cross-replica cosines to ~0.
- ``epochs``: the change files of the ingest workload: per epoch, unique
  Zipf-skewed (user_id, event_type) keys, a fixed delete share and
  event times that increase from epoch to epoch.
"""
import hashlib
import os
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("scan column window order sort part agg value line key join merge query "
         "group a vector hash slow stream filter fast the spark batch table small "
         "data big customer row").split()
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "signup", "error", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
REPLICA_SHIFT = 1_000_000  # % 20 == 0 keeps the doc_id-based splits aligned
DIM = 64
EPOCH_US = 600_000_000  # each epoch covers ten minutes of event time
BASE_US = 1_704_067_200 * 1_000_000  # 2024-01-01T00:00:00Z


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _cents(rng, lo, hi, n):
    return rng.integers(lo, hi + 1, n) / 100.0


def _days(rng, start, end, n):
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int)
    return (d0 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def content_hash(paths):
    """sha256 over the given files, in order (relative name + bytes)."""
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _doc_texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    texts, at = [], 0
    for k in lens:
        texts.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    # 5% near-duplicates: another document's text plus a marker word
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return texts


def _documents(rng, n):
    ids = np.arange(n, dtype=np.int64)
    texts = _doc_texts(rng, n)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(5, n, p=LANG_P)],
        "source": np.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n):
    v = rng.standard_normal((n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def tables(out, seed, sf):
    """Write the eight relational and event tables at scale factor ``sf``;
    returns their hash (``corpus`` writes documents and embeddings)."""
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(1, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    files = {}

    def put(name, cols):
        files[name] = os.path.join(out, f"{name}.parquet")
        _write(files[name], cols)

    put("region", {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    r = _rng(seed, 1)
    put("customer", {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
                     "c_acctbal": _cents(r, -99999, 999999, n_cust),
                     "c_mktsegment": SEGMENTS[r.integers(0, 5, n_cust)]})
    r = _rng(seed, 2)
    put("supplier", {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
                     "s_acctbal": _cents(r, -99999, 999999, n_supp)})
    r = _rng(seed, 3)
    adj = np.array("blue old small new large hot cold red".split())
    noun = np.array("widget gizmo ring gear bolt plate rod anvil".split())
    pk = np.arange(n_part, dtype=np.int64)
    put("part", {"p_partkey": pk,
                 "p_name": np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                                       noun[r.integers(0, 8, n_part)]),
                 "p_brand": np.char.add("Brand#", (r.integers(1, 26, n_part)).astype(str)),
                 "p_type": np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                                     "PROMO"])[r.integers(0, 6, n_part)],
                 "p_size": r.integers(1, 51, n_part).astype(np.int32),
                 "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1)})
    r = _rng(seed, 4)
    put("orders", {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": r.integers(0, n_cust, n_ord).astype(np.int64),
                   "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
                   "o_totalprice": _cents(r, 100000, 50000000, n_ord),
                   "o_orderdate": _days(r, "1995-01-01", "2001-08-01", n_ord),
                   "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                "4-NOT SPECIFIED", "5-LOW"])[
                       r.integers(0, 5, n_ord)]})
    r = _rng(seed, 5)
    put("lineitem", {"l_orderkey": r.integers(0, n_ord, n_li).astype(np.int64),
                     "l_partkey": r.integers(0, n_part, n_li).astype(np.int64),
                     "l_suppkey": r.integers(0, n_supp, n_li).astype(np.int64),
                     "l_linenumber": r.integers(1, 8, n_li).astype(np.int32),
                     "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": _cents(r, 90000, 10500000, n_li),
                     "l_discount": r.integers(0, 11, n_li) / 100.0,
                     "l_tax": r.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
                     "l_linestatus": np.array(["O", "F"])[r.integers(0, 2, n_li)],
                     "l_shipdate": _days(r, "1995-01-02", "2001-11-04", n_li)})
    r = _rng(seed, 6)
    ts = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev)) + BASE_US
    put("events", {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": ts.astype("datetime64[us]"),
                   "user_id": r.integers(0, max(1, n_cust // 10), n_ev).astype(np.int64),
                   "event_type": EVENT_TYPES[r.integers(0, 5, n_ev)],
                   "value": np.round(r.lognormal(4.0, 0.6, n_ev), 2),
                   "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})
    return content_hash([files[k] for k in sorted(files)])


def corpus(out, seed, n_docs, n_vecs, replicas):
    """Write the ``replicas``-fold documents/embeddings; returns their hash."""
    os.makedirs(out, exist_ok=True)
    base = _documents(_rng(seed, 7), n_docs)
    toks = [t.split(" ") for t in base["text"]]
    sel = _rng(seed, 9)
    docs = {k: [] for k in base}
    for i in range(replicas):
        rows = np.arange(n_docs) if i == 0 else np.flatnonzero(sel.random(n_docs) < REPLICA_KEEP)
        for j in rows:
            if i == 0:
                text = base["text"][j]
            else:
                words = toks[j]
                text = " ".join(w + (f" q{i}p{k}" if k < len(words) - 1 else "")
                                for k, w in enumerate(words))
            docs["doc_id"].append(int(base["doc_id"][j]) + i * REPLICA_SHIFT)
            docs["text"].append(text)
            docs["lang"].append(base["lang"][j])
            docs["source"].append(base["source"][j])
            docs["n_chars"].append(len(text))
    docs["doc_id"] = np.array(docs["doc_id"], dtype=np.int64)
    docs["n_chars"] = np.array(docs["n_chars"], dtype=np.int64)
    emb = _embeddings(_rng(seed, 8), n_vecs)
    vecs = np.array(emb["embedding"].to_pylist(), dtype=np.float32)
    signs_rng = _rng(seed, 10)
    ids, vs, labels = [], [], []
    for i in range(replicas):
        signs = np.ones(DIM, np.float32) if i == 0 else \
            np.where(signs_rng.random(DIM) < 0.5, -1.0, 1.0).astype(np.float32)
        ids.append(emb["vec_id"] + i * REPLICA_SHIFT)
        vs.extend(vecs * signs)
        labels.append(emb["label"])
    p_docs, p_emb = os.path.join(out, "documents.parquet"), os.path.join(out, "embeddings.parquet")
    _write(p_docs, docs)
    _write(p_emb, {"vec_id": np.concatenate(ids),
                   "embedding": pa.array(vs, pa.list_(pa.float32())),
                   "label": np.concatenate(labels)})
    return content_hash([p_docs, p_emb])


DELETE_SHARE = 0.1
ZIPF_A = 1.3  # key skew: a few hot users change every epoch
REPLICA_KEEP = 0.9  # share of the base documents each extra replica keeps


def epochs(out, seed, n_epochs, rows, n_users):
    """Write ``n_epochs`` change files ``epoch%05d.parquet``; returns their hash.

    Columns: user_id, event_type (the partition), seq (global change
    order, unique), ts_us (event time, increasing across epochs),
    cents, op ('upsert' | 'delete')."""
    os.makedirs(out, exist_ok=True)
    r = _rng(seed, 11)
    paths, seq = [], 0
    for e in range(n_epochs):
        users = (r.zipf(ZIPF_A, rows) - 1) % n_users
        types = r.choice(5, rows, p=[0.4, 0.25, 0.15, 0.12, 0.08])
        key = users * 5 + types
        _, first = np.unique(key[::-1], return_index=True)
        keep = np.sort(len(key) - 1 - first)  # last occurrence per key, in order
        n = len(keep)
        ts = BASE_US + e * EPOCH_US + np.sort(r.integers(0, EPOCH_US, n))
        p = os.path.join(out, f"epoch{e:05d}.parquet")
        _write(p, {"user_id": users[keep].astype(np.int64),
                   "event_type": EVENT_TYPES[types[keep]],
                   "seq": np.arange(seq, seq + n, dtype=np.int64),
                   "ts_us": ts.astype(np.int64),
                   "cents": r.integers(1, 50000, n).astype(np.int64),
                   "op": np.where(r.random(n) < DELETE_SHARE, "delete", "upsert")})
        seq += n
        paths.append(p)
    return content_hash(paths)
