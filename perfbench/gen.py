"""Seeded input generation for the perfbench workloads.

Every table is a pure function of (seed, sizes): the same arguments give
byte-identical parquet. The engine under test only ever sees these files.

* ``tables``  -- the star-schema + text tables ``graft.SparkEntry.queries``
  read (region, nation, customer, supplier, part, orders, lineitem,
  events, documents, embeddings), shaped like the repository's synthetic
  testdata at a given scale factor.
* ``ingest``  -- a seed corpus plus a sequence of ingest batches with
  injected near-duplicates, backfill batches and takedown lists.
* ``corpus``  -- a document tile plus labelled unit vectors.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
N_SOURCES = 20
EMBED_DIM = 64
with open(__file__, "rb") as _f:
    VERSION = hashlib.sha256(_f.read()).hexdigest()[:8]


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def _texts(rng, n, min_words=10, max_words=100):
    """`n` space-joined docs over VOCAB, 10..100 words each."""
    lens = rng.integers(min_words, max_words + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB, dtype=object)[words]
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(vocab[pos:pos + ln]))
        pos += ln
    return out


def documents(rng, n, first_id=0, dup_share=0.05):
    """Docs like the testdata: round-robin sources, ~5% exact copies of
    another doc with a trailing ' dup' token."""
    texts = _texts(rng, n)
    dups = np.flatnonzero(rng.random(n) < dup_share)
    for i in dups:
        j = int(rng.integers(0, n))
        if j != i and not texts[j].endswith(" dup"):
            texts[i] = texts[j] + " dup"
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": LANGS[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": np.array([f"src{i % N_SOURCES}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n, first_id=0):
    v = rng.standard_normal((n, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    arr = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), EMBED_DIM)
    return {
        "vec_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "embedding": arr.cast(pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    d = rng.integers(lo, hi + 1, n)
    return pa.array(d.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tables(out, seed, sf):
    """The ten SparkEntry tables at scale factor `sf`."""
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_li, n_part = int(6_000_000 * sf), int(200_000 * sf)
    n_supp, n_ev = int(10_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    _write(f"{out}/region.parquet", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": np.array(["FURNITURE", "MACHINERY", "AUTOMOBILE",
                                  "BUILDING", "HOUSEHOLD"])[
            rng.integers(0, 5, n_cust)]})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    adj = ["large", "hot", "blue", "cold", "new", "old", "red", "small"]
    noun = ["ring", "bolt", "anvil", "gear", "gizmo", "plate", "rod", "widget"]
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM",
                            "PROMO"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                     "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, n_ord)]})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span = 30 * 86400 * 10**6
    ts = np.sort(t0 + rng.integers(0, span, n_ev))
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": np.array(["signup", "purchase", "view", "click",
                                "error"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    _write(f"{out}/documents.parquet",
           documents(rng, max(500, int(50_000 * sf))))
    _write(f"{out}/embeddings.parquet",
           embeddings(rng, max(500, int(20_000 * sf))))
    return {"sf": sf, "lineitem_rows": n_li,
            "documents": max(500, int(50_000 * sf))}


def _edit(rng, words, n_edits):
    w = list(words)
    for p in rng.choice(len(w), size=min(n_edits, len(w)), replace=False):
        w[p] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(w)


def gen_ingest(out, seed, seed_docs, batches, batch_docs, backfill_docs,
               backfill_every, near_dup_share, takedown_every, takedown_share,
               maint_every):
    """Seed corpus + `batches` ingest batches.

    ~`near_dup_share` of each batch are light edits (1 word per 25) of a
    doc ingested before it -- seed corpus or an earlier batch, never a
    takedown -- and the rest are fresh docs. Every `backfill_every`-th
    batch after batch 0 is a backfill of `backfill_docs` docs (enough
    distinct band keys to trip the probe-key valve); a fixed position, so
    that runs of one maintenance cycle are alike across seeds. A
    maintenance cycle follows every `maint_every`-th batch. After every
    `takedown_every`-th batch a `takedown_share` sample of the live ids
    is taken down, starting with batch 0. Each batch is also written alone
    as ``batches/<b>.parquet``, the file the loop ingests.
    """
    rng = np.random.default_rng(seed)
    seed_tab = documents(rng, seed_docs)
    texts = {int(i): t for i, t in zip(seed_tab["doc_id"], seed_tab["text"])}
    _write(f"{out}/seed.parquet", {"doc_id": seed_tab["doc_id"],
                                   "text": seed_tab["text"]})
    backfill_at = set(range(backfill_every, batches, backfill_every))
    live = list(texts)
    next_id = seed_docs
    ids_col, text_col, batch_col = [], [], []
    meta = {"batches": [], "injected": {}, "maint_every": maint_every}
    for b in range(batches):
        n = backfill_docs if b in backfill_at else batch_docs
        n_dup = int(round(n * near_dup_share))
        fresh = _texts(rng, n - n_dup, min_words=20)
        srcs = []
        while len(srcs) < n_dup:  # sources long enough for J >= 0.7
            s = live[int(rng.integers(0, len(live)))]
            if len(texts[s].split()) >= 20:
                srcs.append(s)
        batch = []
        for s in srcs:
            words = texts[s].split()
            batch.append((_edit(rng, words, max(1, len(words) // 25)), s))
        batch += [(t, None) for t in fresh]
        order = rng.permutation(len(batch))
        for j in order:
            t, s = batch[j]
            texts[next_id] = t
            ids_col.append(next_id)
            text_col.append(t)
            batch_col.append(b)
            if s is not None:
                meta["injected"][str(next_id)] = s
            next_id += 1
        live.extend(ids_col[-len(batch):])
        takedown = []
        if b % takedown_every == 0:
            k = int(len(live) * takedown_share)
            pick = rng.choice(len(live), size=k, replace=False)
            takedown = sorted(int(live[i]) for i in pick)
            gone = set(takedown)
            live = [i for i in live if i not in gone]
        meta["batches"].append({"docs": len(batch), "near_dups": n_dup,
                                "backfill": b in backfill_at,
                                "takedown": takedown})
    batch_col = np.array(batch_col, dtype=np.int32)
    ids_col = np.array(ids_col, dtype=np.int64)
    _write(f"{out}/batches.parquet", {"batch": batch_col, "doc_id": ids_col,
                                      "text": text_col})
    os.makedirs(f"{out}/batches")
    text_arr = np.array(text_col, dtype=object)
    for b in range(batches):
        sel = batch_col == b
        _write(f"{out}/batches/{b:05d}.parquet",
               {"doc_id": ids_col[sel], "text": text_arr[sel]})
    with open(f"{out}/ingest.json", "w") as f:
        json.dump(meta, f)
    n_bytes = sum(len(t.encode()) for t in text_col)
    return {"seed_docs": seed_docs, "batches": batches,
            "batch_docs": batch_docs, "backfills": len(backfill_at),
            "near_dup_share": round(
                len(meta["injected"]) / max(1, len(ids_col)), 4),
            "takedowns": sum(len(m["takedown"]) for m in meta["batches"]),
            "batch_bytes": n_bytes}


def _write_parts(path, cols, parts):
    """One table as `parts` files, so scans split into parallel tasks."""
    os.makedirs(path)
    t = pa.table(cols)
    step = -(-t.num_rows // parts)
    for i in range(parts):
        pq.write_table(t.slice(i * step, step), f"{path}/part-{i:05d}.parquet")


def gen_corpus(out, seed, docs, vectors, parts):
    rng = np.random.default_rng(seed)
    d = documents(rng, docs)
    _write_parts(f"{out}/documents", d, parts)
    _write_parts(f"{out}/embeddings", embeddings(rng, vectors), parts)
    dup_docs = sum(t.endswith(" dup") for t in d["text"])
    return {"docs": docs, "vectors": vectors,
            "exact_dup_share": round(dup_docs / docs, 4),
            "text_bytes": sum(len(t.encode()) for t in d["text"])}


def ensure(root, kind, seed, **sizes):
    """Generate into `root/<key>` once; reuse behind a `_SUCCESS` marker
    keyed by kind, seed, sizes and this file's contents. Returns (dir,
    properties)."""
    key = f"{kind}-s{seed}-" + "-".join(f"{k}{v}" for k, v in
                                        sorted(sizes.items())) + "-" + VERSION
    out = os.path.join(root, key)
    marker = os.path.join(out, "_SUCCESS")
    if os.path.exists(marker):
        with open(marker) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    fn = {"tables": gen_tables, "ingest": gen_ingest,
          "corpus": gen_corpus}[kind]
    props = fn(out, seed, **sizes)
    with open(marker, "w") as f:
        json.dump(props, f)
    return out, props
