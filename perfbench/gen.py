"""Seeded input generator for the benchmark.

Everything a workload reads is built here from the seed, inside the
benchmark's work directory; the engine only ever sees the files written.

  tables(dir, seed)         the ten registry tables (the engine's star
                            schema + events/documents/embeddings), at the
                            ~sf0.001 row counts in ROWS
  corpus(dir, seed, ...)    the reference input layout input/<lang>/*.csv,
                            one `record_num,literal` per line, with blank
                            lines and non-whitelisted language dirs
  annotate_docs(seed, ...)  the corpus pipeline's HTTP enrichment sample
                            plus the stub's seeded failure set
  stream_events(seed, ...)  one events table per scheduled stream file
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ~sf0.001 row counts (the smallest scale the registry oracle gate runs at)
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}

VOCAB = ("join hash row batch scan customer column filter small slow merge order "
         "vector line data table agg value key stream window spark a group part "
         "big sort query fast the").split()
DOC_LANGS = ["en", "zh", "de", "es", "fr"]
DOC_LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
# reference whitelist {nl,en,de,fr,it} plus two languages it must skip
CORPUS_LANGS = ["nl", "en", "de", "fr", "it", "es", "zh"]
WHITELIST = ["nl", "en", "de", "fr", "it"]


def _write(dir_, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dir_, f"{name}.parquet"))


def _days(rng, n, start, span_days):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _texts(rng, n, lo=10, hi=99):
    lens = rng.integers(lo, hi + 1, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, i = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[i:i + k]))
        i += k
    return out


def tables(dir_, seed):
    """Write the ten registry tables to dir_/<name>.parquet."""
    os.makedirs(dir_, exist_ok=True)
    rng = np.random.default_rng(seed)
    r = ROWS
    _write(dir_, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dir_, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    _write(dir_, "customer", {
        "c_custkey": pa.array(range(r["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(r["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, r["customer"]), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, r["customer"]),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], r["customer"])})
    _write(dir_, "supplier", {
        "s_suppkey": pa.array(range(r["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(r["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, r["supplier"]), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, r["supplier"])})
    adj = ["red", "old", "cold", "hot", "new", "large", "small", "blue"]
    noun = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "nut"]
    _write(dir_, "part", {
        "p_partkey": pa.array(range(r["part"]), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, r["part"]), rng.integers(0, 8, r["part"]))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, r["part"])],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM",
                              "PROMO"], r["part"]),
        "p_size": pa.array(rng.integers(1, 51, r["part"]), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(r["part"]) % 1000) / 10, 2)})
    no = r["orders"]
    _write(dir_, "orders", {
        "o_orderkey": pa.array(range(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, r["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(1000, 500000, no),
        "o_orderdate": pa.array(_days(rng, no, "1995-01-01", 2404), pa.timestamp("us")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = r["lineitem"]
    okeys = np.sort(rng.integers(0, no, nl))
    linenr = np.ones(nl, dtype=np.int32)
    for i in range(1, nl):
        if okeys[i] == okeys[i - 1]:
            linenr[i] = linenr[i - 1] + 1
    qty = rng.integers(1, 51, nl).astype(float)
    pk = rng.integers(0, r["part"], nl)
    _write(dir_, "lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(pk, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, r["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(linenr, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (pk % 1000) / 10), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": pa.array(_days(rng, nl, "1995-01-02", 2498), pa.timestamp("us"))})
    _write(dir_, "events", event_table(rng, 0, r["events"], 150))
    nd = r["documents"]
    texts = _texts(rng, nd)
    # a few near-duplicates (one extra token) so the dedup family has pairs
    for i in rng.choice(nd, nd // 20, replace=False):
        texts[i] = texts[(i + 1) % nd] + " dup"
    _write(dir_, "documents", {
        "doc_id": pa.array(range(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(DOC_LANGS, nd, p=DOC_LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    ne = r["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, ne)
    emb = centers[labels] + rng.normal(0, 0.6, (ne, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(dir_, "embeddings", {
        "vec_id": pa.array(range(ne), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def event_table(rng, first_id, n, users, start="2024-01-01", span_s=30 * 86400):
    """n events with ids first_id.. — shared by the registry table and the
    stream files. About 3% of stream rows break a gate rule."""
    ts = np.datetime64(start, "us") + rng.integers(0, span_s * 10**6, n).astype("timedelta64[us]")
    return {
        "event_id": pa.array(range(first_id, first_id + n), pa.int64()),
        "ts": pa.array(np.sort(ts), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.uniform(0.01, 500, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]}


def corpus(dir_, seed, files_per_lang, lines_per_file):
    """The reference layout: dir_/input/<lang>/<lang>_<k>.csv. Record numbers
    are unique across the corpus; every file carries blank lines."""
    rng = np.random.default_rng(seed)
    rec = 0
    for lang in CORPUS_LANGS:
        d = os.path.join(dir_, "input", lang)
        os.makedirs(d, exist_ok=True)
        for k in range(files_per_lang):
            texts = _texts(rng, lines_per_file, 4, 24)
            lines = []
            for t in texts:
                lines.append(f"{rec},{t}")
                rec += 1
                if rng.random() < 0.02:
                    lines.append(" " if rng.random() < 0.5 else "")
            with open(os.path.join(d, f"{lang}_{k:03d}.csv"), "w") as f:
                f.write("\n".join(lines) + "\n")
    return rec


def annotate_docs(seed, slices, batches_per_slice, batch_size):
    """Documents for the HTTP enrichment, laid out so each of `slices`
    contiguous slices holds `batches_per_slice` single-language batches of
    `batch_size` docs. Returns (docs, fail_keys): the stub answers 503 to
    the first attempt of each batch whose first value is in fail_keys —
    exactly one seeded batch per slice."""
    rng = np.random.default_rng(seed)
    docs, fail_keys = [], []
    did = 0
    for s in range(slices):
        failing = int(rng.integers(0, batches_per_slice))
        for b in range(batches_per_slice):
            lang = WHITELIST[(s + b) % len(WHITELIST)]
            for i, t in enumerate(_texts(rng, batch_size, 4, 24)):
                text = f"{did},{t}"
                if b == failing and i == 0:
                    fail_keys.append(text)
                docs.append({"doc_id": did, "text": text, "lang": lang,
                             "source": f"{lang}_{s:03d}", "n_chars": len(text)})
                did += 1
    return docs, fail_keys


def stream_events(seed, n_files, rows_per_file):
    """One events table per stream file; ~3% of rows violate a gate rule
    (negative value, unknown type or out-of-retention timestamp)."""
    rng = np.random.default_rng(seed)
    out = []
    for f in range(n_files):
        t = event_table(rng, f * rows_per_file, rows_per_file, 500)
        value = t["value"]
        bad = rng.random(rows_per_file) < 0.03
        kind = rng.integers(0, 3, rows_per_file)
        types = t["event_type"].astype(object)
        ts = t["ts"].to_numpy(zero_copy_only=False).copy()
        for i in np.nonzero(bad)[0]:
            if kind[i] == 0:
                value[i] = -value[i]
            elif kind[i] == 1:
                types[i] = "bogus"
            else:
                ts[i] = np.datetime64("1970-01-01T00:00:00", "us")
        t["value"] = value
        t["event_type"] = types
        t["ts"] = pa.array(ts, pa.timestamp("us"))
        out.append(pa.table(t))
    return out
