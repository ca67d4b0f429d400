"""Seeded input generator for the benchmark workloads.

The same seed always gives byte-identical parquet files. The tables follow
the schemas and value ranges of the registry fixtures (FIXTURES.md §A):
reports are 10-100 words drawn from the fixture vocabulary, about one in
twenty is a near-duplicate of an earlier report with "dup" appended, and
the relational and event tables scale with `sf` the way the fixtures do.
"""
import io

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"])
PART_TYPES = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
PART_ADJ = np.array(["small", "red", "blue", "hot", "old", "large", "cold", "green"])
PART_NOUN = np.array(["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "valve"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
BATCH_PARTS = 4
SOURCES = np.array([f"src{i}" for i in range(20)])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# Each vocabulary word with and without a leading space, as one byte buffer:
# word w starts at _SRC_OFF[w] (" word") or _SRC_OFF[w] + 1 ("word").
_SRC = b"".join(b" " + w.encode() for w in VOCAB)
_SRC_ARR = np.frombuffer(_SRC, dtype=np.uint8)
_WLEN = np.array([len(w) + 1 for w in VOCAB], dtype=np.int64)
_SRC_OFF = np.concatenate([[0], np.cumsum(_WLEN)[:-1]])


def _texts(rng, n, dup_frac=0.05):
    """n reports as a pyarrow string array, built without per-word Python."""
    nwords = rng.integers(10, 101, size=n)
    total = int(nwords.sum())
    idx = rng.integers(0, len(VOCAB), size=total)
    first = np.zeros(total, dtype=bool)
    doc_start_word = np.concatenate([[0], np.cumsum(nwords)[:-1]])
    first[doc_start_word] = True
    # first word of a report carries no leading space
    src_start = _SRC_OFF[idx] + first
    out_len = _WLEN[idx] - first
    out_off = np.concatenate([[0], np.cumsum(out_len)])
    pos = np.arange(out_off[-1], dtype=np.int64)
    word_of_pos = np.repeat(np.arange(total), out_len)
    data = _SRC_ARR[src_start[word_of_pos] + (pos - out_off[word_of_pos])]
    doc_off = out_off[np.concatenate([doc_start_word, [total]])]
    texts = pa.StringArray.from_buffers(
        n, pa.py_buffer(doc_off.astype(np.int32).tobytes()),
        pa.py_buffer(data.tobytes())).to_numpy(zero_copy_only=False)
    # near-duplicates: an earlier report's text with " dup" appended 1-3 times
    dups = np.flatnonzero(rng.random(n) < dup_frac)
    dups = dups[dups > 0]
    for i in dups:
        src = int(rng.integers(0, i))
        texts[i] = texts[src] + " dup" * int(rng.integers(1, 4))
    return texts


def documents(rng, n, first_id=0):
    text = pa.array(_texts(rng, n), pa.string())
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": text,
        "lang": pa.array(LANGS[rng.choice(len(LANGS), size=n, p=LANG_P)], pa.string()),
        "source": pa.array(SOURCES[ids % 20], pa.string()),
        "n_chars": pc.utf8_length(text).cast(pa.int64()),
    })


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _days(rng, start, ndays, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, ndays + 1, size=n).astype("timedelta64[D]")


def registry_tables(rng, sf):
    """The ten registry tables at scale factor `sf`."""
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)], pa.string())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64())})
    keys = np.arange(n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(
            PART_ADJ[rng.integers(0, 8, n_part)], " "),
            PART_NOUN[rng.integers(0, 8, n_part)]), pa.string()),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)), pa.string()),
        "p_type": pa.array(PART_TYPES[rng.integers(0, 6, n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1), pa.float64())})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord), pa.float64()),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n_ord)], pa.string())})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)], pa.string()),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_line)], pa.string()),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2498, n_line), pa.timestamp("us"))})
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_ev)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string())})
    t["documents"] = documents(rng, n_docs)
    labels = rng.integers(0, 10, n_emb)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def _parquet_bytes(table):
    buf = io.BytesIO()
    pq.write_table(table, buf, compression="snappy")
    return buf.getvalue()


def generate(workload, seed, size):
    """Return {relative path: parquet bytes} and per-file row counts."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    files, rows = {}, {}
    if workload == "registry_mix":
        for name, table in registry_tables(rng, size["sf"]).items():
            files[f"tables/{name}.parquet"] = _parquet_bytes(table)
            rows[f"tables/{name}.parquet"] = table.num_rows
    else:
        n = size["docs_per_batch"]
        for b in range(size["batches"]):
            table = documents(rng, n, first_id=b * n)
            # a batch is a directory of part files, so its scan has one
            # split per part, as a batch written by a parallel job would
            step = -(-n // BATCH_PARTS)
            for k in range(BATCH_PARTS):
                path = f"batches/b{b:04d}/documents.parquet/part-{k:05d}.parquet"
                part = table.slice(k * step, step)
                files[path] = _parquet_bytes(part)
                rows[path] = part.num_rows
    return files, rows
