"""Seeded input generator for the benchmark workloads.

Writes the engine's fixture tables (the TPC-H-shaped star schema plus the
`documents` and `embeddings` corpora, same schemas and value domains as the
engine's parquet fixtures) under a data directory, and a `plan.json` with
every parameter a workload draws from its seed: operation order, statement
texts and client streams. The corpus duplication and edits are seeded too. The engine only ever sees these
files; the same seed always gives byte-identical inputs.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = 25
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
EMB_DIM = 64
LABELS = 10

# Row counts per unit of scale factor (the fixture's own ratios).
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}
SORT_KEY = {"lineitem": "l_orderkey", "orders": "o_orderkey",
            "customer": "c_custkey", "part": "p_partkey",
            "supplier": "s_suppkey"}


def _days(rng, lo, hi, n):
    """Uniform calendar days in [lo, hi] as microsecond timestamps."""
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int) + 1
    return (base + rng.integers(0, span, n)).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, table, files):
    """One parquet file, or `files` key-range files in a directory (the
    multi-file layout lets a local scan run several tasks)."""
    if files <= 1:
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        return
    d = os.path.join(out, f"{name}.parquet")
    os.makedirs(d, exist_ok=True)
    table = table.sort_by(SORT_KEY[name])
    per = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * per, per),
                       os.path.join(d, f"part-{i:04d}.parquet"))


def tpch_tables(rng, sf):
    n = {k: max(1, int(v * sf)) for k, v in PER_SF.items()}
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(NATIONS), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(NATIONS)],
        "n_regionkey": pa.array([k % 5 for k in range(NATIONS)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": rng.integers(0, NATIONS, nc).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(ns)],
        "s_nationkey": rng.integers(0, NATIONS, ns).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npart = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": np.char.add(np.char.add(rng.choice(ADJ, npart), " "),
                              rng.choice(NOUN, npart)),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, npart).astype(str)),
        "p_type": rng.choice(PTYPES, npart),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": _money(rng, 900.0, 999.9, npart)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": _money(rng, 1000.0, 500000.0, no),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl),
        "l_partkey": rng.integers(0, npart, nl),
        "l_suppkey": rng.integers(0, ns, nl),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)})
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": (np.datetime64("2024-01-01T00:00:00", "us") + rng.integers(
            0, 30 * 86_400_000_000, ne).astype("timedelta64[us]")),
        "user_id": rng.integers(0, max(1, ne // 67), ne),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": np.char.add(np.char.add('{"k": ',
                                         rng.integers(0, 100, ne).astype(str)),
                             "}")})
    return t


# Word frequencies fall off with rank, as in natural text.
_WORD_P = 1.0 / np.arange(1, len(VOCAB) + 1) ** 0.6
_WORD_P /= _WORD_P.sum()


def _doc_text(rng, words):
    return " ".join(VOCAB[i] for i in rng.choice(len(VOCAB), words, p=_WORD_P))


def _copy_counts(rng, total, alpha, cap):
    """Copies per original document or vector: a fixed Zipf histogram (the
    share of originals with k copies falls as k**-alpha, up to `cap`) that
    sums to `total`, in seeded order. The histogram does not depend on the
    seed, so every seed duplicates the same amount."""
    k = np.arange(1, cap + 1)
    w = k ** -float(alpha)
    originals = total / (k * w).sum() * w.sum()
    counts = []
    for c in range(cap, 1, -1):
        counts += [c] * int(round(originals * w[c - 1] / w.sum()))
    counts += [1] * (total - sum(counts))
    return [int(c) for c in rng.permutation(counts)]


def corpus_tables(rng, n_docs, n_vecs):
    """`n_docs` documents built from a smaller set of originals: each
    original gets a Zipf-skewed number of copies, and each copy a few
    seeded word edits (replace, insert or delete), so exact, near and
    substring duplicates all occur. Embeddings repeat the construction:
    unit vectors around LABELS centroids, near-duplicates by small noise."""
    texts, langs = [], []
    for copies in _copy_counts(rng, n_docs, 2.0, 50):
        base = _doc_text(rng, int(rng.integers(8, 100))).split()
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        for c in range(copies):
            w = list(base)
            if c > 0:
                for _ in range(int(rng.integers(0, 4))):
                    op, pos = int(rng.integers(0, 3)), int(rng.integers(0, len(w)))
                    if op == 0:
                        w[pos] = VOCAB[int(rng.integers(0, len(VOCAB)))]
                    elif op == 1:
                        w.insert(pos, VOCAB[int(rng.integers(0, len(VOCAB)))])
                    elif len(w) > 4:
                        del w[pos]
            texts.append(" ".join(w))
            langs.append(lang)
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    langs = [langs[i] for i in order]
    docs = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k % 20}" for k in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})

    cent = rng.normal(0, 1, (LABELS, EMB_DIM))
    vecs, labels = [], []
    for copies in _copy_counts(rng, n_vecs, 2.5, 20):
        lab = int(rng.integers(0, LABELS))
        v = cent[lab] + rng.normal(0, 1.2, EMB_DIM)
        for _ in range(copies):
            vecs.append(v + rng.normal(0, 0.02, EMB_DIM))
            labels.append(lab)
    m = np.array(vecs)
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    m = m[rng.permutation(n_vecs)]
    labels = np.array(labels, dtype=np.int32)
    emb = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": labels})
    return docs, emb


def _date(rng, lo="1995-01-02", hi="2001-10-01"):
    d = dt.date.fromisoformat(lo) + dt.timedelta(
        days=int(rng.integers(0, (dt.date.fromisoformat(hi) -
                                  dt.date.fromisoformat(lo)).days)))
    return d.isoformat()


def http_statements(rng, sizes, tpch_cheap, export_rows):
    """Distinct statements of the interactive mix, by class. Every read is
    valid both through the engine's dialect and in DuckDB, with a total
    ORDER BY or an aggregate, so its answer is deterministic."""
    n_orders, n_parts, n_cust = sizes
    reads = []
    for _ in range(4):
        k = int(rng.integers(0, n_orders))
        reads.append(
            "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
            f"o_orderpriority FROM orders WHERE o_orderkey = {k}")
    for _ in range(3):
        c = int(rng.integers(0, n_cust))
        reads.append(
            "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders "
            f"WHERE o_custkey = {c} ORDER BY o_orderkey")
    for _ in range(4):
        d0 = _date(rng)
        reads.append(
            "SELECT l_returnflag, l_linestatus, count(*) AS n, "
            "CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS qty "
            f"FROM lineitem WHERE l_shipdate >= DATE '{d0}' AND l_shipdate "
            f"< DATE '{d0}' + INTERVAL 30 DAY GROUP BY l_returnflag, "
            "l_linestatus ORDER BY l_returnflag, l_linestatus")
    for _ in range(3):
        p = int(rng.integers(0, n_parts))
        reads.append(
            "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
            f"FROM lineitem WHERE l_partkey = {p} "
            "ORDER BY l_orderkey, l_linenumber, l_extendedprice")
    reads += [f"@tpch:{q}" for q in tpch_cheap]
    reads += ["SHOW TABLES", "DESCRIBE lineitem"]
    exports = []
    for rows in export_rows:
        # lineitem orderkeys are uniform, about 4 lines per order
        lo = int(rng.integers(0, max(1, n_orders - rows // 4)))
        exports.append(
            "SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, "
            "l_quantity, l_extendedprice, l_discount, l_shipdate "
            f"FROM lineitem WHERE l_orderkey >= {lo} "
            f"AND l_orderkey < {lo + rows // 4}")
    return reads, exports


# analytics_batch: TPC-H queries run on both the DataFrame and the HTTP
# path (a scan-aggregate and a 6-way join), TPC-DS queries that persist a
# shared subtree through CacheBook, and the curation stages.
TPCH = ["q01", "q05"]
TPCDS = ["ds_q14", "ds_q23"]
STAGES = ["substring_dup", "span_dedup", "gopher_quality",
          "hashed_classifier", "cluster_balance", "ivf_ann"]

WORKLOADS = {
    # TPC-H scale, key-range files per large table, corpus documents and
    # embedding vectors
    "interactive_http": {"sf": 0.01, "files": 4, "docs": 500, "vecs": 200},
    "analytics_batch": {"sf": 0.01, "files": 4, "docs": 3_000, "vecs": 1_500},
}


def generate(workload, seed, out):
    """Write the inputs and return the plan (also saved as plan.json)."""
    rng = np.random.default_rng([seed, sorted(WORKLOADS).index(workload)])
    cfg = WORKLOADS[workload]
    os.makedirs(out, exist_ok=True)
    plan = {"workload": workload, "seed": seed}
    tables = tpch_tables(rng, cfg["sf"])
    tables["documents"], tables["embeddings"] = corpus_tables(
        rng, cfg["docs"], cfg["vecs"])
    for name, tab in tables.items():
        _write(out, name, tab, cfg["files"] if name in SORT_KEY else 1)
    if workload == "analytics_batch":
        plan["order"] = {
            "tpch_df": [str(x) for x in rng.permutation(TPCH)],
            "tpch_http": [str(x) for x in rng.permutation(TPCH)],
            "tpcds": [str(x) for x in rng.permutation(TPCDS)],
            "curation": [str(x) for x in rng.permutation(STAGES)]}
        plan["suite_order"] = [str(x) for x in rng.permutation(
            ["tpch_df", "tpch_http", "tpcds", "curation"])]
    else:
        sizes = (tables["orders"].num_rows, tables["part"].num_rows,
                 tables["customer"].num_rows)
        reads, exports = http_statements(
            rng, sizes, ["q06", "q14"], [3_000, 6_000, 9_000, 12_000])
        # one seeded order per class, which the client walks cyclically
        plan["reads"] = [reads[i] for i in rng.permutation(len(reads))]
        plan["exports"] = [exports[i] for i in rng.permutation(len(exports))]
        plan["client_seed"] = int(rng.integers(0, 2**31))
        # Statements of each class in one cycle of the client's mix. No
        # public source gives the class proportions of Presto's interactive
        # traffic, so the counts give each class about a third of client
        # time: they are inverse to the per-class mean latencies measured
        # with three clients on a 4-core x86 box (read 480 ms, INSERT
        # 1333 ms, export 813 ms, 468 operations over 10 seeds),
        # 11 x 480 ~ 4 x 1333 ~ 6 x 813.
        plan["mix"] = {"read": 11, "write": 4, "export": 6}
    sizes = {}
    for f in sorted(os.listdir(out)):
        p = os.path.join(out, f)
        if f.endswith(".parquet"):
            files = [os.path.join(p, x) for x in sorted(os.listdir(p))] \
                if os.path.isdir(p) else [p]
            sizes[f[:-len(".parquet")]] = {
                "rows": sum(pq.ParquetFile(x).metadata.num_rows for x in files),
                "bytes": sum(os.path.getsize(x) for x in files)}
    plan["inputs"] = sizes
    with open(os.path.join(out, "plan.json"), "w") as fh:
        json.dump(plan, fh, indent=1)
    return plan
