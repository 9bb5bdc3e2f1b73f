"""Seeded input generator for the graft benchmark.

Writes the parquet tables a workload reads into one directory. Every table
is a pure function of (seed, base size, replication factor): the same
arguments always give byte-identical rows.

Replication follows graft.ScaleUp's model: fact tables are copied `factor`
times with every entity key offset by k * 10**7 in replica k, so joins stay
exact inside a replica and never match across replicas; region and nation
stay fixed. Embedding replicas flip signs by a fixed per-replica pattern,
which keeps norms and cluster shapes.
"""

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

OFF = 10_000_000
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PADJ = ["small", "red", "hot", "cold", "large", "blue", "old"]
PNOUN = ["ring", "widget", "bolt", "plate", "gear"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000


def _rng(seed, salt):
    return np.random.default_rng([seed, salt])


def _write(out_dir, name, cols, schema):
    pq.write_table(pa.table(cols, schema=schema), f"{out_dir}/{name}.parquet")


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def tpch(out_dir, seed, base_orders, factor):
    """region, nation, customer, supplier, part, orders, lineitem."""
    n_cust, n_supp, n_part = base_orders // 10, max(base_orders // 150, 25), base_orders // 7
    r = _rng(seed, 1)
    _write(out_dir, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                               "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
           pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    _write(out_dir, "nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                               "n_name": [f"NATION_{i}" for i in range(25)],
                               "n_regionkey": (np.arange(25) % 5).astype(np.int32)},
           pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                      ("n_regionkey", pa.int32())]))

    def replicate(n, make):
        parts = [make(k, np.arange(n, dtype=np.int64) + k * OFF) for k in range(factor)]
        return {c: np.concatenate([p[c] for p in parts]) for c in parts[0]}

    cust = replicate(n_cust, lambda k, key: {
        "c_custkey": key,
        "c_name": np.array([f"Customer#{i:09d}" for i in key], dtype=object),
        "c_nationkey": r.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[r.integers(0, 5, n_cust)]})
    _write(out_dir, "customer", cust, pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]))
    supp = replicate(n_supp, lambda k, key: {
        "s_suppkey": key,
        "s_name": np.array([f"Supplier#{i:09d}" for i in key], dtype=object),
        "s_nationkey": r.integers(0, 25, n_supp).astype(np.int32),
        # a few negative balances so the theta join s_acctbal < n_nationkey has rows
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})
    _write(out_dir, "supplier", supp, pa.schema([
        ("s_suppkey", pa.int64()), ("s_name", pa.string()), ("s_nationkey", pa.int32()),
        ("s_acctbal", pa.float64())]))
    part = replicate(n_part, lambda k, key: {
        "p_partkey": key,
        "p_name": np.array([f"{PADJ[a]} {PNOUN[b]}" for a, b in
                            zip(r.integers(0, 7, n_part), r.integers(0, 5, n_part))], dtype=object),
        "p_brand": np.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)], dtype=object),
        "p_type": np.array(PTYPES, dtype=object)[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)})
    _write(out_dir, "part", part, pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))
    # a tenth of the customers place no order (left/full outer joins keep them)
    orders = replicate(base_orders, lambda k, key: {
        "o_orderkey": key,
        "o_custkey": r.integers(0, n_cust * 9 // 10, base_orders) + k * OFF,
        "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[r.integers(0, 3, base_orders)],
        "o_totalprice": np.round(r.uniform(1000.0, 500000.0, base_orders), 2),
        "o_orderdate": EPOCH_1995_US + r.integers(0, 2400, base_orders) * DAY_US,
        "o_orderpriority": np.array(PRIORITIES, dtype=object)[r.integers(0, 5, base_orders)]})
    orders["o_orderdate"] = _ts(orders["o_orderdate"])
    _write(out_dir, "orders", orders, pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string())]))
    lines = r.integers(1, 8, base_orders)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(base_orders, dtype=np.int64), lines)
    li_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    lineitem = replicate(n_li, lambda k, key: {
        "l_orderkey": li_order + k * OFF,
        "l_partkey": r.integers(0, n_part, n_li) + k * OFF,
        "l_suppkey": r.integers(0, n_supp, n_li) + k * OFF,
        "l_linenumber": li_num,
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 100000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[r.integers(0, 2, n_li)],
        "l_shipdate": EPOCH_1995_US + r.integers(0, 2500, n_li) * DAY_US})
    lineitem["l_shipdate"] = _ts(lineitem["l_shipdate"])
    _write(out_dir, "lineitem", lineitem, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))]))


def documents(out_dir, seed, n_docs):
    """Corpus with planted near-duplicates: about 5% of the documents copy
    an earlier one, either verbatim or with one word appended."""
    r = _rng(seed, 2)
    texts = []
    for i in range(n_docs):
        if i > 10 and r.random() < 0.05:
            src = texts[int(r.integers(0, i))]
            texts.append(src if r.random() < 0.3 else src + " dup")
        else:
            texts.append(" ".join(np.array(VOCAB)[r.integers(0, len(VOCAB), int(r.integers(8, 80)))]))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": np.array(LANGS, dtype=object)[r.integers(0, len(LANGS), n_docs)],
        "source": np.array([f"src{i % 20}" for i in range(n_docs)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                   ("source", pa.string()), ("n_chars", pa.int64())]))


def embeddings(out_dir, seed, n_vecs, factor=1, dim=64):
    """Unit-norm float vectors around ten cluster centres, with ~2% planted
    near-copies so the semantic dedup tier has work."""
    r = _rng(seed, 3)
    centres = r.normal(size=(10, dim))
    label = r.integers(0, 10, n_vecs).astype(np.int32)
    v = centres[label] * 0.35 + r.normal(size=(n_vecs, dim))
    dup = np.flatnonzero(r.random(n_vecs) < 0.02)
    dup = dup[dup > 0]
    v[dup] = v[r.integers(0, dup, dup.size)] + 0.05 * r.normal(size=(dup.size, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flips = np.where(_rng(seed, 4).random((factor, dim)) < 0.5, -1.0, 1.0)
    flips[0] = 1.0
    vecs = np.concatenate([v * flips[k] for k in range(factor)]).astype(np.float32)
    ids = np.concatenate([np.arange(n_vecs, dtype=np.int64) + k * OFF for k in range(factor)])
    emb = pa.ListArray.from_arrays(np.arange(0, vecs.size + 1, dim, dtype=np.int32),
                                   pa.array(vecs.reshape(-1), type=pa.float32()))
    _write(out_dir, "embeddings", {"vec_id": ids, "embedding": emb, "label": np.tile(label, factor)},
           pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                      ("label", pa.int32())]))


def events(out_dir, seed, n_events, n_files, n_users=1500, days=30):
    """The events table split by time into `n_files` parquet files, so a
    file source replaying one file per trigger sees event time advance
    batch by batch. About 1% of events are re-delivered (same id and
    timestamp). Returns the rows each streaming operator should emit."""
    r = _rng(seed, 5)
    ts = np.sort(EPOCH_2024_US + r.integers(0, days * DAY_US, n_events))
    ids = np.arange(n_events, dtype=np.int64)
    users = r.integers(0, n_users, n_events).astype(np.int64)
    types = np.array(EVENT_TYPES, dtype=object)[r.integers(0, 5, n_events)]
    vals = np.round(r.uniform(0.0, 100.0, n_events), 2)
    props = np.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_events)], dtype=object)
    redo = np.flatnonzero(r.random(n_events) < 0.01)
    order = np.sort(np.concatenate([np.arange(n_events), redo]), kind="stable")
    bounds = np.linspace(0, order.size, n_files + 1).astype(int)
    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us", tz="UTC")), ("user_id", pa.int64()),
                        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())])
    for f in range(n_files):
        sel = order[bounds[f]:bounds[f + 1]]
        _write(out_dir, f"part-{f:04d}", {
            "event_id": ids[sel], "ts": pa.array(ts[sel], type=pa.timestamp("us", tz="UTC")),
            "user_id": users[sel], "event_type": types[sel], "value": vals[sel],
            "props": props[sel]}, schema)
    return stream_expectations(ts // 1000, users, types)


def stream_expectations(ts_ms, users, types):
    """Rows each streaming operator emits over the whole replay, in
    append mode. Events arrive in time order, so none is late, and the
    final watermark is the newest event time minus the operator's delay.
    """
    hour = 3_600_000
    # dedupStream: every distinct id once
    dedup = int(ts_ms.size)
    # windowedTypeCounts: a 1-hour window is final once the watermark
    # (2 hours behind) reaches its end
    wm = int(ts_ms.max()) - 2 * hour
    start = ts_ms // hour * hour
    keys = {(int(s), t) for s, t in zip(start, types)}
    windows = sum(1 for s, _ in keys if s + hour <= wm)
    # sessionize: 30-minute gap sessions per user, sealed once the
    # watermark (10 minutes behind) is past session end + gap
    gap, wm = 1_800_000, int(ts_ms.max()) - 600_000
    sessions = 0
    order = np.lexsort((ts_ms, users))
    u, t = users[order], ts_ms[order]
    new = np.ones(u.size, dtype=bool)
    new[1:] = (u[1:] != u[:-1]) | (t[1:] - t[:-1] > gap)
    ends = np.flatnonzero(np.append(new[1:], True))
    sessions = int(np.sum(wm > t[ends] + gap))
    return {"dedupStream": dedup, "windowedTypeCounts": windows, "sessionize": sessions}
