"""Seeded input generator for the benchmark.

The tables have the schemas and value domains of the repository's
star-schema + event + LLM-corpus fixtures (see FIXTURES.md): one fixed
content seed draws every row, so the row MULTISET of a table depends only
on the workload's scale and every seed shares the same oracle answers.
The benchmark seed changes only the physical layout: which file each row
lands in and the row order inside the files. The layout shape (files and
row groups per table) is fixed per workload in workloads.json.
"""
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20170529
# bump when the drawn content changes: it is part of the cache stamp
GEN_VERSION = 1

VOCAB = ("query row stream the batch sort value hash filter big data spark "
         "line small fast group customer part column order scan a slow agg "
         "key window table merge vector join").split()
NOUNS = "widget gizmo ring gear bolt plate rod anvil".split()
ADJS = "blue old small new large hot cold red".split()
PTYPES = "SMALL MEDIUM LARGE STANDARD ECONOMY PROMO".split()
SEGMENTS = "FURNITURE BUILDING MACHINERY HOUSEHOLD AUTOMOBILE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = "click view purchase signup error".split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

DAY_US = 86_400_000_000


def _ts(day0: str, n: int, days: int, rng) -> np.ndarray:
    base = np.datetime64(day0, "D").astype("datetime64[us]").astype(np.int64)
    return base + rng.integers(0, days + 1, n) * DAY_US


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _tables(scale: dict) -> dict:
    """Every table as a pyarrow Table, drawn from CONTENT_SEED only."""
    rng = np.random.default_rng(CONTENT_SEED)
    sf = scale["star_sf"]
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(scale["events"]), int(scale["events"]) * 3 // 200
    n_doc, n_emb = int(scale["documents"]), int(scale["embeddings"])
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    ck = np.arange(n_cust)
    t["customer"] = pa.table({
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    sk = np.arange(n_supp)
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part)
    names = np.char.add(np.char.add(np.array(ADJS)[rng.integers(0, 8, n_part)], " "),
                        np.array(NOUNS)[rng.integers(0, 8, n_part)])
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})
    ok = np.arange(n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": pa.array(_ts("1995-01-01", n_ord, 2403, rng), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_ts("1995-01-02", n_li, 2498, rng), pa.timestamp("us"))})
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(t0 + rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for _ in range(n_doc):
        words = np.array(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 101))]
        texts.append(" ".join(words))
    # 5% near-duplicates: an earlier document's text plus a marker word
    for i in rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    dk = np.arange(n_doc)
    t["documents"] = pa.table({
        "doc_id": pa.array(dk, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": np.char.add("src", (dk % 20).astype(str)),
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return t


def stamp(scale: dict, layout: dict, seed: int) -> str:
    """Provenance stamp of one generated input set."""
    spec = json.dumps({"v": GEN_VERSION, "content_seed": CONTENT_SEED,
                       "scale": scale, "layout": layout, "seed": seed},
                      sort_keys=True)
    return hashlib.sha256(spec.encode()).hexdigest()[:16]


def _write(table: pa.Table, path: str, files: int, row_groups: int, rng) -> None:
    """Permute rows with the layout rng, cut them into `files` parts of
    `row_groups` row groups each."""
    os.makedirs(path)
    table = table.take(rng.permutation(table.num_rows))
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        rg = max(1, -(-part.num_rows // row_groups))
        pq.write_table(part, f"{path}/part-{i:05d}.parquet", row_group_size=rg)


def describe(d: str) -> dict:
    """rows, bytes, files and row groups per table of a generated set."""
    out = {}
    for name in sorted(os.listdir(d)):
        if not name.endswith(".parquet"):
            continue
        parts = sorted(os.listdir(f"{d}/{name}"))
        metas = [pq.ParquetFile(f"{d}/{name}/{p}").metadata for p in parts]
        out[name[:-8]] = {
            "rows": sum(m.num_rows for m in metas),
            "bytes": sum(os.path.getsize(f"{d}/{name}/{p}") for p in parts),
            "files": len(parts),
            "row_groups": sum(m.num_row_groups for m in metas)}
    return out


def ensure(root: str, name: str, scale: dict, layout: dict, seed: int,
           keep: int = 6) -> str:
    """Return the directory holding the inputs for (scale, layout, seed),
    generating them on a cache miss. At most `keep` input sets stay
    cached under `root`; the least recently used go first."""
    st = stamp(scale, layout, seed)
    d = os.path.join(root, f"{name}-s{seed}-{st}")
    if os.path.exists(os.path.join(d, "_STAMP")):
        os.utime(d)
        return d
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([CONTENT_SEED, seed])
    for t, table in _tables(scale).items():
        files, rgs = layout.get(t, layout["default"])
        _write(table, f"{tmp}/{t}.parquet", files, rgs, rng)
    with open(os.path.join(tmp, "_STAMP"), "w") as f:
        f.write(st + "\n")
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    old = sorted((os.path.getmtime(os.path.join(root, x)), x) for x in os.listdir(root))
    for _, x in old[:-keep]:
        shutil.rmtree(os.path.join(root, x), ignore_errors=True)
    return d
