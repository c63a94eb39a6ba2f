"""Seeded input generator for the benchmark.

Everything the program under test reads is made here from the run's
seed; the same seed gives byte-identical files (pyarrow writes no
timestamps or host names into parquet or JSON).

* ``make_tables``: the ten query tables (TPC-H-like star schema plus
  ``events``, ``documents`` and ``embeddings``), shaped like the
  project's test data. ``region``, ``nation`` and ``part`` are fixed
  catalogue tables that do not depend on the seed, so the two
  rows-only queries (which read only ``part``) can be checked against
  a pinned count and hash.
* ``make_registers``: the four Tag Registry registers, written as the
  first committed copy-on-write version that ``api.TagRegistry`` reads.
* ``make_ops``: the seeded op sequence for ``registry_ops``, including
  the tag-update JSON files each stream drain ingests.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGISTERS = ("Equipment", "Instrument", "Line", "Cable")

_WORDS = (
    "a the big small fast slow data table row column key value order line part "
    "customer spark query scan filter join merge agg group sort hash window "
    "stream batch vector"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("blue", "cold", "large", "new", "old", "small", "red", "hot")
_PART_NOUN = ("anvil", "bolt", "gizmo", "plate", "ring", "rod", "widget", "gear")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_USERS = ("alice", "bob", "chen", "dara", "eve", "farid")


def _days(rng, n, start, end):
    """``n`` midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return pa.array(np.datetime64(start, "us") + d.astype("timedelta64[D]"), pa.timestamp("us"))


def _write(out_dir, name, table):
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def make_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten query tables for scale factor ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    fixed = np.random.default_rng(0)
    n_cust = max(50, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(500, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_users = max(15, n_events // 66)

    _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(_REGIONS)}))
    _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    # seed-independent catalogue (see module docstring)
    pk = np.arange(n_part)
    _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(
            fixed.integers(0, 8, n_part), fixed.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in fixed.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[t] for t in fixed.integers(0, 6, n_part)],
        "p_size": pa.array(fixed.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)}))

    _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]}))
    _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}))
    _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_orders), 2),
        "o_orderdate": _days(rng, n_orders, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]}))

    lines = rng.binomial(7, 4 / 7, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)
    n_li = len(okey)
    linenumber = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    flags = rng.integers(0, 3, n_li)
    _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in flags],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, n_li, dt.date(1995, 1, 2), dt.date(2001, 11, 4))}))

    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.uniform(0.01, 490.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]}))

    n_docs = max(500, int(50_000 * sf))
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:  # planted near-duplicate
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(_WORDS[w] for w in rng.integers(0, len(_WORDS), rng.integers(10, 100))))
    _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))

    n_vec = max(500, int(20_000 * sf))
    centers = rng.normal(size=(10, 64))
    label = rng.integers(0, 10, n_vec)
    vec = centers[label] + rng.normal(scale=1.5, size=(n_vec, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())}))


# --- Tag Registry -----------------------------------------------------------

REGISTER_SCHEMA = pa.schema([
    ("tag_no", pa.string()), ("description", pa.string()), ("document", pa.string()),
    ("modified_by", pa.string()), ("modified_date", pa.timestamp("us")),
])
_DATE0 = dt.datetime(2021, 1, 1)
_DATE_SPAN_S = 4 * 365 * 86_400


def _tag(prefix: str, code: int) -> str:
    """Reference-shaped tag number, e.g. ``E17-A_F-1158A``."""
    area, code = code % 100, code // 100
    l1, code = chr(65 + code % 26), code // 26
    l2, code = chr(65 + code % 26), code // 26
    num, code = code % 10_000, code // 10_000
    return f"{prefix}{area:02d}-{l1}_{l2}-{num:04d}{chr(65 + code % 4)}"


def _docs(rng, k: int) -> str:
    return ";".join(f"DWG-{d:05d}" for d in sorted(set(rng.integers(0, 20_000, k).tolist())))


def register_rows(seed: int, register: str, n: int) -> list[dict]:
    """The initial rows of one register (also the benchmark's model)."""
    rng = np.random.default_rng([seed, 2, REGISTERS.index(register)])
    codes = rng.choice(100 * 26 * 26 * 10_000 * 4, n, replace=False).tolist()
    secs = rng.integers(0, _DATE_SPAN_S, n).tolist()
    # ~1% of rows carry no date and ~2% no document, as in the reference data
    no_date = (rng.random(n) < 0.01).tolist()
    no_doc = (rng.random(n) < 0.02).tolist()
    n_docs = rng.integers(1, 4, n).tolist()
    doc_ids = rng.integers(0, 20_000, (n, 3)).tolist()
    return [{
        "tag_no": _tag(register[0], code),
        "description": f"{register} item {code % 9973}",
        "document": None if nd else ";".join(f"DWG-{d:05d}" for d in sorted(set(ids[:k]))),
        "modified_by": _USERS[code % len(_USERS)],
        "modified_date": None if nt else _DATE0 + dt.timedelta(seconds=s),
    } for code, s, nt, nd, k, ids in zip(codes, secs, no_date, no_doc, n_docs, doc_ids)]


def write_version(path: str, rows: list[dict]) -> None:
    """Commit ``rows`` as a register version directory the API reads."""
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, REGISTER_SCHEMA), os.path.join(path, "part-00000.parquet"))
    open(os.path.join(path, "_SUCCESS"), "w").close()


def make_registers(root: str, seed: int, n: int) -> dict[str, list[dict]]:
    """Write the four registers under ``root``; returns their rows."""
    out = {}
    for reg in REGISTERS:
        rows = register_rows(seed, reg, n)
        write_version(os.path.join(root, reg.lower(), f"v{1:025d}"), rows)
        out[reg] = rows
    return out


def make_ops(seed: int, registers: dict[str, list[dict]], cycles: int, batch: int) -> list[list[dict]]:
    """``cycles`` op cycles for ``registry_ops``. Each cycle holds the same
    op kinds in the same order with seeded arguments: eight reads, four
    writes and one stream drain. Tags are drawn from the initial rows, so
    some later ops touch tags an earlier op deleted, as a UI would."""
    rng = np.random.default_rng([seed, 3])
    tags = {r: [row["tag_no"] for row in rows] for r, rows in registers.items()}

    def pick(reg, k):
        return [tags[reg][i] for i in rng.choice(len(tags[reg]), k, replace=False)]

    def reg():
        return REGISTERS[int(rng.integers(0, len(REGISTERS)))]

    def term(reg):
        return pick(reg, 1)[0][1:5]  # area and first letter, e.g. "17-A"

    out = []
    new_code = 10**9
    for c in range(cycles):
        ops = []
        r = reg()
        ops.append({"op": "get_data", "register": r, "page": int(rng.integers(1, 6))})
        r = reg()
        ops.append({"op": "get_data_search", "register": r, "search": term(r),
                    "page": int(rng.integers(1, 3))})
        r = reg()
        ops.append({"op": "get_data_after", "register": r, "search": None, "pages": 1})
        ops.append({"op": "get_data_after", "register": r, "search": None, "pages": 2})
        r = reg()
        ops.append({"op": "find_tag", "tag_no": pick(r, 1)[0]})
        r = reg()
        ops.append({"op": "get_data_after", "register": r, "search": term(r), "pages": 1})
        day = int(rng.integers(0, 4 * 365 - 30))
        ops.append({"op": "sync_rows",
                    "start": (_DATE0 + dt.timedelta(days=day)).isoformat(sep=" "),
                    "end": (_DATE0 + dt.timedelta(days=day + 30)).isoformat(sep=" ")})
        r = reg()
        ops.append({"op": "get_data", "register": r, "page": 1})

        r = reg()
        rows = [{"tag_no": t, "description": f"updated {c}", "document": _docs(rng, 2),
                 "modified_by": "bench"} for t in pick(r, batch)]
        for _ in range(batch // 2):
            new_code += 1
            rows.append({"tag_no": _tag(r[0], new_code), "description": f"new {c}",
                         "document": _docs(rng, 1), "modified_by": "bench"})
        ops.append({"op": "upsert_tags", "register": r, "rows": rows})
        r = reg()
        rows = [{"tagno": t, "description": f"imported {c}", "document": None,
                 "modified_by": "import"} for t in pick(r, batch)]
        rows += [{"tagno": " null ", "description": "no tag", "document": None, "modified_by": "import"},
                 {"tagno": pick(r, 1)[0], "description": "nan", "document": None, "modified_by": "import"}]
        ops.append({"op": "import_rows", "register": r, "rows": rows})
        r = reg()
        ops.append({"op": "delete_tags", "register": r, "tag_nos": pick(r, max(1, batch // 4))})
        r = reg()
        hist = [{"tag_no": t, "description": f"approved {c}", "action": "Edit",
                 "approval_status": "PENDING"} for t in pick(r, batch // 2)]
        for _ in range(batch // 4):
            new_code += 1
            hist.append({"tag_no": _tag(r[0], new_code), "description": f"added {c}",
                         "action": "Add", "approval_status": "PENDING"})
        hist.append({"tag_no": pick(r, 1)[0], "description": "dup add", "action": "Add",
                     "approval_status": "PENDING"})
        hist.append({"tag_no": pick(r, 1)[0], "description": "done", "action": "Edit",
                     "approval_status": "APPROVED"})
        ops.append({"op": "apply_approvals", "register": r, "history": hist})

        updates = [{"tag_no": t, "description": f"stream {c}", "seq": c * 1000 + int(s)}
                   for t, s in zip(pick("Instrument", batch), rng.integers(0, 1000, batch))]
        ops.append({"op": "stream_drain", "files": [updates[: batch // 2], updates[batch // 2:]]})
        out.append(ops)
    return out


def write_json_lines(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for row in rows:
            f.write(json.dumps(row, sort_keys=True) + "\n")
