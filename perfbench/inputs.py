"""Seeded input generators for the three workloads.

Every generator is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files, a different seed writes different values
with the SAME row and file counts (timings stay comparable across
seeds). The program under test only ever sees the files written here.

- :func:`write_dims` / :func:`write_day` — the pipeline's dimension
  parquet and one day's CSV drop, with planted bad files recorded in the
  returned manifest (missing mandatory column, zero bytes, wide).
- :func:`write_dml_base` / :func:`dml_ops` — the DML base table's data
  files and the seeded op sequence.
- :func:`write_query_tables` — the TPC-H-shaped star schema plus the
  ``events`` / ``documents`` / ``embeddings`` tables the query suite
  reads, in the ``<dir>/<table>.parquet`` layout ``load_table`` expects.
"""

from __future__ import annotations

import datetime as _dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

PRODUCTS = {
    "sugar 50": 50.0,
    "maida 20": 20.0,
    "refined oil 110": 110.0,
    "rice 64": 64.0,
    "dal 95": 95.0,
    "tea 240": 240.0,
    "salt 18": 18.0,
    "soap 35": 35.0,
}
STORE_IDS = list(range(121, 129))
SALES_PEOPLE_PER_STORE = 5
FIRST_DAY = _dt.date(2024, 1, 1)


def _rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


def _write_parquet(table: pa.Table, path: str) -> None:
    # no pandas metadata, fixed writer settings: byte-identical reruns
    pq.write_table(table, path, compression="snappy", store_schema=False)


# -- pipeline_daily ---------------------------------------------------------


def write_dims(seed: int, out_dir: str, n_customers: int) -> dict[str, str]:
    """Customer / store / sales_team parquet dims. The customer dim is
    large (its window marts shuffle real data); store and sales_team stay
    reference-small (8 stores, 5 sellers each)."""
    rng = _rng(seed, 1)
    os.makedirs(out_dir, exist_ok=True)
    ids = np.arange(1, n_customers + 1, dtype=np.int32)
    pin = rng.integers(560001, 560999, n_customers)
    phone = rng.integers(9_000_000_000, 9_999_999_999, n_customers)
    customer = pa.table(
        {
            "customer_id": ids,
            "first_name": [f"first{i}" for i in ids],
            "last_name": [f"last{int(x)}" for x in rng.integers(0, 5000, n_customers)],
            "address": [f"addr {int(x)}" for x in rng.integers(0, 100_000, n_customers)],
            "pincode": pin.astype(str).astype(object),
            "phone_number": phone.astype(str).astype(object),
            "customer_joining_date": pa.array(
                [FIRST_DAY - _dt.timedelta(days=int(d)) for d in rng.integers(30, 2000, n_customers)],
                pa.date32(),
            ),
        }
    )
    store = pa.table(
        {
            "id": pa.array(STORE_IDS, pa.int32()),
            "address": [f"store addr {s}" for s in STORE_IDS],
            "store_pincode": [str(560000 + s) for s in STORE_IDS],
            "store_manager_name": [f"mgr{s}" for s in STORE_IDS],
            "store_opening_date": ["2020-01-01"] * len(STORE_IDS),
            "reviews": ["ok"] * len(STORE_IDS),
        }
    )
    n_sp = len(STORE_IDS) * SALES_PEOPLE_PER_STORE
    sp_ids = list(range(1, n_sp + 1))
    sales_team = pa.table(
        {
            "id": pa.array(sp_ids, pa.int32()),
            "first_name": [f"sp_f{i}" for i in sp_ids],
            "last_name": [f"sp_l{i}" for i in sp_ids],
            "manager_id": pa.array([100 + (i - 1) // SALES_PEOPLE_PER_STORE for i in sp_ids], pa.int32()),
            "is_manager": ["N"] * n_sp,
            "address": [f"sp addr {i}" for i in sp_ids],
            "pincode": ["560001"] * n_sp,
            "joining_date": ["2021-01-01"] * n_sp,
        }
    )
    paths = {}
    for name, tbl in (("customer", customer), ("store", store), ("sales_team", sales_team)):
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        _write_parquet(tbl, paths[name])
    return paths


def day_plan(n_files: int) -> dict[str, list[int]]:
    """Which file indices of a day are planted, by kind. Fixed per day
    size (not per seed), so every seed quarantines the same count."""
    step = max(n_files // 3, 1)
    missing = [i for i in range(1, n_files, step)][:2]
    zero = [i for i in range(2, n_files, step)][:1]
    wide = list(range(n_files - 1, -1, -50))[::-1]  # the last file, then every 50th
    return {"missing": missing, "zero": zero, "wide": wide}


def write_day(
    seed: int,
    day: int,
    out_dir: str,
    n_files: int,
    rows_per_file: int,
    n_customers: int,
) -> dict:
    """One day's CSV drop into ``out_dir``. File names carry the day, so
    no two days collide in the ledger. Returns the drop's manifest:
    ``{"files": [...], "quarantine": [...], "wide": [...], "accepted_bytes": n}``
    — ``quarantine`` is the planted set the pipeline must reject."""
    os.makedirs(out_dir, exist_ok=True)
    plan = day_plan(n_files)
    date = FIRST_DAY + _dt.timedelta(days=day)
    names = list(PRODUCTS)
    prices = np.array([PRODUCTS[n] for n in names])
    sales_people = np.arange(1, len(STORE_IDS) * SALES_PEOPLE_PER_STORE + 1)
    files, quarantine, wide, total = [], [], [], 0
    for i in range(n_files):
        name = f"sales_d{day:04d}_{i:04d}.csv"
        path = os.path.join(out_dir, name)
        files.append(name)
        if i in plan["zero"]:
            open(path, "wb").close()
            quarantine.append(name)
            continue
        rng = _rng(seed, 2, day, i)
        n = rows_per_file
        # a skewed customer draw: a hot head of regulars plus a long tail
        cust = np.where(
            rng.random(n) < 0.3,
            rng.integers(1, max(n_customers // 100, 2), n),
            rng.integers(1, n_customers + 1, n),
        ).astype(np.int32)
        seller = rng.choice(sales_people, n)
        store = np.array(STORE_IDS)[(seller - 1) // SALES_PEOPLE_PER_STORE]
        prod = rng.integers(0, len(names), n)
        qty = rng.integers(1, 11, n).astype(np.int32)
        price = prices[prod]
        cols = {
            "customer_id": cust,
            "store_id": store.astype(np.int32),
            "product_name": pa.array(names).take(pa.array(prod)),
            "sales_date": pa.array([date] * n, pa.date32()),
            "sales_person_id": seller.astype(np.int32),
            "price": price,
            "quantity": qty,
            "total_cost": np.round(price * qty, 2),
        }
        if i in plan["missing"]:
            del cols["quantity"]
            quarantine.append(name)
        elif i in plan["wide"]:
            cols["payment_mode"] = pa.array(["UPI", "cash", "card"]).take(
                pa.array(rng.integers(0, 3, n))
            )
            wide.append(name)
        pacsv.write_csv(pa.table(cols), path, pacsv.WriteOptions(quoting_style="none"))
        if quarantine[-1:] != [name]:
            total += os.path.getsize(path)
    return {"files": files, "quarantine": sorted(quarantine), "wide": wide, "accepted_bytes": total}


# -- table_dml --------------------------------------------------------------

DML_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("grp", pa.int32()),
        ("amount", pa.float64()),
        ("day", pa.int32()),
        ("payload", pa.string()),
    ]
)


def _dml_rows(rng: np.random.Generator, ids: np.ndarray, day: int) -> pa.Table:
    n = len(ids)
    return pa.table(
        {
            "id": ids.astype(np.int64),
            "grp": rng.integers(0, 64, n).astype(np.int32),
            "amount": np.round(rng.random(n) * 1000, 2),
            "day": np.full(n, day, np.int32),
            "payload": pa.array([f"p{int(x):08d}" for x in rng.integers(0, 10**8, n)]),
        },
        schema=DML_SCHEMA,
    )


def write_dml_base(seed: int, table_dir: str, n_rows: int, n_files: int) -> int:
    """The DML table's starting data: ``n_files`` parquet files of
    contiguous id ranges (so footer stats can prune), ``day`` rising with
    id (recent rows have high ids). Returns the bytes written."""
    os.makedirs(table_dir, exist_ok=True)
    per = n_rows // n_files
    total = 0
    for f in range(n_files):
        rng = _rng(seed, 3, f)
        ids = np.arange(f * per, (f + 1) * per)
        path = os.path.join(table_dir, f"part-{f:05d}.parquet")
        _write_parquet(_dml_rows(rng, ids, f), path)
        total += os.path.getsize(path)
    return total


def _skewed(rng: np.random.Generator, lo: int, width: int, n: int) -> np.ndarray:
    """``n`` ids in ``[lo, lo + width)`` piled toward the newest (u**2)."""
    return (lo + width - 1 - np.floor(width * rng.random(n) ** 2)).astype(np.int64)


# one block of the op sequence: (kind, deletion_vectors). Reads follow
# every second commit; compaction closes the block.
DML_BLOCK = [
    ("merge", False),
    ("update", False),
    ("delete", True),
    ("insert", False),
    ("merge", True),
    ("delete", False),
    ("compact", False),
]
# the warm-up block: every op kind once, at a small size
WARM_BLOCK = [("merge", True), ("update", True), ("delete", False), ("insert", False), ("compact", False)]


def dml_ops(
    seed: int, n_base: int, n_files: int, n_blocks: int, batch_rows: int,
    block: list = DML_BLOCK,
) -> list[dict]:
    """The seeded op sequence: ``n_blocks`` repetitions of ``block``.

    Keys are skewed and recent-biased: every merge / update / delete
    targets one of the three newest base files (rotating by op position,
    not by seed) and, inside it, ids piled toward its newest end. So
    every seed touches the same number of files of the same sizes and
    only the values differ — write amplification and commit cost do not
    swing with the seed. Payload rows are pyarrow tables; new ids (merge
    inserts, inserts) are allocated above every id issued so far."""
    rng = _rng(seed, 4)
    per = n_base // n_files
    next_id = n_base
    ops: list[dict] = []
    txn = 0
    for b in range(n_blocks):
        for j, (kind, dv) in enumerate(block):
            op: dict = {"kind": kind, "dv": dv, "block": b}
            start = (n_files - 1 - (b + j) % 3) * per  # the target base file
            if kind == "merge":
                old = np.unique(_skewed(rng, start, per, batch_rows * 7 // 10))
                new = np.arange(next_id, next_id + batch_rows - len(old))
                next_id += len(new)
                op["rows"] = _dml_rows(rng, np.concatenate([old, new]), 1000 + len(ops))
            elif kind == "update":
                lo = int(_skewed(rng, start, per - batch_rows, 1)[0])
                op.update(lo=lo, hi=lo + batch_rows, add=float(rng.integers(1, 50)) + 0.5)
                op["predicate"] = f"id BETWEEN {lo} AND {lo + batch_rows}"
            elif kind == "delete":
                lo = int(_skewed(rng, start, per - batch_rows, 1)[0])
                g = int(rng.integers(0, 64))
                op.update(lo=lo, hi=lo + batch_rows // 2, grp=g)
                op["predicate"] = f"id BETWEEN {lo} AND {lo + batch_rows // 2} AND grp <> {g}"
            elif kind == "insert":
                ids = np.arange(next_id, next_id + batch_rows)
                next_id += batch_rows
                txn += 1
                op["rows"] = _dml_rows(rng, ids, 2000 + len(ops))
                op["txn"] = ("perfbench", txn)
            ops.append(op)
    return ops


def dml_reads(seed: int, n_base: int, n: int) -> list[tuple[int, int]]:
    """``[lo, hi)`` id windows (1% of the base, in its newest 5%) for the
    interleaved selective ``scan_table`` reads."""
    rng = _rng(seed, 5)
    width = n_base // 100
    return [(int(lo), int(lo) + width) for lo in _skewed(rng, n_base - 5 * width, 4 * width, n)]


# -- query_suite ------------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]


def _days(rng, n, start: _dt.date, span_days: int) -> pa.Array:
    base = np.datetime64(start.isoformat(), "us")
    off = rng.integers(0, span_days, n).astype("timedelta64[D]")
    return pa.array((base + off).astype("datetime64[us]"), pa.timestamp("us"))


def write_query_tables(seed: int, out_dir: str, sf: float) -> None:
    """The star schema + events/documents/embeddings at scale ``sf``
    (sf 0.01 = 60k lineitem rows). Column names, types and value domains
    follow the repo's TPC-H-ish fixtures, so every suite query and its
    ``oracle_sql()`` twin run unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec, n_user = int(50_000 * sf), int(50_000 * sf), int(15_000 * sf)
    rng = _rng(seed, 6)

    def put(name: str, cols: dict) -> None:
        _write_parquet(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    put("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": pa.array(segs).take(pa.array(rng.integers(0, 5, n_cust))),
    })
    put("supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    types = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
    put("part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(types).take(pa.array(rng.integers(0, 6, n_part))),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    put("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": pa.array(["F", "O", "P"]).take(pa.array(rng.integers(0, 3, n_ord))),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, _dt.date(1995, 1, 1), 2404),
        "o_orderpriority": pa.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        ).take(pa.array(rng.integers(0, 5, n_ord))),
    })
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": pa.array(["A", "N", "R"]).take(pa.array(rng.integers(0, 3, n_li))),
        "l_linestatus": pa.array(["F", "O"]).take(pa.array(rng.integers(0, 2, n_li))),
        "l_shipdate": _days(rng, n_li, _dt.date(1995, 1, 2), 2498),
    })
    # events: a time-ordered stream over 30 days, microsecond timestamps
    start = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(30 * 86400e6 / n_ev, n_ev).astype(np.int64)
    ts = start + np.cumsum(gaps).astype("timedelta64[us]")
    put("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_ev).astype(np.int64),
        "event_type": pa.array(["click", "view", "purchase", "signup", "error"]).take(
            pa.array(rng.integers(0, 5, n_ev))
        ),
        "value": np.maximum(np.round(rng.exponential(50, n_ev), 2), 0.01),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: bag-of-words over a 30-word vocabulary; ~5% are near
    # duplicates (an earlier document plus one or two "dup" tokens)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    langs = np.array(["en", "de", "es", "fr", "zh"])
    put("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": langs[np.where(rng.random(n_doc) < 0.44, 0, rng.integers(1, 5, n_doc))],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], np.int64),
    })
    # embeddings: unit vectors around 10 weak cluster centres
    labels = rng.integers(0, 10, n_vec)
    centres = rng.normal(size=(10, 64))
    vec = rng.normal(size=(n_vec, 64)) + 1.2 * centres[labels]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
