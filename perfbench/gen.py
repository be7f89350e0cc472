"""Seeded input generators for the migration workloads.

Each generator writes the source files for one workload into ``out_dir``
and returns an ``Expect`` record: the per-table row counts the target must
hold after orphan cleanup, the primary-key domains (sorted key lists, used
to count non-empty chunks), and the raw values of a fixed sample of rows for
the value checks. The program under test only ever sees the files; the
expectations stay on the benchmark side.

The same ``seed`` always yields byte-identical inputs.
"""

from __future__ import annotations

import json
import os
import random
import sqlite3
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per scale: "bench" is the measured size, "tiny" the self-test size.
SCALES = {
    "sqlite_pg": {"bench": 10_000, "tiny": 2_000},
    "mysql_resume": {"bench": 10_000, "tiny": 3_000},
}

SAMPLE_ROWS = 64


@dataclass
class Expect:
    counts: dict[str, int]
    source_rows: int
    pk_keys: dict[str, list[int]] = field(default_factory=dict)
    sample: dict[str, dict] = field(default_factory=dict)
    extra: dict = field(default_factory=dict)


def _sample_ids(rng: random.Random, ids: list[int], k: int = SAMPLE_ROWS) -> list[int]:
    return sorted(rng.sample(ids, min(k, len(ids))))


# -- sqlite_pg: a five-table "shop" database ------------------------------

SHOP_DDL = """
CREATE TABLE categories (
  id   INTEGER PRIMARY KEY,
  name TEXT NOT NULL
);
CREATE TABLE customers (
  id          INTEGER PRIMARY KEY,
  name        TEXT NOT NULL,
  email       TEXT,
  note        TEXT,
  referred_by INTEGER REFERENCES customers(id)
);
CREATE TABLE products (
  id          INTEGER PRIMARY KEY,
  category_id INTEGER REFERENCES categories(id) ON DELETE SET NULL,
  title       TEXT NOT NULL,
  price       REAL,
  image       BLOB
);
CREATE TABLE orders (
  id          INTEGER PRIMARY KEY,
  customer_id INTEGER NOT NULL REFERENCES customers(id),
  placed_at   TEXT,
  note        TEXT
);
CREATE TABLE order_items (
  id         INTEGER PRIMARY KEY,
  order_id   INTEGER NOT NULL REFERENCES orders(id),
  product_id INTEGER NOT NULL REFERENCES products(id),
  qty        INTEGER,
  price      REAL
);
CREATE INDEX idx_orders_customer ON orders(customer_id);
CREATE INDEX idx_items_order ON order_items(order_id);
"""

# text that COPY TEXT format must escape: tab, newline, CR, backslash
_AWKWARD = ["tab\there", "line\nbreak", "back\\slash", "cr\rlf", "mix\t\\n\n\\", "plain"]


def gen_sqlite_shop(out_dir: str, seed: int, rows: int) -> tuple[str, Expect]:
    """SQLite shop DB of about ``rows`` rows with ~1% orphan children."""
    rng = random.Random(seed)
    n_cat = 40
    n_cust = rows // 10
    n_prod = rows // 20
    n_ord = rows // 4
    n_item = rows - n_cat - n_cust - n_prod - n_ord

    def dangling(n: int) -> int:  # a key no parent row has
        return n + 1 + rng.randrange(1_000_000)

    def text(i: int) -> str:
        return f"{rng.choice(_AWKWARD)} #{i} {rng.random():.6f}"

    # self-FK orphans stay leaves: cleanup is one anti-join against the
    # pre-clean table (the reference's single DELETE), so a row referring
    # to a deleted orphan would survive and fail the FK replay
    customers, referable = [], []
    for i in range(1, n_cust + 1):
        r = rng.random()
        ref = None
        if r < 0.01:
            ref = dangling(n_cust)  # self-FK orphan: row is deleted
        else:
            if r < 0.2 and referable:
                ref = rng.choice(referable)
            referable.append(i)
        customers.append((i, f"cust {i}", f"c{i}@shop.test", text(i), ref))
    products = []
    for i in range(1, n_prod + 1):
        cat = dangling(n_cat) if rng.random() < 0.01 else rng.randrange(1, n_cat + 1)
        image = bytes(rng.randrange(256) for _ in range(rng.randrange(8, 48)))
        products.append((i, cat, text(i), round(rng.uniform(1, 500), 2), image))
    orders = []
    for i in range(1, n_ord + 1):
        cust = dangling(n_cust) if rng.random() < 0.01 else rng.randrange(1, n_cust + 1)
        day = f"2024-{rng.randrange(1, 13):02d}-{rng.randrange(1, 29):02d}"
        orders.append((i, cust, day, text(i) if rng.random() < 0.3 else None))
    items = []
    for i in range(1, n_item + 1):
        order = dangling(n_ord) if rng.random() < 0.01 else rng.randrange(1, n_ord + 1)
        prod = dangling(n_prod) if rng.random() < 0.005 else rng.randrange(1, n_prod + 1)
        items.append((i, order, prod, rng.randrange(1, 10), round(rng.uniform(1, 500), 2)))

    path = os.path.join(out_dir, "shop.db")
    con = sqlite3.connect(path)
    con.executescript(SHOP_DDL)
    con.executemany("INSERT INTO categories VALUES (?,?)",
                    [(i, f"cat {i}") for i in range(1, n_cat + 1)])
    con.executemany("INSERT INTO customers VALUES (?,?,?,?,?)", customers)
    con.executemany("INSERT INTO products VALUES (?,?,?,?,?)", products)
    con.executemany("INSERT INTO orders VALUES (?,?,?,?)", orders)
    con.executemany("INSERT INTO order_items VALUES (?,?,?,?,?)", items)
    con.commit()
    con.close()

    # expected state after cleanup: the self-FK anti-join sees the whole
    # pre-clean table, and children are checked against CLEANED parents
    cust_ids = set(range(1, n_cust + 1))
    live_cust = {c[0] for c in customers if c[4] is None or c[4] in cust_ids}
    live_ord = {o[0] for o in orders if o[1] in live_cust}
    prod_ids = set(range(1, n_prod + 1))
    live_items = [it for it in items if it[1] in live_ord and it[2] in prod_ids]
    counts = {
        "categories": n_cat, "customers": len(live_cust), "products": n_prod,
        "orders": len(live_ord), "order_items": len(live_items),
    }
    cust_sample = _sample_ids(rng, sorted(live_cust))
    prod_sample = _sample_ids(rng, list(prod_ids))
    by_cust = {c[0]: c for c in customers}
    sample = {
        "customers": {i: {"note": by_cust[i][3]} for i in cust_sample},
        "products": {
            i: {
                "title": products[i - 1][2],
                "image": products[i - 1][4].hex(),
                "category_id": products[i - 1][1] if products[i - 1][1] <= n_cat else None,
            }
            for i in prod_sample
        },
    }
    sizes = {"categories": n_cat, "customers": n_cust, "products": n_prod,
             "orders": n_ord, "order_items": n_item}
    exp = Expect(
        counts=counts,
        source_rows=sum(sizes.values()),
        pk_keys={t: list(range(1, n + 1)) for t, n in sizes.items()},
        sample=sample,
        extra={
            "null_categories": sum(1 for p in products if p[1] > n_cat),
            "primary_keys": 5,
            "foreign_keys": 5,
            "indexes": 2,
        },
    )
    return path, exp


# -- mysql_resume: MySQL-wire-shaped wide tables ---------------------------

_SET_VALUES = ["read", "write", "admin", "audit"]
_TIERS = ["free", "pro", "team"]
_KINDS = ["click", "view", "buy", "refund"]


def _col(table, name, data_type, column_type, pos, nullable="YES", **kw):
    return {"TABLE_NAME": table, "COLUMN_NAME": name, "DATA_TYPE": data_type,
            "COLUMN_TYPE": column_type, "IS_NULLABLE": nullable,
            "ORDINAL_POSITION": pos, **kw}


def mysql_catalog_rows() -> dict[str, list[dict]]:
    """information_schema-shaped rows for the two wide tables."""
    a, e = "accounts", "events"
    columns = [
        _col(a, "id", "bigint", "bigint", 1, "NO"),
        _col(a, "uid", "binary", "binary(16)", 2),
        _col(a, "ext_ref", "char", "char(36)", 3),
        _col(a, "active", "tinyint", "tinyint(1)", 4, "NO"),
        _col(a, "perms", "set", "set('read','write','admin','audit')", 5),
        _col(a, "tier", "enum", "enum('free','pro','team')", 6),
        _col(a, "flags", "bit", "bit(8)", 7),
        _col(a, "since", "year", "year", 8),
        _col(a, "daily", "time", "time", 9),
        _col(a, "meta", "json", "json", 10),
        _col(a, "name", "varchar", "varchar(64)", 11, CHARACTER_MAXIMUM_LENGTH=64),
        _col(e, "id", "bigint", "bigint", 1, "NO"),
        _col(e, "account_id", "bigint", "bigint", 2, "NO"),
        _col(e, "uid", "binary", "binary(16)", 3),
        _col(e, "kind", "enum", "enum('click','view','buy','refund')", 4),
        _col(e, "payload", "json", "json", 5),
        _col(e, "took", "time", "time", 6),
        _col(e, "ok", "tinyint", "tinyint(1)", 7, "NO"),
    ]
    stats = [
        {"TABLE_NAME": a, "INDEX_NAME": "PRIMARY", "NON_UNIQUE": 0, "SEQ_IN_INDEX": 1,
         "COLUMN_NAME": "id", "INDEX_TYPE": "BTREE"},
        {"TABLE_NAME": e, "INDEX_NAME": "PRIMARY", "NON_UNIQUE": 0, "SEQ_IN_INDEX": 1,
         "COLUMN_NAME": "id", "INDEX_TYPE": "BTREE"},
        {"TABLE_NAME": e, "INDEX_NAME": "idx_events_account", "NON_UNIQUE": 1,
         "SEQ_IN_INDEX": 1, "COLUMN_NAME": "account_id", "INDEX_TYPE": "BTREE"},
    ]
    fks = [{"TABLE_NAME": e, "CONSTRAINT_NAME": "fk_events_account",
            "COLUMN_NAME": "account_id", "REFERENCED_TABLE_NAME": a,
            "REFERENCED_COLUMN_NAME": "id", "UPDATE_RULE": "RESTRICT",
            "DELETE_RULE": "RESTRICT"}]
    return {"tables": [{"TABLE_NAME": a}, {"TABLE_NAME": e}], "columns": columns,
            "statistics": stats, "foreign_keys": fks}


def gapped_keys(n: int, replicas: int = 4) -> list[int]:
    """``n`` keys laid out as ``replicas`` contiguous runs, each shifted by a
    power of ten well above the run's length (the replica-offset layout of
    tools/make_sf_scale.py, or of merged shards), so most of the key span is
    gaps that a range-chunk planner still has to cover."""
    per = -(-n // replicas)
    offset = 10 ** len(str(6 * per))
    return [r * offset + k for r in range(replicas) for k in range(1, per + 1)][:n]


def _mysql_time(rng: random.Random) -> str:
    sign = "-" if rng.random() < 0.1 else ""
    return f"{sign}{rng.randrange(0, 839):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"


def _maybe_nul(rng: random.Random, s: str) -> str:
    return s.replace(":", ":\x00", 1) if rng.random() < 0.05 else s


def gen_mysql_wire(out_dir: str, seed: int, rows: int) -> tuple[str, Expect]:
    rng = random.Random(seed)
    n_acc = rows // 6
    n_ev = rows - n_acc

    def rand_bytes(n: int) -> bytes:
        return rng.getrandbits(8 * n).to_bytes(n, "big")

    acc = {c: [] for c in ("id", "uid", "ext_ref", "active", "perms", "tier", "flags",
                           "since", "daily", "meta", "name")}
    for i in range(1, n_acc + 1):
        acc["id"].append(i)
        acc["uid"].append(None if rng.random() < 0.02 else rand_bytes(16))
        acc["ext_ref"].append(str(uuid.UUID(bytes=rand_bytes(16))).upper())
        acc["active"].append(rng.randrange(2))
        acc["perms"].append(",".join(v for v in _SET_VALUES if rng.random() < 0.4))
        acc["tier"].append(rng.choice(_TIERS))
        acc["flags"].append(bytes([rng.randrange(256)]))
        acc["since"].append(rng.randrange(1990, 2025))
        acc["daily"].append(_mysql_time(rng))
        acc["meta"].append(_maybe_nul(rng, json.dumps({"k": i, "v": rng.randrange(1000)})))
        acc["name"].append(_maybe_nul(rng, f"acct:{i}"))
    ev = {c: [] for c in ("id", "account_id", "uid", "kind", "payload", "took", "ok")}
    for i in gapped_keys(n_ev):
        ev["id"].append(i)
        orphan = rng.random() < 0.01
        ev["account_id"].append(n_acc + 1 + rng.randrange(10**6) if orphan
                                else rng.randrange(1, n_acc + 1))
        ev["uid"].append(rand_bytes(16))
        ev["kind"].append(rng.choice(_KINDS))
        ev["payload"].append(_maybe_nul(rng, json.dumps({"n": rng.randrange(10**6)})))
        ev["took"].append(_mysql_time(rng))
        ev["ok"].append(rng.randrange(2))

    acc_schema = pa.schema([
        ("id", pa.int64()), ("uid", pa.binary()), ("ext_ref", pa.string()),
        ("active", pa.int8()), ("perms", pa.string()), ("tier", pa.string()),
        ("flags", pa.binary()), ("since", pa.int16()), ("daily", pa.string()),
        ("meta", pa.string()), ("name", pa.string()),
    ])
    ev_schema = pa.schema([
        ("id", pa.int64()), ("account_id", pa.int64()), ("uid", pa.binary()),
        ("kind", pa.string()), ("payload", pa.string()), ("took", pa.string()),
        ("ok", pa.int8()),
    ])
    pq.write_table(pa.table(acc, schema=acc_schema), os.path.join(out_dir, "accounts.parquet"))
    pq.write_table(pa.table(ev, schema=ev_schema), os.path.join(out_dir, "events.parquet"))
    with open(os.path.join(out_dir, "catalog.json"), "w") as f:
        json.dump(mysql_catalog_rows(), f)

    live_events = sum(1 for a in ev["account_id"] if a <= n_acc)
    ev_pos = {k: j for j, k in enumerate(ev["id"])}
    sample = {
        "accounts": {
            i: {c: acc[c][i - 1] for c in acc}
            for i in _sample_ids(rng, list(range(1, n_acc + 1)))
        },
        "events": {
            i: {c: ev[c][ev_pos[i]] for c in ev}
            for i in _sample_ids(rng, [k for k, a in zip(ev["id"], ev["account_id"]) if a <= n_acc])
        },
    }
    exp = Expect(
        counts={"accounts": n_acc, "events": live_events},
        source_rows=n_acc + n_ev,
        pk_keys={"accounts": acc["id"], "events": ev["id"]},
        sample=sample,
    )
    return out_dir, exp

