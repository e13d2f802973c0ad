"""Seeded inputs for the benchmark.

Two kinds of input, both written as parquet inside the checkout:

* ``ensure_tables`` — the ten source tables the query registry reads
  (region … embeddings), with the schemas of FIXTURES.md and the value
  domains of the reference synthetic data at sf0.01 (lineitem 60 000 rows).
  They are fixed (``TABLE_SEED``), generated once per checkout and reused,
  so the query workloads' ``--seed`` only orders the ops.
* ``write_fact_base`` and ``write_batches`` — the ``fact_merge`` base fact
  and CDC batches; the batches are a pure function of ``--seed``: the same
  seed writes byte-identical files.
"""

from __future__ import annotations

import json
import os
import shutil
from datetime import datetime
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLE_SEED = 42
GENERATOR_VERSION = 1  # bump when the table generator's output changes
# Scale factor of the generated tables. The benchmark runs at sf0.01; its
# own tests set PERFBENCH_SF=0.001 for speed.
SF = float(os.environ.get("PERFBENCH_SF", "0.01"))
ROWS = {  # the reference data's row counts at this scale factor
    "customer": round(150_000 * SF), "supplier": round(10_000 * SF),
    "part": round(200_000 * SF), "orders": round(1_500_000 * SF),
    "lineitem": round(6_000_000 * SF), "events": round(1_000_000 * SF),
    "documents": max(500, round(50_000 * SF)), "embeddings": max(500, round(20_000 * SF)),
}

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_WORDS = ["anvil", "blue", "bolt", "cold", "gear", "gizmo", "hot", "large",
              "new", "old", "plate", "red", "ring", "rod", "small", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
DOC_WORDS = ("a agg batch big column customer data fast filter group hash join "
             "key line merge order part query row scan slow small sort spark "
             "stream table the value vector window").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

ORDER_START = datetime(1995, 1, 1)
ORDER_DAYS = (datetime(2001, 8, 1) - ORDER_START).days
SHIP_START = datetime(1995, 1, 2)
SHIP_DAYS = (datetime(2001, 11, 4) - SHIP_START).days
EVENT_START = datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 1_000_000


def _days(start: datetime, offsets: np.ndarray) -> pa.Array:
    us = int((start - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(us + offsets.astype(np.int64) * 86_400_000_000,
                    type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    type=pa.string())


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts; 5% are an earlier text plus " dup" (near
    duplicates, and exact duplicates where two copy the same source)."""
    words = np.asarray(DOC_WORDS, dtype=object)
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def build_tables(seed: int = TABLE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n = ROWS
    ids = {k: np.arange(v, dtype=np.int64) for k, v in n.items()}
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": ids["customer"],
        "c_name": [f"Customer#{i:09d}" for i in ids["customer"]],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": _pick(rng, SEGMENTS, n["customer"]),
    })
    supplier = pa.table({
        "s_suppkey": ids["supplier"],
        "s_name": [f"Supplier#{i:09d}" for i in ids["supplier"]],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    w = np.asarray(PART_WORDS, dtype=object)
    part = pa.table({
        "p_partkey": ids["part"],
        "p_name": pa.array(w[rng.integers(0, len(w), n["part"])] + " "
                           + w[rng.integers(0, len(w), n["part"])], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n["part"])]),
        "p_type": _pick(rng, PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (ids["part"] % 1000) * 0.1, 2),
    })
    orders = pa.table({
        "o_orderkey": ids["orders"],
        "o_custkey": rng.integers(0, n["customer"], n["orders"]),
        "o_orderstatus": _pick(rng, STATUSES, n["orders"]),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n["orders"]),
        "o_orderdate": _days(ORDER_START, rng.integers(0, ORDER_DAYS + 1, n["orders"])),
        "o_orderpriority": _pick(rng, PRIORITIES, n["orders"]),
    })
    nl = n["lineitem"]
    lineitem = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], nl),
        "l_partkey": rng.integers(0, n["part"], nl),
        "l_suppkey": rng.integers(0, n["supplier"], nl),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": _days(SHIP_START, rng.integers(0, SHIP_DAYS + 1, nl)),
    })
    ne = n["events"]
    ev_us = int((EVENT_START - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    events = pa.table({
        "event_id": ids["events"],
        "ts": pa.array(ev_us + np.sort(rng.integers(0, EVENT_SPAN_US, ne)),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, n["customer"] // 10, ne),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": np.round(np.minimum(rng.exponential(50.0, ne), 560.0), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
    })
    emb = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": ids["embeddings"],
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events,
        "documents": _documents(rng, n["documents"]), "embeddings": embeddings,
    }


def _write(table: pa.Table, path: Path) -> None:
    # one row group per file, like the reference data (the engine's
    # degenerate-scan repartition keys on that layout)
    pq.write_table(table, str(path), row_group_size=max(1, table.num_rows))


def ensure_tables(data_root: Path) -> Path:
    """Generate the source tables once per checkout; return their dir."""
    stamp = {"version": GENERATOR_VERSION, "seed": TABLE_SEED, "sf": SF}
    out = data_root / f"sf{SF}"
    stamp_file = out / "_STAMP.json"
    if stamp_file.is_file() and json.loads(stamp_file.read_text()) == stamp:
        return out
    staging = data_root / f".staging-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    staging.mkdir(parents=True)
    for name, table in build_tables().items():
        _write(table, staging / f"{name}.parquet")
    (staging / "_STAMP.json").write_text(json.dumps(stamp))
    shutil.rmtree(out, ignore_errors=True)
    staging.rename(out)
    return out


# -- fact_merge batches ------------------------------------------------------
#
# The batch shape follows the engine's own delta queries rather than
# invented rates:
#
# * fact: the watermark delta of ``incremental_fact_merge``
#   (operators/scd2.py) and ``schema_evolution_merge``
#   (operators/timetravel.py): the orders past the target's watermark plus
#   a restatement of the full year before it. Here the target starts at
#   1998-01 (the delta start of ``schema_evolution_merge``) and each batch
#   moves the watermark one month: it inserts that month's orders and
#   restates every order of the twelve months before it.
# * dimension: the SCD2 update batch of ``_customer_updates``
#   (operators/scd2.py, FIXTURES.md §C): acctbal + 100 for c_custkey % 7,
#   a move to MACHINERY for % 13 (the later change wins where both hit),
#   and a new key for % 97.
#
# The seed picks the restated order values and, per batch, the residues
# the three dimension rules match. The one-month watermark step is the
# benchmark's own choice.

FACT_CUTOFF = "1998-01"  # first month past the base fact's watermark
RESTATE_MONTHS = 12
NEW_KEY_STRIDE = 1_000_000  # _customer_updates' new-key offset, once per batch


def order_month(ts: pa.Array) -> pa.Array:
    return pc.strftime(ts, format="%Y-%m")


def _month_add(month: str, n: int) -> str:
    y, m = map(int, month.split("-"))
    y, m = divmod(y * 12 + m - 1 + n, 12)
    return f"{y:04d}-{m + 1:02d}"


def write_fact_base(tables_dir: Path, path: Path) -> pa.Table:
    """The orders fact as the benchmark loads it: the orders before
    ``FACT_CUTOFF`` plus their ``order_month`` partition column."""
    orders = pq.read_table(tables_dir / "orders.parquet")
    fact = orders.append_column("order_month", order_month(orders["o_orderdate"]))
    fact = fact.filter(pc.less(fact["order_month"], FACT_CUTOFF))
    path.parent.mkdir(parents=True, exist_ok=True)
    _write(fact, path)
    return fact


def write_batches(seed: int, cycles: int, tables_dir: Path, out: Path) -> list[dict]:
    """Write ``cycles`` CDC batch pairs (fact, dimension) for ``seed``.

    Batch ``c`` inserts the orders of month ``FACT_CUTOFF + c`` and
    restates the orders of the ``RESTATE_MONTHS`` months before it with
    seeded status, price and priority; a key never moves between
    partitions. The dimension batch applies the ``_customer_updates``
    rules to the customers' current state. Keys are unique within a
    batch."""
    rng = np.random.default_rng(seed)
    orders = pq.read_table(tables_dir / "orders.parquet")
    omonths = np.asarray(order_month(orders["o_orderdate"]).to_pylist(), dtype=object)
    last = max(omonths)
    if _month_add(FACT_CUTOFF, cycles - 1) > last:
        raise ValueError(f"{cycles} batches run past the orders' last month {last}")
    cust = pq.read_table(tables_dir / "customer.parquet")
    ckeys = cust["c_custkey"].to_numpy()
    acct = cust["c_acctbal"].to_numpy().copy()
    seg = np.asarray(cust["c_mktsegment"].to_pylist(), dtype=object)
    out.mkdir(parents=True, exist_ok=True)
    batches = []
    for c in range(cycles):
        new = _month_add(FACT_CUTOFF, c)
        months = [_month_add(new, k) for k in range(-RESTATE_MONTHS, 1)]
        restate = np.isin(omonths, months[:-1])
        rows = orders.filter(pa.array(restate | (omonths == new)))
        fb = rows.append_column("order_month", order_month(rows["o_orderdate"]))
        redo = pa.array(restate[restate | (omonths == new)])
        n = fb.num_rows
        for col, values in (("o_orderstatus", _pick(rng, STATUSES, n)),
                            ("o_totalprice", pa.array(_money(rng, 1000.0, 500000.0, n))),
                            ("o_orderpriority", _pick(rng, PRIORITIES, n))):
            i = fb.schema.get_field_index(col)
            fb = fb.set_column(i, col, pc.if_else(redo, values, fb[col]))
        r7, r13, r97 = (int(rng.integers(0, k)) for k in (7, 13, 97))
        bump, move = (ckeys + r7) % 7 == 0, (ckeys + r13) % 13 == 0
        born = np.flatnonzero((ckeys + r97) % 97 == 0)
        acct[bump & ~move] = np.round(acct[bump & ~move] + 100.0, 2)
        seg[move] = "MACHINERY"
        upd = np.flatnonzero(bump | move)
        db = pa.table({
            "c_custkey": np.concatenate([ckeys[upd], ckeys[born] + NEW_KEY_STRIDE * (c + 1)]),
            "c_name": cust["c_name"].take(np.concatenate([upd, born])),
            "c_nationkey": cust["c_nationkey"].take(np.concatenate([upd, born])),
            "c_acctbal": np.concatenate([acct[upd], np.zeros(len(born))]),
            "c_mktsegment": pa.array(list(seg[upd]) + ["NEWSEG"] * len(born), pa.string()),
        })
        fpath, dpath = out / f"fact_{c:03d}.parquet", out / f"dim_{c:03d}.parquet"
        _write(fb, fpath)
        _write(db, dpath)
        batches.append({"fact": fpath, "dim": dpath, "months": months})
    return batches
