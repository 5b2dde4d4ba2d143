"""Planted tables for behaviour tests.

A behaviour test writes a few hand-chosen rows (a planted table) into a
temporary sf_dir and runs the registered query over it, so the test
drives the exact shipped plan. The expected answer is recomputed in
plain sequential Python from the published algorithm: a third
implementation, not a twin of the Spark/DuckDB formula pair, which is
the check oracle parity cannot give.

``write`` takes its column types from the production parquet footer, so
a planted table has the production schema. A caller passes only the
columns it plants; every other column gets a neutral default. A test
that departs from the production schema on purpose (nulls where the
writer would refuse them, a nanos-vintage timestamp, a wrong type)
writes its own table.

The TPC-H and events worlds below are shared by several query families.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import struct
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq

from tests.conftest import SF_DIR

# Columns a caller does not plant; any other column takes its type's zero.
_DEFAULTS = {
    "props": "{}",
    "l_returnflag": "N",
    "l_linestatus": "O",
    "n_chars": lambda row: len(row["text"]),
}

# The lineitem cells most tests plant, in row order.
LINEITEM_COLS = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
    "l_extendedprice", "l_shipdate",
)


def _coerce(value, type_):
    if isinstance(value, str) and pa.types.is_timestamp(type_):
        return dt.datetime.fromisoformat(value)
    return value


def write(tmp, table, rows, columns=None) -> None:
    """Write ``rows`` as ``tmp/<table>.parquet`` in the production schema.

    ``columns`` names the cells of each row (default: the production
    column order); a row may stop short, and the columns it does not
    reach take their defaults. Timestamps may be given as ISO strings.
    """
    schema = pq.read_schema(f"{SF_DIR}/{table}.parquet")
    named = [dict(zip(columns or schema.names, r)) for r in rows]
    arrays = []
    for field in schema:
        default = _DEFAULTS.get(field.name, "" if pa.types.is_string(field.type) else 0)
        cells = [
            row[field.name] if field.name in row
            else default(row) if callable(default) else default
            for row in named
        ]
        arrays.append(pa.array([_coerce(v, field.type) for v in cells], field.type))
    pq.write_table(
        pa.Table.from_arrays(arrays, schema=schema), str(Path(tmp) / f"{table}.parquet")
    )


def docs_frame(spark, texts):
    """An in-memory documents table of ``texts``, doc_id = position."""
    return spark.createDataFrame(
        [(i, t, "en", "src0", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def run(spark, name, sf_dir):
    """The collected rows of registered query ``name`` over ``sf_dir``."""
    from dynamodb_stream_processor_2_0_spark.plans import registry

    return registry.get(name).fn(spark, str(sf_dir)).collect()


def md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def purchase_graph(tmp, cust_supp_edges) -> None:
    """Stage orders+lineitem so the customer<->supplier purchase graph
    equals exactly the given (custkey, suppkey) edge set: one order per
    edge, one lineitem per order."""
    orders, lineitem = [], []
    for i, (c, s) in enumerate(sorted(set(cust_supp_edges)), start=1):
        orders.append((i, c, "F", 1.0, "2024-01-01T00:00:00", "X"))
        lineitem.append((i, 1, s, 1, 1.0, 1.0, "2024-01-01T00:00:00"))
    write(tmp, "orders", orders)
    write(tmp, "lineitem", lineitem, LINEITEM_COLS)


def daily_events(series_by_type, start="2024-01-01", user_of=None):
    """series_by_type: {event_type: [day0_value, ...]}; None skips the
    day. One event per (type, day)."""
    rows = []
    eid = 0
    t0 = dt.date.fromisoformat(start)
    for etype, series in series_by_type.items():
        for d, v in enumerate(series):
            if v is None:
                continue
            day = t0 + dt.timedelta(days=d)
            uid = user_of(eid) if user_of else 1 + eid % 7
            rows.append(
                (eid, f"{day.isoformat()}T12:00:00", uid, etype, v)
            )
            eid += 1
    return rows


def f32(x: float) -> float:
    return struct.unpack("f", struct.pack("f", x))[0]


def mvec(seed: str, dim: int = 64):
    """Deterministic pseudo-random vector on the exact 1/128 grid
    (f32- and double-exact, so the third impl sees the stored values)."""
    h = (hashlib.md5(seed.encode()).digest() * ((dim // 16) + 1))[:dim]
    return [f32((b - 127.5) / 128.0) for b in h]


def corpus(n=20):
    return [(i, mvec(f"annvec:{i}"), i % 3) for i in range(n)]


def cents(price: float) -> int:
    return round(price * 100)


def quantile_cont(values, p):
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    rank = p * (len(v) - 1)
    lo = int(rank)
    frac = rank - lo
    return v[lo] if frac == 0 else v[lo] + (v[lo + 1] - v[lo]) * frac


# --- the planted TPC-H world -------------------------------------------------
#
# 5 parts, 6 suppliers, 6 customers, 24 orders and 20 lineitems across
# 6 nations / 2 regions. Every filter of the TPC-H battery has rows on
# both sides (a lineitem shipped after 1998-09-02 for q1, a 1-URGENT
# order for q13's exclusion, a supplier with suppkey % 13 == 0 for q16's
# NOT IN, an equal-acctbal supplier pair for q2's tiebreak, an
# equal-shipdate supplier pair for q21's sole-latest test, a >480k order
# for q22's NOT EXISTS, a 150-qty order crossing q18's 250 threshold).
# The ANSI relational family uses the same world: a customer nation with
# no suppliers and a supplier nation with no customers (full outer), a
# zero-order customer, a 10-order 5-LOW group (the only one crossing
# HAVING > 5), 24 orders (LIMIT 20 bites), one 'P'-status pair of
# orders (pivot's third column), and one part pair with support >= 3.

REGION = [(0, "ASIA"), (1, "EUROPE")]

NATION = [  # (n_nationkey, n_name, n_regionkey)
    (1, "NATION_1", 0),
    (2, "NATION_2", 0),
    (3, "NATION_3", 0),
    (4, "NATION_4", 1),
    (5, "NATION_5", 1),  # suppliers only -> full-outer right-only row
    (6, "NATION_6", 1),  # customers only -> full-outer left-only row
]

SUPPLIER = [  # (s_suppkey, s_name, s_nationkey, s_acctbal)
    (1, "Supp#1", 1, 100.0),
    (2, "Supp#2", 2, 50.0),
    (3, "Supp#3", 3, 75.0),
    (13, "Supp#13", 4, 5.0),  # suppkey % 13 == 0 -> q16 NOT IN exclusion
    (5, "Supp#5", 1, 50.0),  # acctbal ties Supp#2 -> q2 suppkey tiebreak
    (6, "Supp#6", 5, 20.0),  # nation with no customers; ships nothing
]

PART = [  # (p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
    (1, "small red widget", "Brand#1", "STANDARD", 5, 100.0),
    (2, "large blue gear", "Brand#9", "PROMO POLISHED", 9, 110.0),
    (3, "medium red cog", "Brand#20", "STANDARD", 13, 120.0),
    (4, "small green bolt", "Brand#2", "ECONOMY BRUSHED", 2, 90.0),
    (5, "tiny yellow nut", "Brand#9", "STANDARD", 9, 95.0),
]

CUSTOMER = [  # (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
    (1, "Cust#1", 1, 500.0, "BUILDING"),
    (2, "Cust#2", 2, 9000.0, "AUTOMOBILE"),
    (3, "Cust#3", 3, -50.0, "BUILDING"),  # negative -> out of q22 threshold avg
    (4, "Cust#4", 4, 7000.0, "MACHINERY"),
    (5, "Cust#5", 1, 6000.0, "BUILDING"),
    (6, "Cust#6", 6, 100.0, "HOUSEHOLD"),  # nation with no suppliers; no orders
]

ORDERS = [  # (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
    (100, 1, "F", 1000.0, "1997-02-10", "1-URGENT"),
    (101, 2, "F", 500000.0, "1997-03-01", "3-MEDIUM"),  # >480k -> q22 NOT EXISTS
    (102, 3, "O", 2000.0, "1997-06-15", "2-HIGH"),
    (103, 1, "F", 3000.0, "1996-05-20", "3-MEDIUM"),
    (104, 4, "O", 4000.0, "1998-02-01", "1-URGENT"),
    (105, 2, "F", 6000.0, "1997-09-10", "2-HIGH"),
    (106, 3, "F", 7000.0, "1995-11-05", "3-MEDIUM"),
    (107, 1, "F", 8000.0, "1998-02-20", "2-HIGH"),
    (108, 4, "F", 9000.0, "1997-08-01", "3-MEDIUM"),  # 300 qty -> q18 big order
    (109, 2, "F", 1500.0, "1996-03-01", "1-URGENT"),
    (110, 5, "O", 2500.0, "1997-11-20", "2-HIGH"),
    (111, 3, "O", 3200.0, "1998-03-01", "1-URGENT"),
    # 1999 block: outside every TPC-H date window; no lineitems. Gives
    # agg_having a >5 group, makes sort_limit's LIMIT 20 bite (24 orders),
    # and plants 'P' status rows for the pivot.
    (120, 4, "O", 100.0, "1999-01-05", "5-LOW"),
    (121, 4, "O", 200.0, "1999-01-10", "5-LOW"),
    (122, 4, "O", 300.0, "1999-02-01", "5-LOW"),
    (123, 4, "O", 400.0, "1999-02-15", "5-LOW"),
    (124, 4, "O", 500.0, "1999-03-01", "5-LOW"),
    (125, 4, "O", 600.0, "1999-03-10", "5-LOW"),
    (126, 5, "O", 700.0, "1999-04-01", "5-LOW"),
    (127, 5, "O", 800.0, "1999-04-15", "5-LOW"),
    (128, 1, "O", 900.0, "1999-05-01", "5-LOW"),
    (129, 2, "O", 1000.0, "1999-05-10", "5-LOW"),
    (130, 5, "P", 1100.0, "1999-06-01", "4-NOT SPECIFIED"),
    (131, 3, "P", 1200.0, "1999-06-15", "4-NOT SPECIFIED"),
]

LINEITEM = [  # (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
    #           l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate)
    (100, 1, 1, 1, 5.0, 1000.0, 0.05, 0.0, "N", "O", "1997-03-01"),
    (100, 2, 2, 2, 15.0, 2000.0, 0.10, 0.0, "N", "O", "1997-02-20"),
    (101, 3, 3, 1, 25.0, 3000.0, 0.06, 0.0, "R", "F", "1997-04-01"),
    (101, 1, 5, 2, 30.0, 1500.0, 0.00, 0.0, "N", "F", "1997-03-15"),
    (102, 4, 13, 1, 10.0, 800.0, 0.05, 0.0, "R", "O", "1997-07-01"),
    (103, 5, 1, 1, 3.0, 600.0, 0.00, 0.0, "A", "F", "1996-06-01"),
    (103, 3, 2, 2, 8.0, 900.0, 0.25, 0.0, "N", "F", "1996-07-10"),
    (104, 2, 3, 1, 12.0, 2500.0, 0.05, 0.0, "N", "O", "1998-03-20"),
    (105, 2, 1, 1, 7.0, 1200.0, 0.05, 0.0, "N", "F", "1997-09-15"),
    (105, 1, 5, 2, 1.0, 700.0, 0.00, 0.0, "N", "F", "1997-09-20"),
    (106, 5, 5, 1, 40.0, 5000.0, 0.10, 0.0, "R", "F", "1995-12-01"),
    (107, 1, 1, 1, 9.0, 1100.0, 0.05, 0.0, "N", "O", "1998-04-01"),
    (107, 4, 2, 2, 50.0, 4000.0, 0.00, 0.0, "N", "O", "1998-09-10"),  # > q1 cutoff
    (108, 5, 3, 1, 150.0, 3000.0, 0.00, 0.0, "N", "F", "1997-08-15"),
    (108, 3, 3, 2, 150.0, 2000.0, 0.05, 0.0, "N", "F", "1997-08-20"),
    (109, 1, 1, 1, 4.0, 500.0, 0.00, 0.0, "N", "F", "1996-04-01"),
    (109, 2, 2, 2, 6.0, 800.0, 0.05, 0.0, "N", "F", "1996-04-01"),  # q21 tie
    (110, 3, 13, 1, 11.0, 1300.0, 0.05, 0.0, "N", "O", "1997-12-01"),
    (110, 2, 5, 2, 5.0, 900.0, 0.00, 0.0, "N", "O", "1997-12-05"),
    (111, 5, 2, 1, 6.0, 2000.0, 0.10, 0.0, "N", "O", "1998-05-01"),
]

# convenient lookups for the loop implementations
NATION_NAME = {nk: name for nk, name, _ in NATION}

NATION_REGION = {nk: rk for nk, _, rk in NATION}

REGION_NAME = dict(REGION)

SUPP_NATION = {sk: nk for sk, _, nk, _ in SUPPLIER}

SUPP_NAME = {sk: name for sk, name, _, _ in SUPPLIER}

SUPP_BAL = {sk: bal for sk, _, _, bal in SUPPLIER}

PART_BY_KEY = {p[0]: p for p in PART}

CUST_BY_KEY = {c[0]: c for c in CUSTOMER}

ORDER_BY_KEY = {o[0]: o for o in ORDERS}

def day(s: str) -> dt.date:
    return dt.date.fromisoformat(s)


def write_world(tmp) -> None:
    """The TPC-H world, the events world, and one-row documents and
    embeddings tables: the SQL-surface queries register a view for
    every catalog table."""
    for table, rows in (
        ("region", REGION), ("nation", NATION), ("supplier", SUPPLIER),
        ("part", PART), ("customer", CUSTOMER), ("orders", ORDERS),
        ("lineitem", LINEITEM), ("events", EVENTS),
        ("documents", [(1, "stub", "en", "s")]),
        ("embeddings", [(1, [0.0], 0)]),
    ):
        write(tmp, table, rows)


# --- the planted events world -----------------------------------------------
#
# Covers every branch of the pipeline scalar/aggregate family:
# allowlisted and rejected event types, k values divisible by 10 and 13
# (F3's drop set), k = 0 (E1's division guard), a wrong-typed
# '{"k": "x"}' payload (valid JSON, uncastable field: parsed-with-null
# under JSON.parse semantics, not corrupt), missing-k '{}', two
# event_ids divisible by 97 (e2's deterministic manglees), a
# purchase-free user, an error-free user, and a timestamp tie inside one
# user's RANGE frame.

EVENTS = [  # (event_id, ts, user_id, event_type, value, props)
    (1, "2024-03-01 10:00:00", 1, "click", 10.0, '{"k": 5}'),
    (2, "2024-03-01 10:30:00", 1, "view", 99.5, '{"k": 20}'),
    (3, "2024-03-01 11:15:00", 1, "purchase", 150.0, '{"k": 26}'),
    (4, "2024-03-01 11:15:00", 1, "click", 30.0, '{"k": 7}'),  # ts tie with 3
    (5, "2024-03-01 12:30:00", 1, "view", 100.0, '{"k": 0}'),
    (6, "2024-03-01 09:00:00", 2, "error", 50.0, '{"k": 3}'),
    (7, "2024-03-01 09:05:00", 2, "error", 60.0, '{"k": "x"}'),  # wrong-typed
    (8, "2024-03-01 09:30:00", 2, "purchase", 200.0, "{}"),  # missing k
    (9, "2024-03-01 10:10:00", 2, "signup", 5.0, '{"k": 10}'),
    (97, "2024-03-01 11:00:00", 2, "click", 45.0, '{"k": 4}'),  # e2 manglee
    (10, "2024-03-01 14:00:00", 3, "refund", 80.0, '{"k": 8}'),
    (11, "2024-03-01 14:20:00", 3, "view", 70.0, '{"k": 17}'),
    (12, "2024-03-01 15:40:00", 3, "purchase", 100.0, '{"k": 39}'),
    (13, "2024-03-01 16:00:00", 3, "error", 20.0, '{"k": 6}'),
    (194, "2024-03-01 15:00:00", 3, "refund", 120.0, '{"k": 9}'),  # e2 manglee
    (14, "2024-03-01 08:00:00", 4, "click", 25.0, '{"k": 11}'),
]


def k_of(props: str):
    """try_cast(json '$.k' as int) — None on missing or uncastable."""
    try:
        v = json.loads(props).get("k")
    except ValueError:
        return None
    if isinstance(v, bool) or not isinstance(v, int):
        return None
    return v
