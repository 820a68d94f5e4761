"""Seeded operation sequences for the Flight workloads.

Everything here is a pure function of ``(workload, seed, index)``: the
generator never reads program state, so the same seed replays the same
requests against any version of the program. Each read carries both the
Flight ticket the client sends and the DuckDB SQL the checker uses to
recompute the expected answer. Money is summed as integer cents: a DOUBLE
sum depends on summation order, and a sum of cent values that lands on a
half unit rounds either way, so the expected digests would flip.
"""

from __future__ import annotations

import datetime as dt
import random
from dataclasses import dataclass

import numpy as np
import pyarrow as pa

# Row counts per unit of scale factor (datagen.build_tables).
ORDERS_PER_SF, CUSTOMERS_PER_SF, USERS_PER_SF = 1_500_000, 150_000, 15_000
COMMIT_ROWS = 64  # rows appended per commit
COMMIT_TABLES = ("orders", "events")
WARM_UP_COMMIT_NO = 1_000_000  # warm-up commits number from here, clear of the run's

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
STATUSES = ("F", "O", "P")


@dataclass(frozen=True)
class Op:
    """One client operation. ``kind`` is "read" or "commit"."""

    index: int
    kind: str
    template: str
    tables: tuple[str, ...] = ()  # tables the read touches / the commit writes
    ticket: str = ""  # Flight ticket (reads)
    oracle: str = ""  # DuckDB SQL over views named like the tables (reads)
    commit_no: int = -1  # per-run commit counter (commits)
    maintain: bool = False  # the commit also compacts and expires snapshots


def _cents(col: str) -> str:
    return f"CAST(ROUND(({col}) * 100) AS BIGINT)"


def _day(rng: random.Random, lo: dt.date, hi: dt.date) -> str:
    return (lo + dt.timedelta(days=rng.randrange((hi - lo).days))).isoformat()


def _sql(template: str, tables: tuple[str, ...], text: str):
    """One SQL read: the same statement serves as Flight ticket and oracle."""
    body = " ".join(text.split())
    return template, tables, f"sql:{body}", body


# -- read templates -------------------------------------------------------
# Each builder takes (rng, sf) and returns (template, tables, ticket, oracle).

def _point_lookup(rng, sf):
    k = rng.randrange(int(ORDERS_PER_SF * sf))
    return _sql("tile.point_lookup", ("orders",), f"""
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
               o_orderpriority FROM orders WHERE o_orderkey = {k}""")


def _customer_nation(rng, sf):
    k = rng.randrange(int(CUSTOMERS_PER_SF * sf))
    return _sql("tile.customer_nation", ("customer", "nation"), f"""
        SELECT c.c_custkey, c.c_name, c.c_acctbal, n.n_name
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_custkey = {k}""")


def _segment_agg(rng, sf):
    n = rng.randrange(25)
    return _sql("tile.segment_agg", ("customer",), f"""
        SELECT c_mktsegment, COUNT(*) AS n,
               SUM({_cents('c_acctbal')}) AS balance_cents
        FROM customer WHERE c_nationkey = {n}
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")


def _user_events(rng, sf):
    u = rng.randrange(int(USERS_PER_SF * sf))
    return _sql("tile.user_events", ("events",), f"""
        SELECT event_type, COUNT(*) AS n, SUM({_cents('value')}) AS v_cents
        FROM events WHERE user_id = {u}
        GROUP BY event_type ORDER BY event_type""")


def _nation_ticket(rng, sf):
    return "tile.nation_table", ("nation",), "nation", "SELECT * FROM nation"


def _pricing_summary(rng, sf):
    d = _day(rng, dt.date(1998, 6, 1), dt.date(2001, 9, 1))
    return _sql("heavy.pricing_summary", ("lineitem",), f"""
        SELECT l_returnflag, l_linestatus, COUNT(*) AS count_order,
               SUM(CAST(l_quantity AS BIGINT)) AS sum_qty,
               SUM({_cents('l_extendedprice')}) AS sum_base_cents,
               SUM({_cents('l_extendedprice')} * {_cents('1 - l_discount')}) AS sum_disc_price_e4,
               SUM({_cents('l_discount')}) AS sum_disc_pct
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d} 00:00:00'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")


def _priority_revenue(rng, sf):
    d = dt.date.fromisoformat(_day(rng, dt.date(1995, 1, 1), dt.date(2001, 1, 1)))
    e = d + dt.timedelta(days=90)
    return _sql("heavy.priority_revenue", ("orders", "lineitem"), f"""
        SELECT o.o_orderpriority, COUNT(*) AS n,
               SUM({_cents('l.l_extendedprice')}) AS revenue_cents
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderdate >= TIMESTAMP '{d} 00:00:00'
          AND o.o_orderdate < TIMESTAMP '{e} 00:00:00'
        GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""")


def _top_customers(rng, sf):
    seg = rng.choice(SEGMENTS)
    d = _day(rng, dt.date(1996, 1, 1), dt.date(2001, 1, 1))
    return _sql("heavy.top_customers", ("customer", "orders", "lineitem"), f"""
        SELECT c.c_custkey, c.c_name,
               SUM({_cents('l.l_extendedprice')}) AS revenue_cents
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < TIMESTAMP '{d} 00:00:00'
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue_cents DESC, c.c_custkey LIMIT 10""")


def _nation_rollup(rng, sf):
    s = rng.choice(STATUSES)
    return _sql("heavy.nation_rollup", ("orders", "customer", "nation"), f"""
        SELECT n.n_name, COUNT(*) AS n,
               SUM({_cents('o.o_totalprice')}) AS total_cents
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = '{s}' GROUP BY n.n_name ORDER BY n.n_name""")


def _event_rollup(rng, sf):
    d = _day(rng, dt.date(2024, 1, 1), dt.date(2024, 1, 25))
    return _sql("heavy.event_rollup", ("events",), f"""
        SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS users,
               SUM({_cents('value')}) AS v_cents
        FROM events WHERE ts >= TIMESTAMP '{d} 00:00:00'
        GROUP BY event_type ORDER BY event_type""")


def _lineitem_range(rng, sf):
    # ~4 lines per order, so 2,000 orders is ~8k rows: the materialised
    # toArrow path (inner plan, estimate under the server's threshold).
    k = rng.randrange(int(ORDERS_PER_SF * sf) - 2000)
    return _sql("drill.lineitem_range", ("lineitem",), f"""
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_shipdate FROM lineitem
        WHERE l_orderkey >= {k} AND l_orderkey < {k + 2000}
        ORDER BY l_orderkey, l_linenumber""")


def _nation_left_join(rng, sf):
    # LEFT JOIN: the server distrusts outer-join size estimates and
    # streams the result through mapInArrow + toLocalIterator.
    n = rng.randrange(25)
    return _sql("drill.nation_left_join", ("customer", "orders"), f"""
        SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        WHERE c.c_nationkey = {n}
        GROUP BY c.c_custkey, c.c_name ORDER BY c.c_custkey""")


# Reads come in blocks of 17: every tile template twice, every heavy and
# drilldown template once (59/29/12 per cent), in a seeded order. A window
# holds whole blocks, so every run has exactly this mix and runs differ in
# order and parameters only: the median and the tail then land on the same
# templates in every run.
TILES = (_point_lookup, _customer_nation, _segment_agg, _user_events, _nation_ticket)
HEAVY = (_pricing_summary, _priority_revenue, _top_customers, _nation_rollup, _event_rollup)
DRILL = (_lineitem_range, _nation_left_join)
READ_BLOCK = TILES * 2 + HEAVY + DRILL
# commit_churn interleaves a commit and its freshness probe after the 9th
# and the 17th read of each block: a commit every 10 or 11 operations, one
# to each of COMMIT_TABLES per block (see op_at).
CHURN_BLOCK = ("read",) * 9 + ("commit", "probe") + ("read",) * 8 + ("commit", "probe")


def block_ops(workload: str) -> int:
    """Operations per block; a window ends on a block boundary."""
    return len(READ_BLOCK) if workload == "dashboard_hit" else len(CHURN_BLOCK)


def freshness_probe(table: str) -> tuple[str, tuple[str, ...], str, str]:
    """The read that follows every commit: it must see the committed
    row count of the table just written."""
    return _sql("fresh.count", (table,), f"SELECT COUNT(*) AS n FROM {table}")


def read_at(seed: int, r: int, sf: float):
    """Read ``r`` of the seeded read sequence: (template, tables, ticket, oracle)."""
    block, pos = divmod(r, len(READ_BLOCK))
    order = list(READ_BLOCK)
    random.Random(f"{seed}:block:{block}").shuffle(order)
    return order[pos](random.Random(f"{seed}:read:{r}"), sf)


def op_at(workload: str, seed: int, index: int, sf: float) -> Op:
    """Operation ``index`` of the workload's sequence for ``seed``."""
    if workload == "dashboard_hit":
        return Op(index, "read", *read_at(seed, index, sf))
    block, pos = divmod(index, len(CHURN_BLOCK))
    kind = CHURN_BLOCK[pos]
    commit_no = 2 * block + CHURN_BLOCK[:pos].count("commit")
    if kind == "commit":
        # Each block commits to both tables, the second commit also running
        # compact + expire_snapshots. Which table goes second alternates from
        # block to block (seeded start), so every table is compacted every
        # other block and every block holds the same two kinds of commit.
        flip = (block + random.Random(f"{seed}:commits").randrange(2)) % 2
        second = commit_no % 2
        table = COMMIT_TABLES[(second + flip) % 2]
        return Op(index, "commit", f"commit.{table}", tables=(table,),
                  commit_no=commit_no, maintain=bool(second))
    if kind == "probe":
        return Op(index, "read", *freshness_probe(op_at(workload, seed, index - 1, sf).tables[0]))
    r = len(READ_BLOCK) * block + CHURN_BLOCK[:pos].count("read")
    return Op(index, "read", *read_at(seed, r, sf))


def ops(workload: str, seed: int, sf: float, n: int) -> list[Op]:
    return [op_at(workload, seed, i, sf) for i in range(n)]


def commit_batch(seed: int, table: str, commit_no: int, sf: float) -> pa.Table:
    """The rows commit ``commit_no`` appends. Keys start above the base
    table's key range and never repeat, so every commit adds rows."""
    rng = np.random.default_rng([seed, commit_no, COMMIT_TABLES.index(table)])
    n = COMMIT_ROWS
    first = int(ORDERS_PER_SF * sf) * 10 + commit_no * n
    keys = pa.array(np.arange(first, first + n), pa.int64())
    if table == "orders":
        days = rng.integers(0, 2000, n).astype("timedelta64[D]")
        return pa.table({
            "o_orderkey": keys,
            "o_custkey": pa.array(rng.integers(0, int(CUSTOMERS_PER_SF * sf), n), pa.int64()),
            "o_orderstatus": pa.array(np.array(STATUSES, object)[rng.integers(0, 3, n)]),
            "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
            "o_orderdate": pa.array(
                np.datetime64("1995-01-01", "us") + days.astype("timedelta64[us]"),
                pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                object)[rng.integers(0, 5, n)]),
        })
    secs = rng.integers(0, 30 * 86_400, n).astype("timedelta64[s]")
    return pa.table({
        "event_id": keys,
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + secs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(USERS_PER_SF * sf), n), pa.int64()),
        "event_type": pa.array(np.array(
            ["click", "error", "purchase", "signup", "view"], object)[rng.integers(0, 5, n)]),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
