"""Inputs and expected answers of one benchmark run, made with DuckDB.

Run as its own process before the engine starts, so neither DuckDB's
memory nor its time shows in the measured process::

    python3 perfbench/prepare.py --workload warehouse --seed 1 \
        --data perfbench/data/sf0.01 --out WORKDIR

It writes ``WORKDIR/expected.json`` (result digests, row counts, the users
to serve) and, for ``warehouse``, the seeded fact delta
``WORKDIR/delta.parquet``. The SQL is the engine's own oracle inventory
(``registry.oracles()`` and ``registry.components()``); the connection and
row normalisation are ``scripts/check_correctness.py``'s, imported through
``oracle.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

from oracle import DASHBOARD, digest, engine_module, load_checker

#: share of the fact's line rows the delta rewrites, and new keys it adds
#: per rewritten row
DELTA_UPDATE_SHARE = 0.01
DELTA_NEW_PER_UPDATE = 0.5

# The engine's train split: a user is trained when one of their
# (user, item) pairs hashes outside the held-out md5 buckets 0-2.
_TRAINED_USERS_SQL = """
WITH inter AS (
  SELECT DISTINCT o_custkey AS user_id, l_partkey AS item_id
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
)
SELECT DISTINCT user_id FROM inter
WHERE substr(md5(CAST(user_id AS VARCHAR) || ':' || CAST(item_id AS VARCHAR)), 1, 1)
      NOT IN ('0', '1', '2')
ORDER BY user_id
"""


def request_users(seed: int, users: list[int], n: int) -> list[int]:
    """The seeded sequence of users the ``recommend`` client asks for."""
    rng = random.Random(seed)
    return [rng.choice(users) for _ in range(n)]


def dashboard_pages(seed: int, n: int) -> list[list[str]]:
    """The seeded sequence of dashboard pages (tile orders)."""
    rng = random.Random(seed)
    pages = []
    for _ in range(n):
        page = list(DASHBOARD)
        rng.shuffle(page)
        pages.append(page)
    return pages


class Duck:
    def __init__(self, data: str, spill: str):
        self.checker = load_checker()
        self.con = self.checker.duck_connect(data)
        self.con.execute(f"SET temp_directory='{spill}'")

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        rel = self.con.execute(sql)
        return [d[0] for d in rel.description], rel.fetchall()

    def digest(self, sql: str) -> str:
        return digest(self.checker, *self.rows(sql))


def make_delta(duck: Duck, fact_sql: str, seed: int, path: str) -> dict:
    """Write the seeded fact delta to ``path``: rewritten rows for existing
    keys plus rows under new keys.

    Rewritten keys are drawn only from fact rows whose ``(order_id,
    line_number)`` is non-NULL and unique: a NULL key (an order with no
    lines) never matches in the upsert's join and would be appended, and a
    duplicated key would replace several rows with one. So the fact grows
    by exactly the number of new keys."""
    con = duck.con
    con.execute(
        f"CREATE TEMP TABLE fact AS SELECT *, CAST(year(order_date_key) AS INTEGER) AS order_year "
        f"FROM ({fact_sql})"
    )
    keys = con.execute(
        "SELECT order_id, line_number FROM fact WHERE line_number IS NOT NULL "
        "GROUP BY ALL HAVING count(*) = 1 ORDER BY ALL"
    ).fetchall()
    n_fact, max_order = con.execute("SELECT count(*), max(order_id) FROM fact").fetchone()
    rng = random.Random(seed)
    n_upd = max(1, int(len(keys) * DELTA_UPDATE_SHARE))
    n_new = max(1, int(n_upd * DELTA_NEW_PER_UPDATE))
    picked = rng.sample(keys, n_upd)
    # new keys borrow every other column from existing line rows
    sources = rng.sample(keys, n_new)
    con.execute("CREATE TEMP TABLE picks (order_id BIGINT, line_number INTEGER, new_id BIGINT, qty DOUBLE)")
    con.executemany(
        "INSERT INTO picks VALUES (?, ?, ?, ?)",
        [(o, l, None, float(rng.randint(1, 50))) for o, l in picked]
        + [(o, l, max_order + 1 + i, float(rng.randint(1, 50))) for i, (o, l) in enumerate(sources)],
    )
    cols = [r[0] for r in con.execute("DESCRIBE fact").fetchall()]
    changed = {
        "order_id": "coalesce(p.new_id, f.order_id)",
        "line_number": "CASE WHEN p.new_id IS NULL THEN f.line_number ELSE 1 END",
        "quantity": "p.qty",
        "price": "round(f.price / f.quantity * p.qty, 2)",
        "total_amount": "round(f.price / f.quantity * p.qty, 2) * (1 - f.discount)",
    }
    select = ", ".join(f"{changed.get(c, 'f.' + c)} AS {c}" for c in cols)
    delta_sql = f"SELECT {select} FROM fact f JOIN picks p USING (order_id, line_number)"
    con.execute(f"COPY ({delta_sql} ORDER BY ALL) TO '{path}' (FORMAT PARQUET)")
    dcols, drows = duck.rows(f"SELECT * FROM '{path}'")
    assert len(drows) == n_upd + n_new
    return {
        "delta_rows": len(drows),
        "delta_cols": dcols,
        "delta_digest": digest(duck.checker, dcols, drows),
        "fact_rows_after_upsert": n_fact + n_new,
    }


def expected(workload: str, seed: int, data: str, out: str) -> dict:
    registry = engine_module("registry")
    oracles = registry.oracles()
    components = registry.components()
    duck = Duck(data, os.path.join(out, "duckdb"))
    want: dict = {}
    if workload == "warehouse":
        _, rows = duck.rows(components["etl_pipeline_counts"].oracle)
        want["counts"] = {name: n for name, n in rows}
        want["ingest"] = duck.digest(oracles["stream_incremental_ingest"])
        want.update(make_delta(duck, oracles["etl_fact_sales"], seed, os.path.join(out, "delta.parquet")))
        want["tiles"] = {name: duck.digest(oracles[name]) for name in DASHBOARD}
    elif workload == "recommend":
        want["rec_pipeline_e2e"] = duck.digest(components["rec_pipeline_e2e"].oracle)
        want["users"] = [r[0] for r in duck.rows(_TRAINED_USERS_SQL)[1]]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    duck.con.close()
    return want


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--data", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    sys.dont_write_bytecode = True
    os.makedirs(os.path.join(args.out, "duckdb"), exist_ok=True)
    want = expected(args.workload, args.seed, os.path.abspath(args.data), args.out)
    with open(os.path.join(args.out, "expected.json"), "w") as fh:
        json.dump(want, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
