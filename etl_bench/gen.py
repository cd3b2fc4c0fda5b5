"""Seeded input generators: numpy + pyarrow only, never Spark.

Every generator is a pure function of its seed, so the same seed gives
byte-identical files and the engine receives nothing but those files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
LEAGUES = np.array(
    ["la-liga", "serie-a", "serie-b", "eredivisie", "bundesliga", "ligue-1",
     "premier-league", "championship", "primeira-liga", "super-lig"]
)
STOP_WORD = "Toon meer wedstrijden"

RECORDS_PER_PAGE = 120
UPDATE_ROWS = 20_000

_EPOCH_1992 = np.datetime64("1992-01-01", "D")
_ORDER_DAYS = 7 * 365  # o_orderdate spans 1992-01-01 .. ~1998-12-29


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _write_split(table: pa.Table, out_dir: str, name: str, files: int) -> None:
    """One table as a ``files``-file directory, so scans parallelise."""
    bounds = np.linspace(0, table.num_rows, files + 1).astype(int)
    for i in range(files):
        write_parquet(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(out_dir, f"{name}.parquet", f"part-{i:05d}.parquet"),
        )


def star_schema(
    out_dir: str,
    seed: int,
    orders: int = 150_000,
    customers: int = 15_000,
    files: int = 8,
) -> dict[str, int]:
    """Landing zone with ``orders``, ``customer`` and ``lineitem`` in the
    catalog's schema.  About 1% of orders reference a customer key that does
    not exist, so the plans' left joins keep their sentinel branch live.
    Returns row counts per table."""
    rng = np.random.default_rng([seed, 1])

    c_key = np.arange(customers, dtype=np.int64)
    customer = pa.table({
        "c_custkey": c_key,
        "c_name": pa.array([f"Customer#{k:09d}" for k in c_key]),
        "c_nationkey": rng.integers(0, 25, customers, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, customers), 2),
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), customers)],
    })

    o_key = np.arange(orders, dtype=np.int64)
    o_date = _EPOCH_1992 + rng.integers(0, _ORDER_DAYS, orders)
    table_orders = pa.table({
        "o_orderkey": o_key,
        "o_custkey": rng.integers(0, int(customers * 1.01), orders, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, orders)],
        "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, orders), 2),
        "o_orderdate": pa.array(o_date.astype("datetime64[us]")),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES), orders)],
    })

    n_lines = rng.integers(1, 8, orders)  # 1..7 lines, mean 4
    total = int(n_lines.sum())
    l_order = np.repeat(o_key, n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_line = (np.arange(total) - starts + 1).astype(np.int32)
    ship = np.repeat(o_date, n_lines) + rng.integers(1, 122, total)
    qty = rng.integers(1, 51, total).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, 20_000, total, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, total, dtype=np.int64),
        "l_linenumber": l_line,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2_000.0, total), 2),
        "l_discount": rng.integers(0, 11, total) / 100.0,
        "l_tax": rng.integers(0, 9, total) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, total)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, total)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    # shuffle line order so no file is sorted by order key
    lineitem = lineitem.take(rng.permutation(total))

    _write_split(customer, out_dir, "customer", max(1, files // 4))
    _write_split(table_orders, out_dir, "orders", files)
    _write_split(lineitem, out_dir, "lineitem", files)
    return {"customer": customers, "orders": orders, "lineitem": total}


def page_file(seed: int, index: int, records: int = RECORDS_PER_PAGE) -> tuple[str, list[tuple]]:
    """One scraped-page dump: newline-separated tokens in 6-field records.

    About 3% of records are cancelled (non-integer goals) and are expected
    to be dropped; stop-word and blank tokens are sprinkled between fields.
    Returns the file text and the rows a correct parser keeps, computed
    here independently of the engine's parser."""
    rng = np.random.default_rng([seed, 2, index])
    day = rng.integers(1, 29, records)
    month = rng.integers(1, 13, records)
    hour = rng.integers(12, 23, records)
    league = LEAGUES[rng.integers(0, len(LEAGUES), records)]
    home = rng.integers(0, 400, records)
    away = rng.integers(0, 400, records)
    hg = rng.integers(0, 7, records)
    ag = rng.integers(0, 7, records)
    cancelled = rng.random(records) < 0.03
    noise = rng.random((records, 6)) < 0.02
    lines: list[str] = []
    kept: list[tuple] = []
    for i in range(records):
        date = f"{day[i]:02d}.{month[i]:02d}. {hour[i]:02d}:30"
        h, a = f"club-{home[i]}", f"club-{away[i]}"
        goals = ("Geannuleerd", "-") if cancelled[i] else (str(hg[i]), str(ag[i]))
        fields = (date, str(league[i]), h, a, *goals)
        for j, tok in enumerate(fields):
            if noise[i, j]:
                lines.append(STOP_WORD if j % 2 else "")
            lines.append(tok)
        if not cancelled[i]:
            kept.append((date, str(league[i]), h, a, int(hg[i]), int(ag[i])))
    return "\n".join(lines) + "\n", kept


def historic_table(
    out_dir: str, seed: int, rows: int = 600_000, partitions: int = 60
) -> np.ndarray:
    """Partitioned historic-match table, partition column ``part`` =
    ``match_key % partitions`` (derived from the key, so an update never
    moves a key between partitions).  Returns the version of every key,
    indexed by key, version 1 everywhere."""
    keys = np.arange(rows, dtype=np.int64)
    for p in range(partitions):
        k = keys[keys % partitions == p]
        write_parquet(
            _historic_rows(seed, k, np.ones(len(k), np.int64), drop_part=True),
            os.path.join(out_dir, f"part={p}", "part-00000.parquet"),
        )
    return np.ones(rows, dtype=np.int64)


def update_batch(
    seed: int,
    batch: int,
    versions: np.ndarray,
    rows: int = UPDATE_ROWS,
    partitions: int = 60,
    touched: int = 3,
    new_share: float = 0.2,
) -> tuple[pa.Table, np.ndarray]:
    """One upsert batch over ``touched`` partitions: ~80% existing keys with
    a higher version, ~20% brand-new keys, every key once.  Returns the
    batch and the expected key→version array after it is applied."""
    rng = np.random.default_rng([seed, 3, batch])
    parts = rng.choice(partitions, touched, replace=False)
    n_new = int(rows * new_share)
    live = (versions > 0) & np.isin(np.arange(len(versions)) % partitions, parts)
    existing = np.flatnonzero(live)
    old = rng.choice(existing, rows - n_new, replace=False)
    # new keys extend the key space; key % partitions picks a touched part
    base = len(versions) + (-len(versions)) % partitions
    new = base + (np.arange(n_new) // touched) * partitions + parts[np.arange(n_new) % touched]
    keys = np.concatenate([old, new]).astype(np.int64)
    expected = np.concatenate(
        [versions, np.zeros(int(new.max()) + 1 - len(versions), np.int64)]
    )
    expected[keys] = expected[keys] + rng.integers(1, 3, len(keys))
    table = _historic_rows(seed * 1_000 + batch, keys, expected[keys], drop_part=False,
                           partitions=partitions)
    return table.take(rng.permutation(len(keys))), expected


def _historic_rows(
    seed: int, keys: np.ndarray, versions: np.ndarray, drop_part: bool,
    partitions: int = 60,
) -> pa.Table:
    rng = np.random.default_rng([seed, 4, int(keys[0]) if len(keys) else 0])
    n = len(keys)

    def text(values) -> pa.Array:
        return pc.cast(pa.array(values), pa.string())

    date = text((_EPOCH_1992 + rng.integers(0, _ORDER_DAYS, n)).astype("datetime64[D]"))
    home = pc.binary_join_element_wise("club-", text(rng.integers(0, 400, n)), "")
    away = pc.binary_join_element_wise("club-", text(rng.integers(0, 400, n)), "")
    hg = rng.integers(0, 7, n).astype(np.int32)
    ag = rng.integers(0, 7, n).astype(np.int32)
    doc = pc.binary_join_element_wise(
        '{"1":{"Date":"', date, '","Score":"', text(hg), ":", text(ag),
        '","Home Team":"', home, '"}}', "")
    cols = {
        "match_key": keys,
        "version": versions.astype(np.int64),
        "date": date,
        "league": LEAGUES[rng.integers(0, len(LEAGUES), n)],
        "hometeam": home,
        "awayteam": away,
        "home_goal": hg,
        "away_goal": ag,
        "home_team_matches": doc,
    }
    if not drop_part:
        cols["part"] = (keys % partitions).astype(np.int32)
    return pa.table(cols)
