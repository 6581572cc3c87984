"""Seeded input generators for the benchmark.

Every input a run reads is written here from ``--seed`` into the run's own
root, so the same seed gives byte-identical inputs and nothing outside the
checkout is read.

- ``write_tables`` writes the ten registry tables (TPC-H-shaped star
  schema plus ``events``, ``documents`` and ``embeddings``) as Parquet with
  the column types ``schemas.TESTDATA_SCHEMAS`` declares.
- ``write_crimes_csv`` writes a raw crimes extract in the reference's CSV
  shape with planted rows the cleaning must remove, and returns the answers
  every clicked menu option must give, computed here with pandas from the
  rows that survive cleaning.

``generate`` runs either in a child process, so that the memory the
generation takes is not counted in the benchmark process's peak::

    python3 perfbench/gen.py tables DIR SEED
    python3 perfbench/gen.py crimes CSV SEED ROWS ANSWERS.pkl
"""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

# Registry table sizes. Small enough that a pass over a workload's query
# list stays near the scheduling floor on four cores; large enough that
# every query returns rows.
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}
TABLES = ["region", "nation", *SIZES]

WORDS = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = (["en", "zh", "es", "fr", "de"], [0.41, 0.15, 0.15, 0.15, 0.14])
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = (["large", "hot", "blue", "old", "cold", "red", "small", "green"],
              ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EMB_DIM = 64


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"), pa.timestamp("us"))


def _days(rng, n: int, start: str, span_days: int) -> pa.Array:
    return _ts(start, rng.integers(0, span_days, n).astype(np.int64) * 86400)


def _write(root: str, name: str, cols: dict, types: dict) -> None:
    arrays = {c: v if isinstance(v, pa.Array) else pa.array(v, types.get(c)) for c, v in cols.items()}
    pq.write_table(pa.table(arrays), os.path.join(root, f"{name}.parquet"))


def _documents(rng) -> dict:
    n = SIZES["documents"]
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lengths]
    # planted near-duplicates (one word replaced) and exact duplicates, so the
    # dedup and similarity operators have pairs to find
    for i in rng.choice(n, n // 20, replace=False):
        src = rng.integers(0, n)
        words = texts[src].split()
        words[rng.integers(0, len(words))] = "dup"
        texts[i] = " ".join(words)
    for i in rng.choice(n, max(2, n // 250), replace=False):
        texts[i] = texts[rng.integers(0, n)]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS[0], n, p=LANGS[1]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_tables(root: str, seed: int) -> None:
    """Write the ten registry tables under ``root`` from ``seed``."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    _write(root, "region", {"r_regionkey": np.arange(5), "r_name": REGIONS},
           {"r_regionkey": i32})
    _write(root, "nation", {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": np.arange(25) % 5},
           {"n_nationkey": i32, "n_regionkey": i32})
    n = SIZES["customer"]
    _write(root, "customer", {
        "c_custkey": np.arange(n), "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n), "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n)}, {"c_custkey": i64, "c_nationkey": i32})
    n = SIZES["supplier"]
    _write(root, "supplier", {
        "s_suppkey": np.arange(n), "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n), "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)},
        {"s_suppkey": i64, "s_nationkey": i32})
    n = SIZES["part"]
    names = [f"{a} {b}" for a, b in zip(rng.choice(PART_WORDS[0], n), rng.choice(PART_WORDS[1], n))]
    _write(root, "part", {
        "p_partkey": np.arange(n), "p_name": names, "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(PART_TYPES, n), "p_size": rng.integers(1, 51, n),
        "p_retailprice": np.round(900 + (np.arange(n) % 1000) * 0.1, 2)},
        {"p_partkey": i64, "p_size": i32})
    n = SIZES["orders"]
    _write(root, "orders", {
        "o_orderkey": np.arange(n), "o_custkey": rng.integers(0, SIZES["customer"], n),
        "o_orderstatus": rng.choice(["F", "O", "P"], n), "o_totalprice": np.round(rng.uniform(1000, 500000, n), 2),
        "o_orderdate": _days(rng, n, "1995-01-01", 2405), "o_orderpriority": rng.choice(PRIORITIES, n)},
        {"o_orderkey": i64, "o_custkey": i64})
    n = SIZES["lineitem"]
    orderkeys = np.sort(rng.integers(0, SIZES["orders"], n))
    linenumber = np.ones(n, dtype=np.int32)
    for i in range(1, n):  # 1-based position within each order
        if orderkeys[i] == orderkeys[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    quantity = rng.integers(1, 51, n).astype(np.float64)
    _write(root, "lineitem", {
        "l_orderkey": orderkeys, "l_partkey": rng.integers(0, SIZES["part"], n),
        "l_suppkey": rng.integers(0, SIZES["supplier"], n), "l_linenumber": linenumber,
        "l_quantity": quantity, "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0, "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n), "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", 2499)},
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32})
    n = SIZES["events"]
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    _write(root, "events", {
        "event_id": np.arange(n), "ts": _ts("2024-01-01", secs), "user_id": rng.integers(0, 150, n),
        "event_type": rng.choice(EVENT_TYPES, n), "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]},
        {"event_id": i64, "user_id": i64})
    _write(root, "documents", _documents(rng), {})
    n = SIZES["embeddings"]
    vecs = rng.standard_normal((n, EMB_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(root, "embeddings", {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n).astype(np.int32)}, {})


# --- raw crimes extract ------------------------------------------------------

CRIME_TYPES = ["THEFT", "BATTERY", "CRIMINAL DAMAGE", "NARCOTICS", "ASSAULT", "BURGLARY",
               "MOTOR VEHICLE THEFT", "ROBBERY", "DECEPTIVE PRACTICE", "HOMICIDE", "WEAPONS VIOLATION"]
EXCLUDED_TYPES = ["NON-CRIMINAL", "OBSCENITY", "RITUALISM", "PUBLIC INDECENCY", "HUMAN TRAFFICKING"]
KEPT_YEARS = [2004, 2008, 2012, 2016, 2020]
DROPPED_YEARS = [2001, 2002, 2003, 2005, 2010, 2019, 2021, 2022]  # not leap, or out of range
SEASON = {12: "Winter", 1: "Winter", 2: "Winter", 3: "Spring", 4: "Spring", 5: "Spring",
          6: "Summer", 7: "Summer", 8: "Summer", 9: "Autumn", 10: "Autumn", 11: "Autumn"}
RAW_COLUMNS = ["ID", "Case Number", "Date", "Block", "IUCR", "Primary Type", "Description",
               "Location Description", "Arrest", "Domestic", "Beat", "District", "Ward",
               "Community Area", "FBI Code", "X Coordinate", "Y Coordinate", "Year",
               "Updated On", "Latitude", "Longitude", "Location"]


def write_crimes_csv(path: str, seed: int, n_rows: int) -> tuple[dict[str, pd.DataFrame], int]:
    """Write a raw crimes CSV of ``n_rows`` data rows to ``path``; return the
    expected answer of each clicked menu method, keyed by method name, and the
    number of districts left after cleaning.

    About 5% of rows get a NULL field, 3% are exact copies of another row,
    5% carry an excluded category and 20% a year the cleaning filters out.
    """
    rng = np.random.default_rng(seed)
    n_base = n_rows - n_rows * 3 // 100
    year = np.where(rng.random(n_base) < 0.20, rng.choice(DROPPED_YEARS, n_base),
                    rng.choice(KEPT_YEARS, n_base))
    month, day = rng.integers(1, 13, n_base), rng.integers(1, 29, n_base)
    hour, minute = rng.integers(0, 24, n_base), rng.integers(0, 60, n_base)
    h12 = np.where(hour % 12 == 0, 12, hour % 12)
    ampm = np.where(hour < 12, "AM", "PM")
    ptype = rng.choice(CRIME_TYPES, n_base, p=_zipf(len(CRIME_TYPES)))
    excl = rng.random(n_base) < 0.05
    ptype = np.where(excl, rng.choice(EXCLUDED_TYPES, n_base), ptype)
    df = pd.DataFrame({
        "ID": np.arange(n_base, dtype=np.int64),
        "Case Number": [f"HY{i:07d}" for i in range(n_base)],
        "Date": [f"{m:02d}/{d:02d}/{y} {h:02d}:{mi:02d}:00 {a}"
                 for m, d, y, h, mi, a in zip(month, day, year, h12, minute, ampm)],
        "Block": "012XX W MAIN ST", "IUCR": "0820", "Primary Type": ptype,
        "Description": rng.choice(["OVER $500", "$500 AND UNDER", "SIMPLE", "TO VEHICLE",
                                   "POSS: CANNABIS", "FROM BUILDING", "ARMED-HANDGUN"], n_base),
        "Location Description": [f"LOCATION {i:02d}" for i in rng.zipf(1.6, n_base) % 40],
        "Arrest": rng.random(n_base) < 0.25, "Domestic": rng.random(n_base) < 0.15,
        "Beat": rng.integers(111, 2535, n_base), "District": rng.integers(1, 26, n_base),
        "Ward": rng.integers(1, 51, n_base), "Community Area": rng.integers(1, 78, n_base),
        "FBI Code": rng.choice(["06", "08B", "14", "18", "04A"], n_base),
        "X Coordinate": np.round(rng.uniform(1.1e6, 1.2e6, n_base), 1),
        "Y Coordinate": np.round(rng.uniform(1.8e6, 1.95e6, n_base), 1),
        "Year": year, "Updated On": "02/10/2021 03:50:01 PM",
        "Latitude": np.round(rng.uniform(41.64, 42.02, n_base), 6),
        "Longitude": np.round(rng.uniform(-87.93, -87.52, n_base), 6),
        "Location": "(41.8, -87.6)",
    })
    # planted NULLs: one field per chosen row, in a column the cleaning reads
    null_rows = rng.random(n_base) < 0.05
    null_cols = rng.choice(["Primary Type", "District", "Latitude", "Beat", "Location Description"], n_base)
    df = df.astype({"Beat": "Int64", "District": "Int64"})
    for col in np.unique(null_cols[null_rows]):
        df.loc[null_rows & (null_cols == col), col] = None
    dups = df.iloc[rng.integers(0, n_base, n_rows - n_base)]
    raw = pd.concat([df, dups], ignore_index=True)
    raw = raw.iloc[rng.permutation(len(raw))]
    pacsv.write_csv(pa.Table.from_pandas(raw[RAW_COLUMNS], preserve_index=False), path)

    keep = ~null_rows & np.isin(year, KEPT_YEARS) & ~np.isin(ptype, EXCLUDED_TYPES)
    clean = df[keep].assign(year=year[keep], month=month[keep], hour=hour[keep])
    return _expected(clean), int(clean["District"].nunique())


def _zipf(k: int) -> np.ndarray:
    w = 1.0 / np.arange(1, k + 1)
    return w / w.sum()


def _expected(c: pd.DataFrame) -> dict[str, pd.DataFrame]:
    def count(df, keys, name):
        return df.groupby(keys).size().rename(name).reset_index()

    def top(df, key, k=10):
        out = count(df, [key], "cnt")
        return out.sort_values(["cnt", key], ascending=[False, True]).head(k).reset_index(drop=True)

    arrests = c[c["Arrest"]]
    by_hour_type = count(arrests, ["hour", "Primary Type"], "cnt")
    monthly = count(c, ["year", "month"], "Crimes_count").sort_values(["year", "month"])
    monthly["moving_avg"] = monthly["Crimes_count"].rolling(3, min_periods=1).mean().round(6)
    pivot = (c.assign(season=c["month"].map(SEASON)).groupby(["year", "season"]).size()
             .unstack(fill_value=0).reindex(columns=["Winter", "Spring", "Summer", "Autumn"], fill_value=0)
             .reset_index())
    return {
        "critical_hours": by_hour_type.groupby("hour")["cnt"].max().rename("max_cnt").reset_index(),
        "counts_by_primary_type": count(c, ["Primary Type"], "Count"),
        "season_pivot": pivot,
        "common_crime_locations": top(c, "Location Description"),
        "moving_average": monthly.reset_index(drop=True),
    }


def generate(*args) -> None:
    """Run ``gen.py`` with ``args`` in a child process and wait for it."""
    subprocess.run([sys.executable, os.path.abspath(__file__), *map(str, args)], check=True)


def main(argv: list[str]) -> None:
    kind, path, seed = argv[0], argv[1], int(argv[2])
    if kind == "tables":
        write_tables(path, seed)
    else:
        answers = write_crimes_csv(path, seed, int(argv[3]))
        with open(argv[4], "wb") as f:
            pickle.dump(answers, f)


if __name__ == "__main__":
    main(sys.argv[1:])
