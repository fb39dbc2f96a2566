"""Seeded inputs for the benchmark's workloads.

Every generator takes its own `random.Random(seed)`, so the same seed
gives byte-identical files. The sensor generator also returns the
outcome the program must reach on its files, which `run.py` checks.
"""
import json
import os
import random

SENSOR_HEADER = "timestamp,sensor_id,temperature,humidity,pressure\n"

# Readings inside the ranges validation accepts.
TEMPERATURE = (-20.0, 45.0)
HUMIDITY = (0.25, 0.95)
PRESSURE = (985.0, 1045.0)

# One aggregate row per metric per sensor carries the count of that
# metric's non-null readings, so a clean row adds one per metric.
METRICS = 3


def sensor_row(rng, i):
    ts = f"2025-05-26 {(i // 3600) % 24:02d}:{(i // 60) % 60:02d}:{i % 60:02d}"
    return (f"{ts},S{rng.randrange(10)},"
            f"{rng.uniform(*TEMPERATURE):.1f},"
            f"{rng.uniform(*HUMIDITY):.2f},"
            f"{rng.uniform(*PRESSURE):.2f}")


def sensor_files(out_dir, seed, rows):
    """Write one clean sensor CSV per entry of `rows` (its row count).

    Returns what a drain of them must leave behind: every file
    processed with its rows sunk, and the sum of the aggregate table's
    `record_count`.
    """
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    digits = max(3, len(str(len(rows))))
    file_rows = {}
    for f, n in enumerate(rows):
        name = f"sensor_{f:0{digits}d}.csv"
        lines = [sensor_row(rng, i) for i in range(n)]
        with open(os.path.join(out_dir, name), "w", newline="\n") as fh:
            fh.write(SENSOR_HEADER + "\n".join(lines) + "\n")
        file_rows[name] = n
    return {
        "files": len(rows),
        "rows": sum(rows),
        "record_count_sum": METRICS * sum(rows),
        "file_rows": file_rows,
    }


# ---- llm_ops: the lineitem table the query list reads, in the schema
# of the program's `Tables.lineitem`.

LINEITEM = (
    ("l_orderkey", "int64"), ("l_partkey", "int64"), ("l_suppkey", "int64"),
    ("l_linenumber", "int32"), ("l_quantity", "float64"),
    ("l_extendedprice", "float64"), ("l_discount", "float64"),
    ("l_tax", "float64"), ("l_returnflag", "string"),
    ("l_linestatus", "string"), ("l_shipdate", "timestamp[us]"),
)


def lineitem(out_dir, seed, rows):
    """Write `lineitem.parquet`: TPC-H-like lines over rows/4 orders and
    rows/30 parts, so orders share parts as the graph queries need."""
    import datetime
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    day0 = datetime.datetime(1995, 1, 2)
    orders, parts, supps = max(1, rows // 4), max(1, rows // 30), max(1, rows // 600)
    cols = {name: [] for name, _ in LINEITEM}
    for _ in range(rows):
        q = float(rng.randint(1, 50))
        cols["l_orderkey"].append(rng.randrange(orders))
        cols["l_partkey"].append(rng.randrange(parts))
        cols["l_suppkey"].append(rng.randrange(supps))
        cols["l_linenumber"].append(rng.randint(1, 7))
        cols["l_quantity"].append(q)
        cols["l_extendedprice"].append(round(q * rng.uniform(900, 2100), 2))
        cols["l_discount"].append(rng.randint(0, 10) / 100)
        cols["l_tax"].append(rng.randint(0, 8) / 100)
        cols["l_returnflag"].append(rng.choice("ANR"))
        cols["l_linestatus"].append(rng.choice("OF"))
        cols["l_shipdate"].append(day0 + datetime.timedelta(days=rng.randrange(2499)))
    schema = pa.schema([(name, pa.type_for_alias(t)) for name, t in LINEITEM])
    pq.write_table(pa.table(cols, schema=schema),
                   os.path.join(out_dir, "lineitem.parquet"))
    return {"lineitem": rows}


def write_manifest(out_dir, manifest):
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, sort_keys=True)
