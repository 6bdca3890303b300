"""Correctness gates, run after the timed region.

Each gate returns a list of failure messages (empty = pass).
"""
import csv
import glob
import json
import os
import sys
from collections import Counter

from gen import rows_digest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from selfcheck import canon, cmp_cell  # noqa: E402


def check_etl(csv_root, expected):
    """The wide CSV rows of every reading type must match the digest the
    generator computed from the documents it encoded."""
    failures = []
    for t, want in sorted(expected["csv"].items()):
        rows = []
        files = sorted(glob.glob(os.path.join(csv_root, f"type={t}", "*.csv")))
        for path in files:
            with open(path, newline="") as f:
                r = csv.reader(f)
                header = next(r, None)
                for cells in r:
                    # an empty cell is a null: the generator never encodes ""
                    rows.append({k: (v if v != "" else None) for k, v in zip(header, cells)})
        got, n = rows_digest(rows)
        if n != want["rows"] or got != want["sha256"]:
            failures.append(f"etl {t}: {n} CSV rows, digest {got[:12]}; "
                            f"expected {want['rows']} rows, digest {want['sha256'][:12]}")
    return failures


def read_acks(path):
    with open(path) as f:
        return [(k, h, int(at)) for k, h, at in (line.rstrip("\n").split("\t") for line in f if line.strip())]


def check_acks(acks, expected):
    """Every recorded record acked exactly once, with the payload digest
    of its transformed record."""
    want = Counter((k, h) for k, h, _ in expected["records"])
    got = Counter((k, h) for k, h, _ in acks)
    failures = []
    missing = want - got
    extra = got - want
    if missing:
        failures.append(f"{sum(missing.values())} records not acked (or payload mismatch)")
    if extra:
        failures.append(f"{sum(extra.values())} unexpected or duplicate acks")
    return failures


def paced_latencies_ms(acks, expected, anchor_ms, time_scale):
    """Due time → ack time per record, in ms. A record is due at the
    pacing anchor plus its scaled event-time offset."""
    due = {}
    for k, h, ts in expected["records"]:
        due[(k, h)] = anchor_ms + (ts - expected["base_ts"]) * time_scale
    return [at / 1000.0 - due[(k, h)] for k, h, at in acks if (k, h) in due]


# ----------------------------------------------------------- registry
# A Spark output is compared against DuckDB over the oracle SQL the way
# tools/selfcheck.py compares: its canon and cmp_cell, plus its column,
# dtype-kind and row-count checks.

def compare_frames(name, want, got):
    want, got = canon(want), canon(got)
    if list(want.columns) != list(got.columns):
        return [f"{name}: columns {list(got.columns)}, expected {list(want.columns)}"]
    kinds = [c for c in want.columns if want[c].dtype.kind != got[c].dtype.kind]
    if kinds:
        return [f"{name}: dtype kind mismatch in {kinds}"]
    if len(want) != len(got):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    for i in range(len(want)):
        for c in want.columns:
            if not cmp_cell(want[c].iloc[i], got[c].iloc[i]):
                return [f"{name}: row {i} column {c}: {got[c].iloc[i]!r}, expected {want[c].iloc[i]!r}"]
    return []


def check_registry(registry_dir, tables_dir, tables):
    import duckdb
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    with open(os.path.join(registry_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    failures = []
    for name, sql in sorted(oracle.items()):
        try:
            want = con.sql(sql).df()
            got = duckdb.sql(f"SELECT * FROM '{registry_dir}/{name}/*.parquet'").df()
        except Exception as e:  # a missing or unreadable output is a failure
            failures.append(f"{name}: {type(e).__name__}: {e}")
            continue
        failures.extend(compare_frames(name, want, got))
    return failures
