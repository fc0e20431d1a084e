"""Output check of query_suite. Each result with a DuckDB oracle is compared
by the engine's own oracle gate, tools/check_oracle.py (columns sorted by
name, DuckDB dtype parity, row count, then cell-by-cell equality in
emitted order, floats exact). A result without an oracle is compared
against a checksum of its sorted rows, recorded from a known-good tree in
checksums.json.
"""
import hashlib
import json
import math
import os
import subprocess
import sys

import duckdb
import numpy as np

def _norm(v):
    if isinstance(v, (list, np.ndarray)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if v is None:
        return "None"
    return v


def checksum(res):
    """Order-insensitive checksum of a result: sha256 of its sorted rows."""
    df = duckdb.sql(f"SELECT * FROM read_parquet('{res}/*.parquet')").df()
    df = df[sorted(df.columns)]
    rows = sorted(repr(tuple(_norm(c) for c in r)) for r in df.itertuples(index=False))
    h = hashlib.sha256(repr(list(df.columns)).encode())
    for r in rows:
        h.update(r.encode())
    return f"{len(rows)}:{h.hexdigest()}"


def check(root, data_dir, results_dir, checksums_path, timeout):
    """Check every result under results_dir; returns the failures."""
    with open(os.path.join(results_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    with open(checksums_path) as f:
        sums = json.load(f)
    names = sorted(d for d in os.listdir(results_dir)
                   if os.path.isdir(os.path.join(results_dir, d)))
    failures = [f"query {n}: no result" for n in sorted(set(oracles) - set(names))]
    for name in names:
        if name not in oracles:
            got = checksum(os.path.join(results_dir, name))
            if sums.get(name) != got:
                failures.append(f"query {name}: checksum {got} != recorded {sums.get(name)}")
    if oracles:
        p = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                            data_dir, results_dir], capture_output=True, text=True,
                           timeout=timeout)
        fails = [l for l in p.stdout.splitlines() if l.startswith("FAIL ")]
        passes = [l for l in p.stdout.splitlines() if l.startswith("PASS ")]
        failures += [f"query {l[5:]}" for l in fails]
        if (p.returncode != 0 and not fails) or len(passes) != len(oracles) - len(fails):
            failures.append(f"oracle gate exited {p.returncode}: "
                            f"{(p.stdout + p.stderr)[-500:]}")
    return failures
