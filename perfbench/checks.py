"""Output checks of one benchmark run.

Oracle-declared keys are compared with DuckDB on the exact generated
dataset through `scripts/preflight.py`'s own comparison (imported, never
modified). Keys without an oracle are compared with a content fingerprint
pinned in pins.json. Every timed sample's row count is checked against the
expected count from either source.
"""
import glob
import hashlib
import json
import os
import sys

import pyarrow.parquet as pq


def load_preflight(root):
    sys.path.insert(0, os.path.join(root, "scripts"))
    import preflight
    return preflight


def fingerprint(dump_dir):
    """(rows, sha256) of a result directory, independent of row order."""
    files = sorted(glob.glob(os.path.join(dump_dir, "*.parquet")))
    t = pq.read_table(files) if files else None
    if t is None or t.num_rows == 0:
        return 0, hashlib.sha256(b"").hexdigest()
    cols = [t[c].to_pylist() for c in t.column_names]
    rows = sorted(repr(r) for r in zip(*cols))
    h = hashlib.sha256(repr(t.column_names).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


class Expectations:
    """Expected output of every key of a workload on one dataset."""

    def __init__(self, root, data_dir, tmp_dir, oracle_sql, pins):
        self.preflight = load_preflight(root)
        self.oracle_sql = oracle_sql
        self.pins = pins
        self.con = self.preflight.make_con(data_dir)
        # keep any DuckDB spill inside the run's own directory
        self.con.execute(f"SET temp_directory='{tmp_dir}/duckdb'")
        self.oracle = {}

    def expected_rows(self, key):
        """Expected row count, or None when the key has no expectation."""
        if key in self.oracle_sql:
            return len(self.oracle_frame(key))
        return self.pins.get(key, {}).get("rows")

    def oracle_frame(self, key):
        if key not in self.oracle:
            self.oracle[key] = self.con.execute(self.oracle_sql[key]).df()
        return self.oracle[key]

    def check(self, key, dump_dir):
        """Problems with one key's dumped output; empty when it is right."""
        files = sorted(glob.glob(os.path.join(dump_dir, "*.parquet")))
        if not files:
            return ["no output written"]
        if key not in self.oracle_sql:
            rows, digest = fingerprint(dump_dir)
            pin = self.pins.get(key)
            if pin is None:
                return ["no oracle and no pinned fingerprint"]
            if (rows, digest) != (pin["rows"], pin["sha256"]):
                return [f"fingerprint rows={rows} sha256={digest[:16]} "
                        f"pinned rows={pin['rows']} "
                        f"sha256={pin['sha256'][:16]}"]
            return []
        dec = self.preflight.decimal_columns(files)
        if dec:
            return [f"decimal-typed output column(s) {dec}"]
        sdf = self.con.execute("SELECT * FROM read_parquet(?)", [files]).df()
        problems = self.preflight.compare(key, sdf, self.oracle_frame(key))
        if len(sdf) == 0:
            problems.append("empty result")
        return problems


def load_pins(path, workload):
    try:
        with open(path) as f:
            return json.load(f).get(workload, {})
    except FileNotFoundError:
        return {}


def check_run(exp, passes, keys, dump):
    """Check every timed sample's row count and every key's dumped output.

    Returns (attempted, failed, problems by key). A failure is an
    exception, a row-count mismatch or a failed output check.
    """
    problems = {}
    attempted = failed = 0
    for p in passes:
        for s in p["samples"]:
            attempted += 1
            want = exp.expected_rows(s["key"])
            if not s["ok"] or s["rows"] != want:
                failed += 1
                problems.setdefault(s["key"], []).append(
                    s["error"] or f"{p['kind']} rows {s['rows']} != {want}")
    for k in keys:
        attempted += 1
        bad = exp.check(k, os.path.join(dump, k))
        if bad:
            failed += 1
            problems.setdefault(k, []).extend(bad)
    return attempted, failed, problems
