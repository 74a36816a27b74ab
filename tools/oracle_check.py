#!/usr/bin/env python3
"""Local pre-flight for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/oracle_check.py <sfDir> <verifyOutDir>

Reads each <verifyOutDir>/<name>/ parquet (graft.Verify output) with PYARROW
(not DuckDB: round-tripping Spark's parquet through DuckDB's .df() converts
DECIMAL to float64 on both sides, masking representation drift that the
driver's hash compare — which reads the real values — does catch). Replays
<verifyOutDir>/oracle_sql.json in DuckDB, fetching NATIVE Python values
(decimal.Decimal stays Decimal), then diffs: columns sorted by name, rows
sorted by all columns, exact value equality (floats exact, NaN==NaN, no
cross-type coercion). Any DECIMAL column reaching an output is flagged —
decimal math belongs INSIDE queries; final output columns must be
hash-stable types (string / long / double / bool).
"""
import sys, os, json, glob, math, datetime, decimal, threading, time
import duckdb
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Fixed resource caps: an oracle that cannot finish inside them raises a
# DuckDB error, which the per-query `except` reports as FAIL (never a skip).
# Without them DuckDB sizes itself to the host and spills without bound —
# one iterative-graph oracle at sf0.01 filled the disk that way.
DUCKDB_MEMORY_LIMIT = "3GB"
MAX_TEMP_GB = 4


class SpillGuard:
    """Interrupts the running query once the temp directory passes the cap.

    DuckDB 1.0 does not enforce `max_temp_directory_size` on every spill: a
    sort under a 200 MB cap wrote 2.9 GB, and q180_hits under a 1 GB cap
    wrote ~18 GB before the disk filled. The interrupted query raises, so
    it is reported as FAIL like any other oracle error.
    """

    def __init__(self, con, temp_dir, cap_bytes):
        self.con, self.temp_dir, self.cap = con, temp_dir, cap_bytes
        self.tripped = False
        threading.Thread(target=self._watch, daemon=True).start()

    def _size(self):
        total = 0
        try:
            for e in os.scandir(self.temp_dir):
                try:
                    total += e.stat().st_size
                except FileNotFoundError:  # freed while scanning
                    pass
        except FileNotFoundError:  # no spill yet
            pass
        return total

    def _watch(self):
        while True:
            if not self.tripped and self._size() > self.cap:
                self.tripped = True
                self.con.interrupt()
            time.sleep(0.1)


def cell_key(v):
    """Total-order sort key over heterogeneous cells (None first)."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return (0, "")
    return (1, str(type(v).__name__), str(v))


def canon(cols, rows):
    """(colnames, row tuples) -> column-name-sorted, row-sorted matrix."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    mat = [tuple(r[i] for i in order) for r in rows]
    mat.sort(key=lambda r: tuple(cell_key(v) for v in r))
    return [cols[i] for i in order], mat


def cell_eq(a, b):
    if a is None and b is None:
        return True
    if a is None or b is None:
        return False
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or a == b
    # No cross-type coercion: Decimal vs float/int must FAIL loudly — that is
    # exactly the drift the driver's hash check sees and .df() used to mask.
    if type(a) is not type(b):
        if isinstance(a, bool) != isinstance(b, bool):
            return False
        if isinstance(a, int) and isinstance(b, int):  # e.g. int vs np-free long
            return a == b
        return False
    return a == b


def read_spark(files):
    t = pq.read_table(files)
    cols = t.column_names
    rows = [tuple(d[c] for c in cols) for d in t.to_pylist()]
    return cols, rows


def run_oracle(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cols, cur.fetchall()


def decimal_cols(cols, rows):
    if not rows:
        return []
    return [c for i, c in enumerate(cols)
            if any(isinstance(r[i], decimal.Decimal) for r in rows)]


# The driver's hash compare reads TYPED values, so the oracle's output column
# TYPES must be hash-stable, not just its fetched Python values: HUGEINT
# (DuckDB's sum(BIGINT) result type) fetches as a plain Python `int` and sails
# through the value-class check while failing the driver's typed hash — this is
# exactly how q230/q255 shipped red in round 7. Gate on `rel.types` up front.
HASH_STABLE_TYPES = {"VARCHAR", "BIGINT", "INTEGER", "DOUBLE", "BOOLEAN",
                     "DATE", "TIMESTAMP"}


def bad_type_cols(con, sql):
    """Columns of the oracle's OUTPUT whose declared DuckDB type is outside the
    hash-stable set (HUGEINT, DECIMAL, FLOAT, structs, ...). Checked via the
    relation type API — no rows fetched, so it catches empty-result queries too."""
    rel = con.sql(sql)
    return [f"{c}:{t}" for c, t in zip(rel.columns, map(str, rel.types))
            if str(t).split("(")[0] not in HASH_STABLE_TYPES]


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    temp_dir = f"{out_dir}/.duckdb_tmp"
    con = duckdb.connect(config={
        "memory_limit": DUCKDB_MEMORY_LIMIT,
        "temp_directory": temp_dir,
        "max_temp_directory_size": f"{MAX_TEMP_GB}GB",
    })
    guard = SpillGuard(con, temp_dir, MAX_TEMP_GB << 30)
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    for name, sql in sorted(oracle.items()):
        files = sorted(glob.glob(f"{out_dir}/{name}/*.parquet"))
        if not files:
            print(f"FAIL {name}: no spark output")
            n_fail += 1
            continue
        guard.tripped = False
        try:
            btc = bad_type_cols(con, sql)
            s_cols, s_rows = canon(*read_spark(files))
            d_cols, d_rows = canon(*run_oracle(con, sql))
        except Exception as e:
            if guard.tripped:
                e = f"spilled over {MAX_TEMP_GB} GB, interrupted ({e})"
            print(f"FAIL {name}: {e}")
            n_fail += 1
            continue
        ok = True
        msgs = []
        if btc:
            ok = False
            msgs.append(
                f"oracle output type(s) not hash-stable: {btc} — CAST to BIGINT/VARCHAR/DOUBLE")
        for side, cols, rows in (("spark", s_cols, s_rows), ("duck", d_cols, d_rows)):
            dc = decimal_cols(cols, rows)
            if dc:
                ok = False
                msgs.append(f"{side} output has DECIMAL col(s) {dc} — cast to VARCHAR/BIGINT")
        if s_cols != d_cols:
            ok = False
            msgs.append(f"columns spark={s_cols} duck={d_cols}")
        elif len(s_rows) != len(d_rows):
            ok = False
            msgs.append(f"rows spark={len(s_rows)} duck={len(d_rows)}")
        elif ok:
            for ci, c in enumerate(s_cols):
                bad = [ri for ri in range(len(s_rows))
                       if not cell_eq(s_rows[ri][ci], d_rows[ri][ci])]
                if bad:
                    ok = False
                    ri = bad[0]
                    msgs.append(
                        f"col {c}: {len(bad)} diffs; first@{ri}: "
                        f"spark={s_rows[ri][ci]!r} duck={d_rows[ri][ci]!r}")
        if ok:
            print(f"PASS {name} ({len(s_rows)} rows)")
            n_pass += 1
        else:
            print(f"FAIL {name}: " + "; ".join(msgs))
            n_fail += 1
    print(f"== {n_pass} pass, {n_fail} fail ==")
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()


