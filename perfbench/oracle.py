"""Answer checks against the DuckDB oracle.

The normalisation and hash are those of ``tools/oracle_check.py``: each
cell rendered as NULL / 6-place float (-0 as 0) / 0-1 boolean / str,
columns in name order, rows in result order. The benchmark's own test
asserts that the two stay identical.
"""
import glob
import hashlib
import os


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if v == 0:
            v = 0.0
        return f"{v:.6f}"
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def frame_hash(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    for r in rows:
        h.update("\x1f".join(norm_cell(r[i]) for i in order).encode())
        h.update(b"\x1e")
    return h.hexdigest()


def _kinds(cols, rows):
    """int / float / other per column, from the first non-null value: an
    int column on one side against a float column on the other fails,
    as it does in the oracle check."""
    out = {}
    for i, c in enumerate(cols):
        v = next((r[i] for r in rows if r[i] is not None), None)
        out[c] = ("b" if isinstance(v, bool) else "i" if isinstance(v, int)
                  else "f" if isinstance(v, float) else "o")
    return out


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    con.execute(f"SET temp_directory = '{data_dir}/.duckdb_tmp'")
    for p in sorted(glob.glob(f"{data_dir}/*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


def check(con, ref_dir, sql, unordered=False, corrupt=False):
    """Compares the engine's answer (parquet under ref_dir) with the
    oracle SQL's. Returns (ok, reason). `unordered` compares both as
    multisets, for answers that are sets by nature; `corrupt` replaces
    the oracle's digest, to show that a wrong digest fails the run."""
    files = sorted(glob.glob(f"{ref_dir}/*.parquet"))
    src = f"read_parquet({files!r})" if files else None
    try:
        du = con.execute(sql)
        du_cols = [d[0] for d in du.description]
        du_rows = du.fetchall()
    except Exception as e:  # noqa: BLE001 - reported as a failed check
        return False, f"oracle error: {e}"
    if src is None:
        sp_cols, sp_rows = du_cols, []
    else:
        sp = con.execute(f"SELECT * FROM {src}")
        sp_cols = [d[0] for d in sp.description]
        sp_rows = sp.fetchall()
    if sorted(sp_cols) != sorted(du_cols):
        return False, f"columns {sorted(sp_cols)} != {sorted(du_cols)}"
    if len(sp_rows) != len(du_rows):
        return False, f"rows {len(sp_rows)} != {len(du_rows)}"
    ks, kd = _kinds(sp_cols, sp_rows), _kinds(du_cols, du_rows)
    if any(ks[c] != kd[c] and "o" not in (ks[c], kd[c]) for c in ks):
        return False, f"column kinds {ks} != {kd}"
    if unordered:
        key = lambda cols: lambda r: [norm_cell(r[i]) for i in
                                      sorted(range(len(cols)), key=lambda j: cols[j])]
        sp_rows = sorted(sp_rows, key=key(sp_cols))
        du_rows = sorted(du_rows, key=key(du_cols))
    expected = "0" * 64 if corrupt else frame_hash(du_cols, du_rows)
    if frame_hash(sp_cols, sp_rows) != expected:
        return False, "hash mismatch"
    return True, "ok"
