"""Hash-compare gate outputs with their DuckDB oracle SQL.

The batch_gates workload writes each gate's output as parquet under
<out>/<gate> and the gates' `SparkEntry.oracleSql` as <out>/oracle_sql.json.
Each oracle runs in DuckDB over the same input tables; a gate passes when
both sides have the same column names, types (up to int width and string
flavour) and the same multiset of rows.
"""
import glob
import json
import math
import os

import duckdb
import pyarrow.parquet as pq


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _canon_type(t):
    s = str(t)
    if s in ("string", "large_string", "utf8", "large_utf8"):
        return "str"
    if s in ("binary", "large_binary"):
        return "bin"
    if s in ("int8", "int16", "int32", "int64", "uint8", "uint16", "uint32", "uint64"):
        return "int"
    if s.startswith("list<") or s.startswith("large_list<"):
        inner = s[s.index("<") + 1:-1].split(": ", 1)[-1]
        return f"list<{inner}>"
    return s


def check(data_dir, out_dir):
    """Returns ([(gate, rows)], [(gate, reason)])."""
    # parquet support is built in; never fetch an extension
    con = duckdb.connect(config={"autoinstall_known_extensions": False,
                                 "autoload_known_extensions": False})
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    passes, fails = [], []
    for name, sql in sorted(oracle.items()):
        try:
            got = pq.read_table(os.path.join(out_dir, name))
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # a gate without output or a failing oracle
            fails.append((name, f"error: {e}"))
            continue
        gcols, wcols = sorted(got.column_names), sorted(want.column_names)
        if gcols != wcols:
            fails.append((name, f"columns: {gcols} vs {wcols}"))
            continue
        gt = {f.name: _canon_type(f.type) for f in got.schema}
        wt = {f.name: _canon_type(f.type) for f in want.schema}
        if any(gt[c] != wt[c] for c in gcols):
            fails.append((name, f"types: {gt} vs {wt}"))
            continue
        grows = sorted(tuple(_norm(r[c]) for c in gcols) for r in got.to_pylist())
        wrows = sorted(tuple(_norm(r[c]) for c in wcols) for r in want.to_pylist())
        if grows != wrows:
            fails.append((name, f"rows differ ({len(grows)} vs {len(wrows)})"))
            continue
        passes.append((name, len(grows)))
    con.close()
    return passes, fails
