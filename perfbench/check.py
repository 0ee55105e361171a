"""Correctness check of every operation a run executed.

Tool envelopes (code, n_found, ordered ids, files written) are compared with
answers derived here, in DuckDB, from the same parquet views the program read;
the derivation shares no code with the program. Analytic results are compared
with each query's DuckDB oracle (SparkEntry.oracleSqlFor) using the
canonicalization of tools/check_oracle.py. Every failure is returned with the
operation's name and the reason.
"""
import glob
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from workload import FEDERATED

MAX_RETURNED = 30  # MAX_RETURNED_STRUCTS of the reference servers


def connect(data_dir):
    con = duckdb.connect()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE TABLE {name} AS SELECT * FROM '{path}'")
    return con


def fair_quota(caps, n):
    """Max-min fair split of n results over sources with the given capacities;
    ties go to the earlier source (the reference's distribute_quota_fair with
    one URL per provider)."""
    active = [i for i, c in enumerate(caps) if c > 0]
    quota = [0] * len(caps)
    if not active or n <= 0:
        return quota
    base, rem = divmod(n, len(active))
    for j, i in enumerate(active):
        quota[i] = min(caps[i], base + (1 if j < rem else 0))
    left = n - sum(quota)
    while left > 0:
        open_ = [i for i in active if quota[i] < caps[i]]
        if not open_:
            break
        low = min(quota[i] for i in open_)
        for i in active:
            if left > 0 and quota[i] < caps[i] and quota[i] == low:
                quota[i] += 1
                left -= 1
    return quota


def expected_ids(con, op):
    """The ordered ids the call should return, or (for fetch_mofs, which has
    no sort) the set it may draw from, as ('set', ids)."""
    tool, n = op["tool"], op["n"]
    ids = lambda sql: [r[0] for r in con.execute(sql).fetchall()]
    if tool in FEDERATED:
        per_source = [ids(f"SELECT id FROM optimade_{p} WHERE {op['where']} ORDER BY id LIMIT {n}")
                      for p in op["providers"]]
        out, seen = [], set()
        for got, q in zip(per_source, fair_quota([len(g) for g in per_source], n)):
            for i in got[:q]:
                if i not in seen:
                    seen.add(i)
                    out.append(i)
        return out[:MAX_RETURNED]
    if tool == "bohrium":
        return ids(f"SELECT id FROM bohrium WHERE {op['where']} "
                   f"ORDER BY predicted_formation_energy LIMIT {n}")
    if tool == "openlam":
        return ids(f"SELECT id FROM openlam WHERE {op['where']} ORDER BY id LIMIT {n}")
    if tool == "mofs":
        return ("set", ids(f"SELECT id FROM mofs WHERE {op['where']}"))
    cur = con.execute(f"{op['sql']} LIMIT {n}")
    k = [d[0] for d in cur.description].index("id")
    return [r[k] for r in cur.fetchall()]


def nonempty(con, op):
    """Whether the call matches at least one row."""
    if op["tool"] in FEDERATED:
        sql = " UNION ALL ".join(f"SELECT 1 FROM optimade_{p} WHERE {op['where']}"
                                 for p in op["providers"])
    elif op["tool"] == "mofs_sql":
        sql = op["sql"]
    else:
        sql = f"SELECT 1 FROM {op['tool']} WHERE {op['where']}"
    return con.execute(f"SELECT EXISTS ({sql})").fetchone()[0]


def check_tool(con, op, rec, failed_sources):
    """Reason the call failed, or None."""
    if rec.get("error"):
        return rec["error"]
    if rec["code"] == -1:
        return f"code -1: {rec['message']}"
    if op["tool"] in FEDERATED:
        down = [p for p in op["providers"] if p in failed_sources]
        if down:
            return (f"{len(down)} of {len(op['providers'])} sources failed "
                    f"({down[0]}: {failed_sources[down[0]]}); envelope code {rec['code']}")
    got = [int(i) for i in rec["ids"]]
    want = expected_ids(con, op)
    if isinstance(want, tuple):
        pool = set(want[1])
        size = min(op["n"], len(pool), MAX_RETURNED)
        if len(set(got)) != len(got) or not set(got) <= pool or len(got) != size:
            return f"ids {got[:5]}... are not {size} distinct matches"
        want = got
    elif got != want:
        return f"ids {got[:8]} != expected {want[:8]} ({len(got)} vs {len(want)})"
    if rec["n_found"] != len(want) or rec["code"] != (0 if want else -9999):
        return f"n_found {rec['n_found']} / code {rec['code']} for {len(want)} results"
    if op.get("export"):
        ext = "cif" if op["tool"] == "filter" else "json"
        files = set(rec["files"])
        missing = [f"{i}.{ext}" for i in want if f"{i}.{ext}" not in files]
        if "summary.json" not in files:
            return "no summary.json written"
        if missing:
            return f"wrote {len(want) - len(missing)} of {len(want)} .{ext} files"
    return None


def known_defect(op, reason):
    """Whether a failure is the program's known one: the filter tool's CIF
    export writes no CIF file (Mediation.dropAttrs removes the site columns
    before CifWriter runs)."""
    return (op is not None and op["tool"] == "filter" and bool(op.get("export"))
            and reason.startswith("wrote 0 of ") and reason.endswith(" .cif files"))


# --- analytic results vs the DuckDB oracle (tools/check_oracle.py canon) ----

def _norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    return str(v)


def _canon(df):
    cols = sorted(df.columns)
    rows = [tuple(_norm(v) for v in row) for row in df[cols].itertuples(index=False)]
    return cols, sorted(rows, key=lambda r: tuple(str(x) for x in r))


def _type_sig(t):
    if pa.types.is_map(t):
        return ("map", _type_sig(t.key_type), _type_sig(t.item_type))
    if pa.types.is_list(t) or pa.types.is_large_list(t) or pa.types.is_fixed_size_list(t):
        return ("list", _type_sig(t.value_type))
    if pa.types.is_struct(t):
        return ("struct", tuple(sorted((f.name, _type_sig(f.type)) for f in t)))
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_integer(t):
        return "int"
    return "other"


def _sig_conflict(a, b):
    num = {"decimal", "float", "int"}
    if isinstance(a, str) and isinstance(b, str):
        return a != b and (a in num or b in num)
    if isinstance(a, tuple) and isinstance(b, tuple):
        if a[0] != b[0]:
            return True
        if a[0] == "list":
            return _sig_conflict(a[1], b[1])
        if a[0] == "map":
            return _sig_conflict(a[1], b[1]) or _sig_conflict(a[2], b[2])
        am, bm = dict(a[1]), dict(b[1])
        return set(am) != set(bm) or any(_sig_conflict(s, bm[f]) for f, s in a[1])
    return isinstance(a, tuple) != isinstance(b, tuple)


def check_query(con, result_dir, oracle_sql):
    """Reason the query's full-row result differs from its oracle, or None."""
    if oracle_sql is None:
        return "no oracle SQL"
    spark_tbl = pq.read_table(sorted(glob.glob(os.path.join(result_dir, "*.parquet"))))
    duck_tbl = con.execute(oracle_sql).arrow()
    if hasattr(duck_tbl, "read_all"):
        duck_tbl = duck_tbl.read_all()
    duck_types = {f.name: f.type for f in duck_tbl.schema}
    bad = [f.name for f in spark_tbl.schema if f.name in duck_types
           and _sig_conflict(_type_sig(f.type), _type_sig(duck_types[f.name]))]
    if bad:
        return f"type class differs from the oracle in {bad}"
    sc, sr = _canon(spark_tbl.to_pandas())
    dc, dr = _canon(duck_tbl.to_pandas())
    if sc != dc:
        return f"columns {sc} != oracle {dc}"
    if sr != dr:
        return f"rows differ from the oracle ({len(sr)} vs {len(dr)})"
    return None
