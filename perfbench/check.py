"""Output checks for one benchmark run.

etl_incremental: every file's accepted/rejected counts and every Silver
table's row count are compared with the generator's manifest. query_mix:
every query's result (written by the harness in its untimed warm-up
pass) is compared, order-insensitively and with doubles equal to a
relative 1e-6, with the DuckDB oracle SQL the program registers for that
query, run over the same generated tables.
"""
import json
import math
import os

import duckdb
import pyarrow.parquet as pq

import gen_tables


def _fail(op, message):
    return {"op": op, "error": "CheckFailed", "message": message}


def verify(workload, rec, inputs, work):
    """Harness failures plus failed output checks, one entry each."""
    failures = list(rec["failures"])
    if workload == "query_mix":
        failures += _check_queries(rec, inputs, work)
    else:
        failures += _check_silver(rec, inputs)
    return failures


def _etl_ops(rec):
    """The initial load and the timed files, in order."""
    return [rec["cold"]] + rec["ops"]


def attempted(workload, rec):
    """Operations attempted: landed files processed, or queries run."""
    if workload == "query_mix":  # the cold pass, the timed passes, the warm check
        return sum(op["queries"] for op in [rec["cold"]] + rec["ops"] + [rec["cold"]])
    return sum(max(1, len(op.get("files", {}))) for op in _etl_ops(rec))


def _check_silver(rec, inputs):
    with open(os.path.join(inputs, "bronze", "manifest.json")) as f:
        manifest = json.load(f)
    out = []
    ops = _etl_ops(rec)
    for op in ops:
        for name, got in op.get("files", {}).items():
            want = manifest["files"][name]
            if any(got[k] != want[k] for k in ("rows", "accepted", "rejected")):
                out.append(_fail(f"{op['name']}:{name}",
                                 f"file counts {got} != manifest {want}"))
    want = manifest["after_incremental"][len(ops) - 2] if len(ops) > 1 \
        else manifest["after_initial"]
    got = silver_counts(rec["silver_root"], want)
    bad = {t: (got[t], n) for t, n in want.items() if got[t] != n}
    if bad:
        out.append(_fail(ops[-1]["name"], f"Silver counts (got, want): {bad}"))
    return out


def silver_counts(root, tables):
    """Rows per Silver table, summed from the parquet footers of the files
    a reader sees: hidden (`.`) and `_`-prefixed entries are skipped
    unless they are partition directories such as `_bucket=3`."""
    def visible(name):
        return not name.startswith(".") and (not name.startswith("_") or "=" in name)
    out = {}
    for t in tables:
        n = 0
        for d, dirs, files in os.walk(os.path.join(root, t)):
            dirs[:] = [x for x in dirs if visible(x)]
            n += sum(pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
                     for f in files if f.endswith(".parquet") and visible(f))
        out[t] = n
    return out


def _key(row):
    """Sort key that orders rows alike on both sides despite float noise."""
    return tuple((1, float(f"{v:.6g}")) if isinstance(v, float)
                 else (0, repr(v)) for v in row)


def _same(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-9)
    return a == b


def _check_queries(rec, inputs, work):
    with open(os.path.join(work, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    tables = os.path.join(inputs, "tables", "bench")
    for t in gen_tables.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(tables, t + '.parquet')}'")
    expected = {}
    out = []
    failed = {f["op"] for f in rec["failures"]}
    for phase, results in (("cold", "results"), ("warm", "results_warm")):
        for name, sql in sorted(oracle.items()):
            op = f"{phase}:{name}"
            if op in failed:
                continue
            try:
                if name not in expected:
                    rel = con.sql(sql)
                    expected[name] = (rel.columns, rel.fetchall())
                ec, rows = expected[name]
                got_rel = con.sql(f"SELECT * FROM "
                                  f"'{os.path.join(work, results, name)}/*.parquet'")
                gc = got_rel.columns
                if sorted(gc) != sorted(ec):
                    out.append(_fail(op, f"columns {sorted(gc)} != {sorted(ec)}"))
                    continue
                gi = [gc.index(c) for c in sorted(gc)]
                ei = [ec.index(c) for c in sorted(ec)]
                got = sorted((tuple(r[i] for i in gi) for r in got_rel.fetchall()), key=_key)
                exp = sorted((tuple(r[i] for i in ei) for r in rows), key=_key)
                diff = [(g, e) for g, e in zip(got, exp)
                        if not all(_same(x, y) for x, y in zip(g, e))]
                if len(got) != len(exp) or diff:
                    out.append(_fail(op, f"{len(got)} vs {len(exp)} rows; {diff[:2]}"))
            except Exception as e:  # a query that cannot be checked counts as failed
                out.append({"op": op, "error": type(e).__name__, "message": str(e)[:300]})
    return out
