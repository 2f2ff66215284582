"""Output checks that need DuckDB: every browser read is re-run as SQL over
the same parquet tables, and every registry query result is compared with
the DuckDB oracle the registry declares for it."""
import glob
import json
import os

import duckdb
import pyarrow.dataset as pads


def _connect(tmp):
    con = duckdb.connect()
    con.sql("SET threads = 4")
    con.sql("SET memory_limit = '2GB'")
    con.sql(f"SET temp_directory = '{tmp}'")
    return con


def _norm(v):
    if v is None:
        return ("0", "")
    if isinstance(v, bool):
        return ("1", str(v))
    if isinstance(v, (int, float)):
        return ("2", float(v))
    return ("3", str(v))


def _rowset(rows):
    return sorted((tuple(_norm(v) for v in r) for r in rows), key=repr)


def browser(ops_file, tables_dir, tmp):
    """Returns (reads whose rows differ, problems)."""
    con = _connect(tmp)
    for t in os.listdir(tables_dir):
        if os.path.isdir(os.path.join(tables_dir, t)):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                    f"'{tables_dir}/{t}/**/*.parquet', hive_partitioning = true)")
    failed, problems = 0, []
    with open(ops_file) as fh:
        for line in fh:
            op = json.loads(line)
            want = _rowset(con.sql(op["sql"]).fetchall())
            if _rowset(op["rows"]) != want:
                failed += 1
                if len(problems) < 5:
                    problems.append(f"browser op {op['i']} ({op['kind']}): "
                                    f"{len(op['rows'])} rows, DuckDB {len(want)}")
    return failed, problems


def _table(path):
    return pads.dataset(path).to_table().to_pandas()


def registry(oracle_file, out_dir, data_dir, tmp):
    """Mirrors the repository's Verify/DuckDB comparison: columns sorted by
    name, equal shapes, equal values in order (floats compared as floats).
    Returns the problems found."""
    con = _connect(tmp)
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        src = f"{f}/*.parquet" if os.path.isdir(f) else f
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{src}'")
    with open(oracle_file) as fh:
        oracle = json.load(fh)
    problems = []
    for name, sql in sorted(oracle.items()):
        try:
            s = _table(os.path.join(out_dir, name))
            d = con.sql(sql).df()
        except Exception as e:  # a missing output or broken oracle is a failure
            problems.append(f"{name}: {e}")
            continue
        s, d = s[sorted(s.columns)], d[sorted(d.columns)]
        bad = list(s.columns) != list(d.columns) or s.shape != d.shape
        if not bad:
            for c in s.columns:
                a, b = s[c].reset_index(drop=True), d[c].reset_index(drop=True)
                if a.dtype.kind == "f" or b.dtype.kind == "f":
                    af, bf = a.astype(float), b.astype(float)
                    neq = ~((af == bf) | (af.isna() & bf.isna()))
                else:
                    neq = a.astype(str) != b.astype(str)
                if neq.any():
                    bad = True
                    break
        if bad:
            problems.append(f"{name}: differs from its DuckDB oracle "
                            f"(spark {s.shape}, duckdb {d.shape})")
        elif len(s) == 0:
            problems.append(f"{name}: returned no rows")
    return problems
