"""DuckDB oracle check of query outputs.

Each query registered with an oracle (`SparkEntry.oracleSql`) has an
equivalent SQL statement that DuckDB runs on the same parquet inputs.
The Spark output (written as parquet by the harness) and the DuckDB
result must agree the way tools/verify_local.py compares them: the same
column names, the same type family per column, the same row count and
the same values once rows are sorted and columns ordered by name.
"""
import math

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, bytes):
        return v.hex()
    return v


def _family(arrow_type):
    t = str(arrow_type)
    if t.startswith("decimal"):
        return "decimal"
    if t.startswith(("int", "uint")):
        return "int"
    if t in ("float", "double", "halffloat"):
        return "float"
    if t in ("string", "large_string", "utf8", "large_utf8"):
        return "str"
    if t.startswith(("list", "large_list")):
        return "list"
    return t


def _table(con, sql):
    t = con.execute(sql).arrow()
    cols = list(t.schema.names)
    fams = {f.name: _family(f.type) for f in t.schema}
    return cols, fams, con.execute(sql).fetchall()


def compare(got, exp):
    """Problems found between two (columns, families, rows) results;
    an empty list means they agree."""
    gcols, gfam, grows = got
    ecols, efam, erows = exp
    if sorted(gcols) != sorted(ecols):
        return [f"columns {sorted(gcols)} != {sorted(ecols)}"]
    problems = [f"{c}: spark={gfam[c]} oracle={efam[c]}"
                for c in sorted(gcols) if gfam[c] != efam[c]]
    if len(grows) != len(erows):
        problems.append(f"rows {len(grows)} != {len(erows)}")
    if problems:
        return problems
    gi = [gcols.index(c) for c in sorted(gcols)]
    ei = [ecols.index(c) for c in sorted(ecols)]

    def key(row):
        return tuple((v is None, str(v)) for v in row)
    g = sorted((tuple(_canon(r[i]) for i in gi) for r in grows), key=key)
    e = sorted((tuple(_canon(r[i]) for i in ei) for r in erows), key=key)
    bad = [(a, b) for a, b in zip(g, e) if a != b]
    if bad:
        return [f"values differ in {len(bad)}/{len(g)} rows; "
                f"first: {bad[0][0]} != {bad[0][1]}"]
    return []


def check(data_dir, out_dir, oracle_sql):
    """Map query name -> list of problems (empty when the Spark output
    in `out_dir/<name>` matches DuckDB running the query's oracle SQL on
    the parquet tables in `data_dir`)."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{data_dir}/{t}.parquet'")
    result = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = _table(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            exp = _table(con, sql)
            result[name] = compare(got, exp)
        except Exception as e:  # noqa: BLE001 - any oracle failure is a failed check
            result[name] = [f"exception: {e}"[:400]]
    return result
