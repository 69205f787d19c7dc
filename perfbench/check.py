"""Output checks for the anonymize benchmark, run with DuckDB outside the
timed region.  Every check compares what the CLI wrote against the
generated input and the manifest's expectations; a table that fails any
check is reported with the reasons.
"""
import filecmp
import os

import duckdb

from gen import REPLACED


def connect():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def _src(path):
    if os.path.isdir(path):
        path = os.path.join(path, "*.parquet")
    return f"read_parquet('{path}')"


def _columns(con, rel):
    return [(r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {rel}").fetchall()]


def _one(con, sql):
    return con.execute(sql).fetchone()[0]


def digest(con, path):
    """Order-independent content digest of one output table."""
    if not os.path.exists(path):
        return "missing"
    rel = _src(path)
    try:
        cols = ", ".join(f'"{c}"' for c, _ in _columns(con, rel))
        n, h = con.execute(f"SELECT count(*), sum(hash({cols}))::HUGEINT FROM {rel}").fetchone()
    except duckdb.Error:
        return "unreadable"
    return f"{n}:{h}"


def digests(con, man, out_dir):
    return {t: digest(con, os.path.join(out_dir, f"{t}.parquet")) for t in man["tables"]}


_FILTER_SQL = {
    "Contains": lambda f: f"contains({f['column']}, '{f['value']}')",
    "StartsWith": lambda f: f"starts_with({f['column']}, '{f['value']}')",
    "EndsWith": lambda f: f"ends_with({f['column']}, '{f['value']}')",
    "StartsAndEndsWith": lambda f: (f"starts_with({f['column']}, '{f['start_value']}') "
                                    f"AND ends_with({f['column']}, '{f['end_value']}')"),
    "Equals": lambda f: f"{f['column']} = '{f['value']}'",
    "AnyOfInt": lambda f: (f"{f['column']} IS NULL OR {f['column']} NOT IN "
                           f"({', '.join(map(str, f['values']))})"),
    "AnyOfString": lambda f: (f"{f['column']} IS NULL OR {f['column']} NOT IN "
                              f"({', '.join(repr(v) for v in f['values'])})"),
}


def _cdc_expected(con, table_dir, cols):
    """Independent replay of the generated ops: the latest op per key wins,
    I/U upsert the row and D deletes it."""
    sel = ", ".join(cols)
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE expected AS
        WITH last AS (
          SELECT * FROM (
            SELECT *, row_number() OVER (PARTITION BY id
                                         ORDER BY _dms_ingestion_timestamp DESC) AS rn
            FROM read_parquet('{table_dir}/2*.parquet')) WHERE rn = 1)
        SELECT {sel} FROM read_parquet('{table_dir}/LOAD*.parquet') l
          WHERE NOT EXISTS (SELECT 1 FROM last WHERE last.id = l.id)
        UNION ALL
        SELECT {sel} FROM last WHERE Op IN ('I', 'U')""")
    return "expected"


def check_table(con, man, name, exp, out_dir):
    """Return the list of problems found in one output table."""
    out_path = os.path.join(out_dir, f"{name}.parquet")
    if not os.path.exists(out_path):
        return ["output missing"]
    if exp.get("copy"):
        src = os.path.join(man["input_dir"], f"{name}.parquet")
        return [] if filecmp.cmp(src, out_path, shallow=False) else ["copy differs from input"]
    out = _src(out_path)
    if exp.get("cdc"):
        inp = _cdc_expected(con, os.path.join(man["input_dir"], name),
                            [c for c, _ in _columns(
                                con, _src(os.path.join(man["input_dir"], name, "LOAD00000001.parquet")))])
    else:
        inp = _src(os.path.join(man["input_dir"], f"{name}.parquet"))
    problems = []

    def bad(label, sql):
        k = _one(con, sql)
        if k:
            problems.append(f"{label}: {k} rows")

    n_out = _one(con, f"SELECT count(*) FROM {out}")
    if exp.get("cdc"):
        n_exp = _one(con, f"SELECT count(*) FROM {inp}")
        if n_out != n_exp:
            problems.append(f"row count {n_out} != replayed {n_exp}")
    elif "rows" in exp and n_out != exp["rows"]:
        problems.append(f"row count {n_out} != expected {exp['rows']}")
    elif "max_rows" in exp and n_out > exp["max_rows"]:
        problems.append(f"row count {n_out} > limit {exp['max_rows']}")
    bad("duplicate ids", f"SELECT count(*) - count(DISTINCT id) FROM {out}")
    bad("ids not in input", f"SELECT count(*) FROM {out} o WHERE NOT EXISTS "
                            f"(SELECT 1 FROM {inp} i WHERE i.id = o.id)")
    if exp.get("cdc"):
        bad("replayed ids missing", f"SELECT count(*) FROM {inp} i WHERE NOT EXISTS "
                                    f"(SELECT 1 FROM {out} o WHERE i.id = o.id)")
    if "filter" in exp:
        pred = _FILTER_SQL[exp["filter"]["type"]](exp["filter"])
        bad("rows failing the filter", f"SELECT count(*) FROM {out} WHERE NOT coalesce({pred}, false)")

    types = dict(_columns(con, inp))
    joined = f"{out} o JOIN {inp} i USING (id)"
    for c in exp["columns"]:
        col, kind = c["column"], c["kind"]
        o, i = f'o."{col}"', f'i."{col}"'
        if kind == "replace":
            bad(f"{col} not replaced", f"SELECT count(*) FROM {out} o WHERE {o} IS DISTINCT FROM '{REPLACED}'")
        elif kind == "nullify":
            bad(f"{col} not nullified", f"SELECT count(*) FROM {out} o WHERE {o} IS NOT NULL")
        else:
            empty = f"({i} IS NULL OR {i} = '')"
            bad(f"{col} unfaked", f"SELECT count(*) FROM {joined} WHERE NOT {empty} "
                                  f"AND ({o} IS NULL OR {o} = {i})")
            if c.get("retain"):
                bad(f"{col} empty not retained", f"SELECT count(*) FROM {joined} WHERE {empty} "
                                                 f"AND {o} IS DISTINCT FROM {i}")
            if kind == "fake_email_with_id_prefix_transformation":
                bad(f"{col} missing id prefix", f"SELECT count(*) FROM {joined} "
                                                f"WHERE NOT starts_with({o}, CAST(id AS VARCHAR) || '-')")
    for col in exp["untouched"]:
        o, i = f'o."{col}"', f'i."{col}"'
        want = i
        if exp.get("sanitize") and types[col] == "VARCHAR":
            want = f"CASE WHEN contains({i}, chr(0)) THEN NULL ELSE {i} END"
        bad(f"{col} changed", f"SELECT count(*) FROM {joined} WHERE {o} IS DISTINCT FROM {want}")
    return problems


def check_output(con, man, out_dir):
    """Map each table that failed a check to its problems."""
    found = {}
    for name, exp in man["tables"].items():
        try:
            p = check_table(con, man, name, exp, out_dir)
        except duckdb.Error as e:
            p = [f"unreadable output: {e}"]
        if p:
            found[name] = p
    return found
