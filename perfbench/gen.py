"""Seeded input generators for the anonymize benchmark workloads.

Each generator writes a complete CLI input under `root`: the parquet data
(plain `<table>.parquet` layout or the DMS `<table>/LOAD*/CDC` layout), the
`<db>-<schema>-sync.toml` anonymization config and, where the workload has
one, the validations TOML at `<config-dir>/../validations/`.  It returns a
manifest: the CLI arguments and environment, the input size, and what the
checker must expect of each output table.

Every generated string lies outside the FakeGen wordlists (lower-case
tokens with digits, `.test` domains), so a faked cell can never equal its
input by chance.  The same seed always gives the same bytes.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

DB, SCHEMA = "bench", "public"

# Scale 1.0 is the benchmark size; tests run the same code at a tiny scale.
SIZES = {
    "anon_wide": {"people": 110_000, "companies": 50_000, "files": 4, "ledger": 20_000},
    "dms_cdc": {"load": 100_000, "cdc_files": 12, "cdc_rows": 8_000,
                "zipf_a": 1.2, "load_files": 2},
    "many_tables": {"tables": 20, "rows": 2_000},
}

REPLACED = "REDACTED"
FAKERS = [  # (column, operation_type, FakeGen kind name)
    ("first", "fake_firstname_transformation", "first_name"),
    ("last", "fake_lastname_transformation", "last_name"),
    ("full", "fake_name_transformation", "full_name"),
    ("email", "fake_email_transformation", "email"),
    ("address", "fake_address_transformation", "address"),
    ("phone", "fake_phone_transformation", "phone"),
    ("emails", "fake_multi_email_transformation", "multi_email"),
]


def _s(a):
    return pa.array(a).cast(pa.string())


def _cat(*parts):
    return pc.binary_join_element_wise(*parts, "")


def _token(rng, n, prefix):
    return _cat(prefix, _s(rng.integers(0, 1 << 40, n)))


def _phone(rng, n):
    return _cat("+", _s(rng.integers(10, 99, n)), " ", _s(rng.integers(100, 999, n)),
                " ", _s(rng.integers(1000, 9999, n)), "-", _s(rng.integers(1000, 9999, n)))


def _email(rng, n):
    return _cat(_token(rng, n, "u"), "@corp", _s(rng.integers(0, 50, n)), ".test")


def _multi_email(rng, n):
    two = _cat("{", _email(rng, n), ",", _email(rng, n), "}")
    three = _cat("{", _email(rng, n), ",", _email(rng, n), ",", _email(rng, n), "}")
    return pc.if_else(pa.array(rng.random(n) < 0.5), two, three)


def _timestamps(rng, n):
    us = 1_700_000_000_000_000 + rng.integers(0, 10**13, n)
    return pa.array(us, pa.timestamp("us", tz="UTC"))


def _write(table, path, files):
    """Write `table` as `files` parquet files: a directory when files > 1,
    so the scan splits across tasks the way a real export does."""
    if files == 1:
        pq.write_table(table, path, row_group_size=64_000)
        return [path]
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    out = []
    for i in range(files):
        p = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(i * step, step), p, row_group_size=64_000)
        out.append(p)
    return out


# ---- TOML -----------------------------------------------------------------

def _q(v):
    return json.dumps(v)


def _toml_table(t):
    lines = ["[[tables]]", f"table_name = {_q(t['name'])}"]
    if t.get("keep") is not None:
        lines.append(f"keep_num_of_records = {t['keep']}")
    if t.get("sanitize"):
        lines.append("sanitize_null_bytes = true")
    f = t.get("filter")
    if f:
        lines.append("[tables.filter_type]")
        lines += [f"{k} = {_q(v)}" for k, v in f.items()]
    lines += ["[tables.anonymization_type]", 'type = "Multi"']
    for c in t["columns"]:
        lines += ["[[tables.anonymization_type.column_transformations]]",
                  f"column_name = {_q(c['column'])}"]
        if c.get("retain"):
            lines.append("retain_if_empty = true")
        lines.append("[tables.anonymization_type.column_transformations.transformation_type]")
        if c["kind"] == "replace":
            lines += ['type = "Replace"', f"replacement_value = {_q(REPLACED)}"]
        elif c["kind"] == "nullify":
            lines.append('type = "Nullify"')
        else:
            lines += ['type = "Custom"', f"operation_type = {_q(c['kind'])}"]
    return "\n".join(lines)


def _write_configs(root, tables, validations):
    cfg_dir = os.path.join(root, "config", "sync")
    os.makedirs(cfg_dir, exist_ok=True)
    with open(os.path.join(cfg_dir, f"{DB}-{SCHEMA}-sync.toml"), "w") as f:
        f.write("\n\n".join(_toml_table(t) for t in tables) + "\n")
    if validations:
        vdir = os.path.join(root, "config", "validations")
        os.makedirs(vdir, exist_ok=True)
        with open(os.path.join(vdir, f"{DB}-{SCHEMA}.toml"), "w") as f:
            for v in validations:
                f.write("[[validations]]\n"
                        f"query = {_q(v['query'])}\ncolumn_to_check = {_q(v['column'])}\n"
                        "[validations.value_check_type]\n"
                        f"type = {_q(v['type'])}\nvalue = {_q(v['value'])}\n\n")
    return cfg_dir


def _size(paths):
    return sum(os.path.getsize(p) for p in paths)


# ---- anon_wide --------------------------------------------------------------

def _people(rng, n):
    email = _email(rng, n)
    blank = rng.random(n)
    email = pc.if_else(pa.array(blank < 0.04), pa.scalar(""), email)
    email = pc.if_else(pa.array((blank >= 0.04) & (blank < 0.08)), pa.nulls(n, pa.string()), email)
    note = _token(rng, n, "note-")
    note = pc.if_else(pa.array(rng.random(n) < 0.01), _cat(note, "\x00tail"), note)
    return pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "first": _token(rng, n, "fn"),
        "last": _token(rng, n, "ln"),
        "full": _cat(_token(rng, n, "fn"), " ", _token(rng, n, "ln")),
        "email": email,
        "address": _cat(_s(rng.integers(1, 999, n)), " road-", _token(rng, n, "r")),
        "phone": _phone(rng, n),
        "emails": _multi_email(rng, n),
        "status": pc.if_else(pa.array(rng.random(n) < 0.5), pa.scalar("active"), pa.scalar("closed")),
        "ssn": _cat(_s(rng.integers(100, 999, n)), "-", _s(rng.integers(1000, 9999, n))),
        "note": note,
        "amount": pa.array(rng.normal(100, 30, n)),
        "created": _timestamps(rng, n),
    })


def _companies(rng, n):
    return pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "company": _cat(_token(rng, n, "co"), " holding"),
        "token": _token(rng, n, "tok"),
        "contact": _email(rng, n),
        "city": _token(rng, n, "city"),
        "revenue": pa.array(rng.integers(0, 10**9, n)),
    })


def gen_anon_wide(root, seed, scale=1.0):
    rng = np.random.default_rng(seed)
    sz = SIZES["anon_wide"]
    files = sz["files"] if scale >= 1 else 1
    inp = os.path.join(root, "input")
    os.makedirs(inp, exist_ok=True)
    people = _people(rng, max(20, int(sz["people"] * scale)))
    companies = _companies(rng, max(20, int(sz["companies"] * scale)))
    paths = _write(people, os.path.join(inp, "people.parquet"), files)
    paths += _write(companies, os.path.join(inp, "companies.parquet"), files)
    # one unconfigured table, so the pass-through copy runs beside the fakers
    ledger = _small(rng, max(20, int(sz["ledger"] * scale)))[0]
    paths += _write(ledger, os.path.join(inp, "ledger.parquet"), 1)
    people_cols = [{"column": c, "kind": op, "retain": c == "email"} for c, op, _ in FAKERS]
    people_cols += [{"column": "status", "kind": "replace"}, {"column": "ssn", "kind": "nullify"}]
    tables = [
        {"name": "people", "sanitize": True, "columns": people_cols},
        {"name": "companies", "columns": [
            {"column": "company", "kind": "fake_companyname_transformation"},
            {"column": "token", "kind": "fake_md5_transformation"},
            {"column": "contact", "kind": "fake_email_with_id_prefix_transformation"}]},
    ]
    # one validation probe, so Validator runs after the export
    cfg_dir = _write_configs(root, tables, [{"query": "SELECT status FROM people",
                                             "column": "status", "type": "Equals",
                                             "value": REPLACED}])
    expect = {
        "people": {"rows": people.num_rows, "columns": people_cols, "sanitize": True,
                   "untouched": ["note", "amount", "created"]},
        "companies": {"rows": companies.num_rows, "columns": tables[1]["columns"],
                      "untouched": ["city", "revenue"]},
        "ledger": {"copy": True, "rows": ledger.num_rows},
    }
    kernels = {kind: ("people", col) for col, _, kind in FAKERS}
    kernels["company"] = ("companies", "company")
    kernels["uuid"] = ("companies", "token")
    return _manifest("anon_wide", seed, root, inp, cfg_dir, [], expect, paths,
                     people.num_rows + companies.num_rows + ledger.num_rows, kernels,
                     {"validations": 1})


# ---- dms_cdc ----------------------------------------------------------------

def _accounts(rng, ids):
    n = len(ids)
    return {
        "id": pa.array(ids, pa.int64()),
        "email": _email(rng, n),
        "plan": _token(rng, n, "plan"),
        "balance": pa.array(rng.integers(0, 10**7, n)),
        "updated": _timestamps(rng, n),
    }


def gen_dms_cdc(root, seed, scale=1.0):
    rng = np.random.default_rng(seed)
    sz = SIZES["dms_cdc"]
    n_load = max(50, int(sz["load"] * scale))
    n_cdc = max(20, int(sz["cdc_rows"] * scale))
    tdir = os.path.join(root, "input", "accounts")
    os.makedirs(tdir, exist_ok=True)
    paths = []
    load = pa.table(_accounts(rng, np.arange(n_load)))
    step = -(-n_load // sz["load_files"])
    for i in range(sz["load_files"]):
        p = os.path.join(tdir, f"LOAD{i + 1:08d}.parquet")
        pq.write_table(load.slice(i * step, step), p)
        paths.append(p)
    # Zipf ranks map through a seeded permutation, so the hot keys are spread
    # over the key space rather than clustered at the low ids.
    perm = rng.permutation(n_load)
    next_id = n_load
    ts0 = 1_710_000_000_000_000
    for f in range(sz["cdc_files"]):
        u = rng.random(n_cdc)
        hot = perm[(rng.zipf(sz["zipf_a"], n_cdc) - 1) % n_load]
        n_ins = int((u < 0.25).sum())
        keys = hot.copy()
        keys[u < 0.25] = np.arange(next_id, next_id + n_ins)
        next_id += n_ins
        ops = np.where(u < 0.25, "I", np.where(u < 0.85, "U", "D"))
        cols = _accounts(rng, keys)
        cols["Op"] = pa.array(ops)
        # unique, increasing ingestion timestamps: exactly one winner per key
        cols["_dms_ingestion_timestamp"] = pa.array(
            ts0 + (f * n_cdc + np.arange(n_cdc)) * 1000, pa.timestamp("us", tz="UTC"))
        p = os.path.join(tdir, f"202403{f + 1:02d}-{f:06d}.parquet")
        pq.write_table(pa.table(cols), p)
        paths.append(p)
    columns = [{"column": "email", "kind": "fake_email_transformation"}]
    cfg_dir = _write_configs(root, [{"name": "accounts", "columns": columns}], [])
    expect = {"accounts": {"cdc": True, "columns": columns,
                           "untouched": ["plan", "balance", "updated"]}}
    kernels = {k: ("accounts", "email") for _, _, k in FAKERS}
    kernels["company"] = kernels["uuid"] = ("accounts", "email")
    return _manifest("dms_cdc", seed, root, os.path.join(root, "input"), cfg_dir,
                     ["--dms", "--pk", "accounts=id"], expect, paths,
                     n_load + sz["cdc_files"] * n_cdc, kernels,
                     {"zipf_a": sz["zipf_a"], "cdc_files": sz["cdc_files"]})


# ---- many_tables ------------------------------------------------------------

CODES = np.array(["alpha-x", "alpha-y", "beta-x", "beta-y", "gamma-z", "delta-q"])

# (filter config, numpy predicate over (code, k) arrays with None for NULL)
FILTERS = [
    ({"type": "Contains", "column": "code", "value": "ta-"},
     lambda c, k: np.array([v is not None and "ta-" in v for v in c])),
    ({"type": "StartsWith", "column": "code", "value": "al"},
     lambda c, k: np.array([v is not None and v.startswith("al") for v in c])),
    ({"type": "EndsWith", "column": "code", "value": "-x"},
     lambda c, k: np.array([v is not None and v.endswith("-x") for v in c])),
    ({"type": "StartsAndEndsWith", "column": "code", "start_value": "be", "end_value": "-y"},
     lambda c, k: np.array([v is not None and v.startswith("be") and v.endswith("-y") for v in c])),
    ({"type": "Equals", "column": "code", "value": "gamma-z"},
     lambda c, k: np.array([v == "gamma-z" for v in c])),
    ({"type": "AnyOfInt", "column": "k", "values": [1, 2, 3]},
     lambda c, k: np.array([v is None or v not in (1, 2, 3) for v in k])),
    ({"type": "AnyOfString", "column": "code", "values": ["alpha-x", "beta-y"]},
     lambda c, k: np.array([v is None or v not in ("alpha-x", "beta-y") for v in c])),
]


def _small(rng, n):
    code = CODES[rng.integers(0, len(CODES), n)].astype(object)
    code[rng.random(n) < 0.05] = None
    k = rng.integers(0, 8, n).astype(object)
    k[rng.random(n) < 0.05] = None
    note = _token(rng, n, "n")
    note = pc.if_else(pa.array(rng.random(n) < 0.02), _cat(note, "\x00z"), note)
    t = pa.table({
        "id": pa.array(np.arange(n, dtype=np.int64)),
        "code": pa.array(list(code), pa.string()),
        "k": pa.array(list(k), pa.int32()),
        "name": _cat(_token(rng, n, "fn"), " ", _token(rng, n, "ln")),
        "email": _email(rng, n),
        "status": _token(rng, n, "st"),
        "note": note,
        "amount": pa.array(rng.normal(0, 1, n)),
    })
    return t, code, k


def gen_many_tables(root, seed, scale=1.0):
    rng = np.random.default_rng(seed)
    sz = SIZES["many_tables"]
    n_tables = sz["tables"]
    inp = os.path.join(root, "input")
    os.makedirs(inp, exist_ok=True)
    paths, tables, expect, validations = [], [], {}, []
    total = 0
    fakers = [{"column": "name", "kind": "fake_name_transformation"},
              {"column": "email", "kind": "fake_email_transformation"},
              {"column": "status", "kind": "replace"}]
    for i in range(n_tables):
        name = f"t{i:02d}"
        # sizes vary by table but not by seed, so every seed has one input size
        n = max(30, int(sz["rows"] * scale * (0.5 + (i % 5) / 4)))
        t, code, k = _small(rng, n)
        paths += _write(t, os.path.join(inp, f"{name}.parquet"), 1)
        total += n
        if i % 2 == 1:  # unconfigured: pass-through copy
            expect[name] = {"copy": True, "rows": n}
            continue
        # every ten configured tables: the seven filters, a limit, a limit
        # before a filter, and plain fakers; every other one sanitizes
        j = i // 2
        cfg = {"name": name, "columns": fakers}
        keep_mask = np.ones(n, bool)
        kind = j % 10
        if kind < len(FILTERS) or kind == 8:
            f, pred = FILTERS[kind if kind < len(FILTERS) else (j // 10) % len(FILTERS)]
            cfg["filter"] = f
            keep_mask = pred(code, k)
        if kind in (7, 8):
            cfg["keep"] = max(5, n // 3)
        if j % 2 == 0:
            cfg["sanitize"] = True
        tables.append(cfg)
        e = {"columns": fakers, "sanitize": bool(cfg.get("sanitize")),
             "untouched": ["code", "k", "amount", "note"]}
        matching = int(keep_mask.sum())
        if "filter" in cfg:
            e["filter"] = cfg["filter"]
        if cfg.get("keep") is not None and "filter" in cfg:
            e["max_rows"] = cfg["keep"]  # limit runs before filter: <= keep rows
        elif cfg.get("keep") is not None:
            e["rows"] = min(cfg["keep"], n)
        else:
            e["rows"] = matching
        expect[name] = e
        validations.append({"query": f"SELECT status FROM {name}", "column": "status",
                            "type": "Equals", "value": REPLACED})
        if j % 4 == 0:
            validations.append({"query": f"SELECT email FROM {name}", "column": "email",
                                "type": "Contains", "value": "@example."})
    cfg_dir = _write_configs(root, tables, validations)
    kernels = {k: ("t00", "name") for _, _, k in FAKERS}
    kernels.update({"email": ("t00", "email"), "multi_email": ("t00", "email"),
                    "company": ("t00", "name"), "uuid": ("t00", "name")})
    return _manifest("many_tables", seed, root, inp, cfg_dir, [], expect, paths, total,
                     kernels, {"tables": n_tables, "validations": len(validations)},
                     env={"RECORD_REDUCTION_ENABLED": "true"})


def _manifest(workload, seed, root, inp, cfg_dir, extra_args, expect, paths, rows,
              kernels, facts, env=None):
    return {
        "workload": workload, "seed": seed, "root": root,
        "input_dir": inp, "config_dir": cfg_dir,
        "args": ["anonymize", "--input-dir", inp, "--db-name", DB, "--schema-name", SCHEMA,
                 "--config-dir", cfg_dir] + extra_args,
        "env": dict({"RNG_SEED": str(seed)}, **(env or {})),
        "tables": expect,
        "input_rows": rows, "input_bytes": _size(paths), "input_files": len(paths),
        "kernels": kernels, "facts": facts,
    }


GENERATORS = {"anon_wide": gen_anon_wide, "dms_cdc": gen_dms_cdc,
              "many_tables": gen_many_tables}
