"""Tests of the benchmark's generators and output checker, at a tiny size.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

A DuckDB stand-in for the CLI writes outputs that keep the anonymize
contract; the checker must accept them and must flag each planted fault.
"""
import glob
import hashlib
import os
import shutil
import tempfile
import unittest

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import check
import gen
import run

TINY = 0.002


def _files_digest(root):
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(root, "input", "**", "*.parquet"), recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def _anonymize(con, man, out_dir):
    """Write what the CLI should write for `man`, faking with md5."""
    for name, exp in man["tables"].items():
        src = os.path.join(man["input_dir"], f"{name}.parquet")
        dst = os.path.join(out_dir, f"{name}.parquet")
        if exp.get("copy"):
            os.makedirs(out_dir, exist_ok=True)
            shutil.copy(src, dst)
            continue
        if exp.get("cdc"):
            load = os.path.join(man["input_dir"], name, "LOAD00000001.parquet")
            rel = check._cdc_expected(con, os.path.join(man["input_dir"], name),
                                      [c for c, _ in check._columns(con, check._src(load))])
        else:
            rel = check._src(src)
        types = dict(check._columns(con, rel))
        by_col = {c["column"]: c for c in exp["columns"]}
        cols = []
        for col, typ in types.items():
            c = by_col.get(col)
            v = f'"{col}"'
            if c is None:
                if exp.get("sanitize") and typ == "VARCHAR":
                    v = f"CASE WHEN contains({v}, chr(0)) THEN NULL ELSE {v} END"
            elif c["kind"] == "replace":
                v = f"'{gen.REPLACED}'"
            elif c["kind"] == "nullify":
                v = f"CAST(NULL AS {typ})"
            elif c["kind"] == "fake_email_with_id_prefix_transformation":
                v = f"CAST(id AS VARCHAR) || '-' || md5({v})"
            elif c.get("retain"):
                v = f"CASE WHEN {v} IS NULL OR {v} = '' THEN {v} ELSE md5({v}) END"
            else:
                v = f"md5({v})"
            cols.append(f'{v} AS "{col}"')
        sql = f"SELECT * FROM {rel}"
        if "max_rows" in exp:
            sql += f" LIMIT {exp['max_rows']}"
        if "rows" in exp and "filter" not in exp:
            sql += f" LIMIT {exp['rows']}"
        sql = f"SELECT {', '.join(cols)} FROM ({sql})"
        if "filter" in exp:
            sql += f" WHERE {check._FILTER_SQL[exp['filter']['type']](exp['filter'])}"
        os.makedirs(dst, exist_ok=True)
        con.execute(f"COPY ({sql}) TO '{dst}/part-00000.parquet' (FORMAT PARQUET)")


def _rewrite(out_dir, table, fn):
    path = glob.glob(os.path.join(out_dir, f"{table}.parquet", "*.parquet"))[0]
    pq.write_table(fn(pq.read_table(path)), path)


class BenchTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-")
        self.con = check.connect()

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.tmp)

    def make(self, workload, seed=7, sub="a"):
        man = gen.GENERATORS[workload](os.path.join(self.tmp, sub), seed, TINY)
        out = os.path.join(self.tmp, sub, "out")
        _anonymize(self.con, man, out)
        return man, out

    def test_generators_are_seeded(self):
        for w, g in gen.GENERATORS.items():
            a = g(os.path.join(self.tmp, w, "a"), 3, TINY)
            b = g(os.path.join(self.tmp, w, "b"), 3, TINY)
            c = g(os.path.join(self.tmp, w, "c"), 4, TINY)
            self.assertEqual(_files_digest(a["root"]), _files_digest(b["root"]), w)
            self.assertNotEqual(_files_digest(a["root"]), _files_digest(c["root"]), w)
            self.assertEqual(a["input_rows"], c["input_rows"], w)

    def test_checker_accepts_contract_outputs(self):
        for w in gen.GENERATORS:
            man, out = self.make(w, sub=w)
            self.assertEqual(check.check_output(self.con, man, out), {}, w)

    def test_many_tables_covers_every_filter_limit_and_copy(self):
        man = gen.GENERATORS["many_tables"](self.tmp, 1, TINY)
        exp = man["tables"].values()
        self.assertEqual({e["filter"]["type"] for e in exp if "filter" in e},
                         {f["type"] for f, _ in gen.FILTERS})
        self.assertTrue(any("max_rows" in e for e in exp))
        self.assertTrue(any("rows" in e and "filter" not in e and not e.get("copy") for e in exp))
        self.assertGreaterEqual(sum(bool(e.get("copy")) for e in exp), len(exp) // 2)
        self.assertTrue(os.path.exists(os.path.join(man["root"], "config", "validations")))

    def test_flags_unfaked_pii_cell(self):
        man, out = self.make("anon_wide")
        inp = pq.read_table(os.path.join(man["input_dir"], "people.parquet"))
        original = inp.column("first")[0]

        def plant(t):
            i = pc.index(t.column("id"), inp.column("id")[0]).as_py()
            first = t.column("first").to_pylist()
            first[i] = original.as_py()
            return t.set_column(t.schema.get_field_index("first"), "first", pa.array(first))
        _rewrite(out, "people", plant)
        found = check.check_output(self.con, man, out)
        self.assertEqual(list(found), ["people"])
        self.assertIn("first unfaked: 1 rows", found["people"])

    def test_flags_extra_row(self):
        man, out = self.make("many_tables")
        name = next(t for t, e in man["tables"].items() if "filter" in e and "rows" in e)
        _rewrite(out, name, lambda t: pa.concat_tables([t, t.slice(0, 1)]))
        found = check.check_output(self.con, man, out)
        self.assertEqual(list(found), [name])
        self.assertTrue(any(p.startswith("row count") for p in found[name]), found)

    def test_flags_wrong_cdc_winner(self):
        man, out = self.make("dms_cdc")
        tdir = os.path.join(man["input_dir"], "accounts")
        # a key touched twice whose last op keeps it: plant the older version
        key, plan = duckdb.execute(f"""
            SELECT id, arg_min(plan, _dms_ingestion_timestamp)
            FROM read_parquet('{tdir}/2*.parquet') GROUP BY id
            HAVING count(*) > 1 AND arg_max(Op, _dms_ingestion_timestamp) <> 'D'
            ORDER BY id LIMIT 1""").fetchone()

        def plant(t):
            plans = t.column("plan").to_pylist()
            plans[t.column("id").to_pylist().index(key)] = plan
            return t.set_column(t.schema.get_field_index("plan"), "plan", pa.array(plans))
        _rewrite(out, "accounts", plant)
        found = check.check_output(self.con, man, out)
        self.assertEqual(found, {"accounts": ["plan changed: 1 rows"]})

    def test_digest_ignores_row_order_and_files(self):
        man, out = self.make("anon_wide")
        before = check.digests(self.con, man, out)
        path = os.path.join(out, "people.parquet")
        t = pq.read_table(path)
        shutil.rmtree(path)
        os.makedirs(path)
        half = t.num_rows // 2
        pq.write_table(t.slice(half), os.path.join(path, "part-0.parquet"))
        pq.write_table(t.slice(0, half), os.path.join(path, "part-1.parquet"))
        self.assertEqual(check.digests(self.con, man, out), before)

    def test_anon_wide_has_a_copy_and_a_validation(self):
        man = gen.GENERATORS["anon_wide"](self.tmp, 1, TINY)
        self.assertTrue(any(e.get("copy") for e in man["tables"].values()))
        self.assertTrue(os.path.exists(os.path.join(man["root"], "config", "validations")))


class RelativeTest(unittest.TestCase):
    def test_pairs_each_timed_export_with_the_references_around_it(self):
        nan = float("nan")
        warm = [nan] * (run.WARMUP_RUNS - 1)
        export = [9.0] * run.WARMUP_RUNS + [3.0, 4.0, 6.0]
        reference = warm + [1.0, 2.0, 2.0, 2.0]
        # 3 / 1.5, 4 / 2, 6 / 2
        self.assertEqual(run._relative(export, reference), 2.0)


if __name__ == "__main__":
    unittest.main()
