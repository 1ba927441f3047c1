#!/usr/bin/env python3
"""The output checks must fail on planted wrong outputs.

    python3 perfbench/test_checks.py

Builds correct outputs by hand (DuckDB writes the parquet, no Spark), shows
that each check passes on them, then plants one fault at a time: a dropped
row, a swapped region label, an off-by-one count, and the like.
"""
import copy
import os
import shutil
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checks            # noqa: E402
import compendium_gen    # noqa: E402


def write_parquet(con, rows_sql, path):
    os.makedirs(path, exist_ok=True)
    con.execute(f"COPY ({rows_sql}) TO '{path}/part-0.parquet' (FORMAT parquet)")


class OracleCompareTest(unittest.TestCase):
    """check_gates against an oracle over a small table."""

    ORACLE = ("SELECT k, label, CAST(n AS BIGINT) AS n, x FROM t "
              "ORDER BY k")

    def setUp(self):
        self.dir = tempfile.mkdtemp()
        self.data = os.path.join(self.dir, "data")
        self.work = os.path.join(self.dir, "work")
        self.con = duckdb.connect()
        os.makedirs(self.data)
        self.con.execute(
            "CREATE TABLE t AS SELECT * FROM (VALUES "
            "(1, 'v4', 10, 0.5), (2, 'v3-v4', 20, 'NaN'::DOUBLE), "
            "(3, 'v1-v2', 30, NULL)) AS v(k, label, n, x)")
        for name in checks.TABLES:   # the views the oracle connection makes
            self.con.execute(
                f"COPY t TO '{self.data}/{name}.parquet' (FORMAT parquet)")
        self.res = {"queries": ["q"], "rounds": 1,
                    "oracle_sql": {"q": self.ORACLE.replace(" t ", " region ")}}

    def tearDown(self):
        self.con.close()
        shutil.rmtree(self.dir)

    def output(self, sql):
        path = os.path.join(self.work, "out", "round_1", "q")
        shutil.rmtree(path, ignore_errors=True)
        write_parquet(self.con, sql, path)
        return checks.check_gates(self.res, self.data, self.work)

    def test_correct_output_passes(self):
        self.assertEqual(self.output("SELECT x, n, label, k FROM t"), [])

    def test_dropped_row_fails(self):
        self.assertTrue(self.output("SELECT * FROM t WHERE k <> 2"))

    def test_swapped_label_fails(self):
        self.assertTrue(self.output(
            "SELECT k, CASE k WHEN 1 THEN 'v3-v4' WHEN 2 THEN 'v4' "
            "ELSE label END AS label, n, x FROM t"))

    def test_off_by_one_count_fails(self):
        self.assertTrue(self.output(
            "SELECT k, label, n + (k = 3)::INT AS n, x FROM t"))

    def test_int_to_float_drift_fails(self):
        self.assertTrue(self.output(
            "SELECT k, label, CAST(n AS DOUBLE) AS n, x FROM t"))

    def test_missing_output_fails(self):
        self.assertTrue(checks.check_gates(self.res, self.data, self.work))


class ManagerCheckTest(unittest.TestCase):
    """check_manager against a warehouse built from the generator's truth."""

    @classmethod
    def setUpClass(cls):
        cls.dir = tempfile.mkdtemp()
        saved = compendium_gen.SHAPE
        compendium_gen.SHAPE = [("small", "save", 52, 5, 0.3, "v4"),
                                ("small", "save", 52, 6, 0.3, "v3-v4"),
                                ("small", "discard", 52, 5, 0.3, "v1-v2"),
                                ("small", "re_run", 52, 5, 0.3, "v6-v8")]
        try:
            cls.truth = compendium_gen.generate(3, os.path.join(cls.dir, "in"))
        finally:
            compendium_gen.SHAPE = saved

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.dir)

    def setUp(self):
        self.out = tempfile.mkdtemp(dir=self.dir)
        self.wh = os.path.join(self.out, "warehouse")
        self.ws = os.path.join(self.out, "projects")
        self.build_correct()

    def build_correct(self):
        """The outputs a correct manager cycle leaves, from the truth and
        the generated pipeline files alone."""
        t, con = self.truth, duckdb.connect()
        inp = os.path.join(self.dir, "in", "projects")
        projects = t["projects"]
        saved = sorted(p for p, v in projects.items() if v["qc"] == "save")

        def values(rows, cols):
            if not rows:
                return "SELECT " + ", ".join(f"NULL AS {c}" for c in cols) + \
                    " WHERE false"
            return "SELECT * FROM (VALUES " + ", ".join(
                "(" + ", ".join("NULL" if x is None else repr(x) for x in r)
                + ")" for r in rows) + f") AS v({', '.join(cols)})"

        write_parquet(con, values(
            [(p, v["status"]) for p, v in projects.items() if v["status"]],
            ["project", "status"]), f"{self.wh}/status")
        write_parquet(con, values(
            [(s, v["srr"], v["project"]) for s, v in t["samples"].items()],
            ["srs", "srr", "project"]), f"{self.wh}/samples")
        write_parquet(con, values(
            [(s, k, v) for s, tg in t["tags"].items() for k, v in tg.items()],
            ["srs", "tag", "value"]), f"{self.wh}/tags")
        counts, seqs = [], []
        for p in saved:
            with open(f"{inp}/{p}/ASVs_counts.tsv") as f:
                header = f.readline().rstrip("\n").split("\t")[1:]
                for line in f:
                    cells = line.rstrip("\n").split("\t")
                    counts += [(s, cells[0], int(c))
                               for s, c in zip(header, cells[1:]) if c != "0"]
            seqs += [(len(seqs) + i, f"ASV_{i + 1}", p)
                     for i in range(projects[p]["n_asvs"])]
        write_parquet(con, values(counts, ["sample", "asv", "count"]),
                      f"{self.wh}/asv_counts")
        for p in saved:
            write_parquet(con, values(
                [(i, a) for i, a, q in seqs if q == p], ["asv_id", "asv"]),
                f"{self.wh}/asv_sequences/project={p}")
        write_parquet(con, values([(i,) for i, _, _ in seqs], ["asv_id"]),
                      f"{self.wh}/asv_assignments")
        write_parquet(con, values(
            [(p, projects[p]["region"]) for p in saved], ["project", "region"]),
            f"{self.wh}/asv_inference")
        con.close()
        os.makedirs(f"{self.ws}/archives")
        for p in saved:
            open(f"{self.ws}/archives/{p}.tar.gz", "w").close()
        for p, v in projects.items():
            if v["qc"] == "re_run":
                os.makedirs(f"{self.ws}/{p}")
        reruns = sorted(p for p, v in projects.items() if v["qc"] == "re_run")
        c = t["compendium"]
        self.res = {"outputs": {"warehouse": self.wh, "workspace": self.ws},
                    "cycles": [{
                        "autoforward": [
                            {"started": sorted(p for p, v in projects.items()
                                               if v["status"])},
                            {k: sorted(p for p, v in projects.items()
                                       if v["qc"] == q)
                             for k, q in (("advanced_save", "save"),
                                          ("advanced_discard", "discard"),
                                          ("advanced_re_run", "re_run"))},
                            {"running": reruns}],
                        "summary_report":
                            f"done: \nrunning: {','.join(reruns)}\nnot_done: \n",
                        "compendium_report":
                            "+-+-+-+\n|n_projects|n_samples|n_samples_with_results|\n"
                            f"|{c['n_projects']}|{c['n_samples']}|"
                            f"{c['n_samples_with_results']}|\n+-+-+-+\n"}]}

    def check(self):
        return checks.check_manager(self.res, self.truth)

    def rewrite(self, table, sql):
        """Replace a table with `sql` over its current rows (as `t`)."""
        con = duckdb.connect()
        path = f"{self.wh}/{table}"
        con.execute(f"CREATE TABLE t AS SELECT * FROM "
                    f"read_parquet('{path}/*.parquet')")
        shutil.rmtree(path)
        write_parquet(con, sql, path)
        con.close()

    def test_correct_outputs_pass(self):
        self.assertEqual(self.check(), [])

    def test_dropped_count_row_fails(self):
        self.rewrite("asv_counts", "SELECT * FROM t LIMIT (SELECT count(*) - 1 FROM t)")
        self.assertTrue(self.check())

    def test_off_by_one_count_fails(self):
        self.rewrite("asv_counts", "SELECT sample, asv, count + (row_number() "
                     "OVER () = 1)::INT AS count FROM t")
        self.assertTrue(self.check())

    def test_swapped_region_fails(self):
        self.rewrite("asv_inference",
                     "SELECT project, CASE WHEN region = 'v4' THEN 'v3-v4' "
                     "ELSE 'v4' END AS region FROM t")
        self.assertTrue(self.check())

    def test_wrong_status_fails(self):
        self.rewrite("status", "SELECT project, CASE status WHEN 'to_re_run' "
                     "THEN 'running' ELSE status END AS status FROM t")
        self.assertTrue(self.check())

    def test_dropped_tag_fails(self):
        self.rewrite("tags", "SELECT * FROM t WHERE NOT (tag = 'material' "
                     "AND srs = (SELECT min(srs) FROM t))")
        self.assertTrue(self.check())

    def test_unenriched_sample_fails(self):
        self.rewrite("samples", "SELECT srs, CASE WHEN srs = (SELECT max(srs) "
                     "FROM t WHERE srr IS NOT NULL) THEN NULL ELSE srr END "
                     "AS srr, project FROM t")
        self.assertTrue(self.check())

    def test_duplicate_asv_id_fails(self):
        self.rewrite("asv_assignments",
                     "SELECT CASE WHEN asv_id = (SELECT max(asv_id) FROM t) "
                     "THEN (SELECT min(asv_id) FROM t) ELSE asv_id END "
                     "AS asv_id FROM t")
        self.assertTrue(self.check())

    def test_leftover_project_dir_fails(self):
        os.makedirs(f"{self.ws}/PRJNA_LEFTOVER")
        self.assertTrue(self.check())

    def test_missing_archive_fails(self):
        os.remove(os.path.join(self.ws, "archives",
                               sorted(os.listdir(f"{self.ws}/archives"))[0]))
        self.assertTrue(self.check())

    def test_compendium_report_off_by_one_fails(self):
        c = self.res["cycles"][0]
        c["compendium_report"] = c["compendium_report"].replace(
            f"|{self.truth['compendium']['n_samples']}|",
            f"|{self.truth['compendium']['n_samples'] + 1}|")
        self.assertTrue(self.check())

    def test_missed_save_in_autoforward_log_fails(self):
        res = copy.deepcopy(self.res)
        res["cycles"][0]["autoforward"][1]["advanced_save"].pop()
        self.res = res
        self.assertTrue(self.check())


if __name__ == "__main__":
    unittest.main()
