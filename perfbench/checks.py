"""Output checks, computed apart from the program.

manager_cycle outputs are compared with the generator's ground truth
(compendium_gen.py); stream_gates outputs with DuckDB running each gate's
oracle SQL on the same parquet tables, the way tools/check_oracle.py does
(same column names, type families, row multiset; floats compared exactly,
NaN equal to NaN).
"""
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def tree_stats(path):
    """(number of files, bytes) under path."""
    n = size = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


# ------------------------------------------------------------ stream_gates

def type_family(t):
    """Type families at the grain the oracle comparison hashes: int vs
    float drift is an error, DATE vs TIMESTAMP or DECIMAL vs DOUBLE is not
    (tools/check_oracle.py)."""
    t = str(t).upper()
    if t.endswith("[]") or t.startswith(("LIST", "ARRAY")):
        return "list"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t in ("FLOAT", "REAL", "DOUBLE") or t.startswith(("DECIMAL", "NUMERIC")):
        return "float"
    if t.startswith("TIMESTAMP") or t == "DATE":
        return "datetime"
    if t.startswith("STRUCT"):
        return "struct"
    if t == "BLOB":
        return "binary"
    return t


CANON = {"int": "HUGEINT", "float": "DOUBLE", "datetime": "TIMESTAMP"}


def oracle_connection(data_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    try:
        con.execute("SET TimeZone = 'UTC'")
    except duckdb.Error:
        pass
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def compare(con, got_sql, want_sql):
    """None when the two relations hold the same rows, else the reason."""
    got, want = con.sql(got_sql), con.sql(want_sql)
    gt = dict(zip(got.columns, map(type_family, got.types)))
    wt = dict(zip(want.columns, map(type_family, want.types)))
    if sorted(gt) != sorted(wt):
        return f"columns {sorted(gt)} != oracle {sorted(wt)}"
    drift = [f"{c}: {gt[c]} vs oracle {wt[c]}" for c in sorted(gt)
             if gt[c] != wt[c]]
    if drift:
        return "type drift: " + "; ".join(drift)
    n_got = con.sql(f"SELECT count(*) FROM ({got_sql})").fetchone()[0]
    n_want = con.sql(f"SELECT count(*) FROM ({want_sql})").fetchone()[0]
    if n_got != n_want:
        return f"{n_got} rows != oracle {n_want}"
    cols = ", ".join(
        f'CAST("{c}" AS {CANON[gt[c]]}) AS "{c}"' if gt[c] in CANON
        else f'"{c}"' for c in sorted(gt))
    diff = con.sql(
        f"SELECT count(*) FROM ("
        f"(SELECT {cols} FROM ({got_sql}) EXCEPT ALL "
        f"SELECT {cols} FROM ({want_sql})) UNION ALL "
        f"(SELECT {cols} FROM ({want_sql}) EXCEPT ALL "
        f"SELECT {cols} FROM ({got_sql})))").fetchone()[0]
    if diff:
        return f"{diff} rows differ from the oracle"
    return None


def check_gates(res, data_dir, work):
    """Every timed result of every round against the DuckDB oracle."""
    failures = []
    con = oracle_connection(data_dir)
    oracles = res["oracle_sql"]
    for q in res["queries"]:
        if q not in oracles:
            failures.append(f"{q}: no oracle SQL")
            continue
        try:
            con.execute(f'CREATE TEMP TABLE "want_{q}" AS {oracles[q]}')
        except duckdb.Error as e:
            failures.append(f"{q}: oracle failed: {e}")
            continue
        for r in range(1, res["rounds"] + 1):
            path = os.path.join(work, "out", f"round_{r}", q)
            if not os.path.isdir(path):
                failures.append(f"{q} round {r}: no output")
                continue
            why = compare(con, f"SELECT * FROM read_parquet('{path}/*.parquet')",
                          f'SELECT * FROM "want_{q}"')
            if why:
                failures.append(f"{q} round {r}: {why}")
    con.close()
    return failures


# ---------------------------------------------------------- manager_cycle

def _table(con, wh, name, partitioned=False):
    glob = f"{wh}/{name}/**/*.parquet" if partitioned else f"{wh}/{name}/*.parquet"
    hive = ", hive_partitioning = true" if partitioned else ""
    return con.sql(f"SELECT * FROM read_parquet('{glob}'{hive})")


def parse_show(text):
    """Rows of a DataFrame.show() table as lists of cell strings."""
    rows = [[c.strip() for c in line.strip().strip("|").split("|")]
            for line in text.splitlines() if line.startswith("|")]
    return rows[0], rows[1:]


def check_cycle_log(cycle, truth):
    """What autoforward reported over one cycle, against the truth."""
    failures = []
    projects = truth["projects"]
    want = {k: sorted(p for p, v in projects.items() if v["qc"] == q)
            for k, q in (("advanced_save", "save"),
                         ("advanced_discard", "discard"),
                         ("advanced_re_run", "re_run"))}
    want["started"] = sorted(p for p, v in projects.items()
                             if v["status"] is not None)
    for k, v in want.items():
        got = sorted(p for r in cycle["autoforward"] for p in r.get(k, []))
        if got != v:
            failures.append(f"autoforward {k}: {got} != {v}")
    last = cycle["autoforward"][-1]
    if sorted(last.get("running", [])) != want["advanced_re_run"]:
        failures.append(f"settled with running {last.get('running')}")
    lines = dict(l.split(":", 1) for l in cycle["summary_report"].splitlines()
                 if ":" in l)
    running = sorted(x for x in lines.get("running", "").strip().split(",") if x)
    if running != want["advanced_re_run"] or lines.get("done", "").strip() \
            or lines.get("not_done", "").strip():
        failures.append(f"summary report {lines}")
    header, rows = parse_show(cycle["compendium_report"])
    got = dict(zip(header, map(int, rows[0]))) if len(rows) == 1 else rows
    if got != truth["compendium"]:
        failures.append(f"compendium report {got} != {truth['compendium']}")
    return failures


def check_manager(res, truth):
    failures = []
    for i, c in enumerate(res["cycles"]):
        failures += [f"cycle {i + 1}: {f}" for f in check_cycle_log(c, truth)]
    failures += check_warehouse(res["outputs"]["warehouse"],
                                res["outputs"]["workspace"], truth)
    return failures


def check_warehouse(wh, ws, truth):
    """The final warehouse and workspace of a cycle, against the truth."""
    failures = []
    con = duckdb.connect()
    projects = truth["projects"]
    saved = {p for p, v in projects.items() if v["qc"] == "save"}

    status = dict(_table(con, wh, "status").select("project, status").fetchall())
    want_status = {p: v["status"] for p, v in projects.items() if v["status"]}
    if status != want_status:
        failures.append(f"status {status} != {want_status}")

    samples = {s: (srr, p) for s, srr, p in
               _table(con, wh, "samples").select("srs, srr, project").fetchall()}
    want_samples = {s: (v["srr"], v["project"])
                    for s, v in truth["samples"].items()}
    n_rows = _table(con, wh, "samples").count("*").fetchone()[0]
    if samples != want_samples or n_rows != len(want_samples):
        bad = [s for s in want_samples if samples.get(s) != want_samples[s]]
        failures.append(f"samples: {n_rows} rows, {len(bad)} wrong "
                        f"(e.g. {bad[:3]})")

    tags = _table(con, wh, "tags").select("srs, tag, value").fetchall()
    want_tags = sorted((s, k, v) for s, t in truth["tags"].items()
                       for k, v in t.items())
    if sorted(tags) != want_tags:
        failures.append(f"tags: {len(tags)} rows, {len(want_tags)} expected, "
                        f"{len(set(tags) ^ set(want_tags))} differ")

    srr_project = {srr: p for p, v in projects.items() for srr in v["srrs"]}
    counts = {}
    for sample, n, total in _table(con, wh, "asv_counts").aggregate(
            "sample, count(*), sum(count)", "sample").fetchall():
        p = srr_project.get(sample, f"unknown sample {sample}")
        a, b = counts.get(p, (0, 0))
        counts[p] = (a + n, b + total)
    want_counts = {p: (projects[p]["count_rows"], projects[p]["count_sum"])
                   for p in saved}
    if counts != want_counts:
        failures.append(f"asv_counts (rows, sum) per project {counts} != "
                        f"{want_counts}")

    seqs = _table(con, wh, "asv_sequences", partitioned=True)
    per_project = dict(seqs.aggregate("project, count(*)", "project").fetchall())
    want_seqs = {p: projects[p]["n_asvs"] for p in saved}
    if per_project != want_seqs:
        failures.append(f"asv_sequences rows {per_project} != {want_seqs}")
    n, distinct = seqs.aggregate("count(*), count(DISTINCT asv_id)").fetchone()
    if n != distinct:
        failures.append(f"asv_sequences: {n} rows, {distinct} distinct asv_id")
    assign = _table(con, wh, "asv_assignments")
    n, distinct = assign.aggregate("count(*), count(DISTINCT asv_id)").fetchone()
    if n != sum(want_seqs.values()) or n != distinct:
        failures.append(f"asv_assignments: {n} rows, {distinct} distinct "
                        f"asv_id, {sum(want_seqs.values())} expected")

    regions = dict(_table(con, wh, "asv_inference")
                   .select("project, region").fetchall())
    want_regions = {p: projects[p]["region"] for p in saved}
    if regions != want_regions:
        failures.append(f"regions {regions} != {want_regions}")
    con.close()

    archives = sorted(os.listdir(os.path.join(ws, "archives"))) \
        if os.path.isdir(os.path.join(ws, "archives")) else []
    if archives != sorted(f"{p}.tar.gz" for p in saved):
        failures.append(f"archives {archives}")
    left = sorted(d for d in os.listdir(ws) if d != "archives")
    want_left = sorted(p for p, v in projects.items() if v["qc"] == "re_run")
    if left != want_left:
        failures.append(f"project dirs left {left} != {want_left}")
    return failures
