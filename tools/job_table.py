#!/usr/bin/env python3
"""One row per Spark job from a Spark event log, as a markdown table.

Usage:
    python3 tools/job_table.py LOG [--by-batch]
    python3 tools/job_table.py --self-test

LOG is an event log file, plain or `.zstd` (decompressed through the
`zstd` command-line tool), or a rolling event log directory
(`eventlog_v2_<app>/events_<n>_<app>[.zstd]`, read in index order). A
run writes one with `spark.eventLog.enabled=true` and
`spark.eventLog.dir=<dir>`; Spark reads both from `-D` system properties,
for instance through `JAVA_TOOL_OPTIONS`.

Columns:
    job     the job id
    ms      submission to completion
    stages  stages the job lists (a stage an earlier job ran is listed
            but skipped)
    run     stages the job ran
    tasks   tasks the job ran
    query   the streaming query (`sql.streaming.queryId`, first 8 chars)
    batch   the micro-batch (`streaming.sql.batchId`)
    label   `spark.job.description`, whitespace collapsed; empty for a
            streaming job whose description is Spark's own (it only
            repeats query and batch), the phase for one an applier
            labelled
    site    the call site of the job's result stage

A cell longer than 48 characters is cut.

`--by-batch` prints instead one row per streaming micro-batch: the
query, the batch, its job ids, its jobs per label (`phases`; `-` for an
unlabelled job) and, from the batch's progress event, its `addBatch` time
and its state operators' summed `commitTimeMs`. Only jobs
that started are listed; a log cut off mid-job shows its started jobs
with an empty `ms`.
"""

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

WIDTH = 48
QUERY_KEY = "sql.streaming.queryId"
BATCH_KEY = "streaming.sql.batchId"
DESC_KEY = "spark.job.description"
PROGRESS = "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"


def _log_files(path):
    if not os.path.isdir(path):
        return [path]
    names = [n for n in os.listdir(path) if n.startswith("events_")]

    def index(n):
        m = re.match(r"events_(\d+)_", n)
        return int(m.group(1)) if m else 0
    return [os.path.join(path, n) for n in sorted(names, key=index)]


def _lines(path):
    if path.endswith(".zstd"):
        if shutil.which("zstd") is None:
            raise SystemExit(f"{path}: reading a .zstd log needs the zstd tool")
        out = subprocess.run(["zstd", "-dc", path], check=True,
                             capture_output=True).stdout
        return out.decode("utf-8").splitlines()
    if re.search(r"\.(lz4|lzf|snappy)$", path):
        raise SystemExit(f"{path}: only plain and .zstd logs are read")
    with open(path, encoding="utf-8") as f:
        return f.read().splitlines()


def events(path):
    for p in _log_files(path):
        for line in _lines(p):
            if line.strip():
                yield json.loads(line)


def read_log(path):
    """The started jobs, in id order, each a dict of the table's columns,
    and each micro-batch's progress: (query id, batch) -> (addBatch ms,
    summed state commit ms)."""
    out, stage_job, progress = {}, {}, {}
    for e in events(path):
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            infos = e.get("Stage Infos") or []
            result = max(infos, key=lambda s: s["Stage ID"], default={})
            query = props.get(QUERY_KEY) or ""
            desc = " ".join((props.get(DESC_KEY) or "").split())
            jid = e["Job ID"]
            out[jid] = {
                "job": jid, "start": e.get("Submission Time"), "ms": "",
                "stages": len(e.get("Stage IDs") or infos), "run": 0,
                "tasks": 0, "query": query[:8], "query_id": query,
                "batch": props.get(BATCH_KEY) or "",
                "label": "" if query and f"id = {query}" in desc else desc,
                "site": result.get("Stage Name", ""),
            }
            for s in e.get("Stage IDs") or [s["Stage ID"] for s in infos]:
                stage_job[s] = jid
        elif kind == "SparkListenerStageSubmitted":
            jid = stage_job.get(e["Stage Info"]["Stage ID"])
            if jid is not None:
                out[jid]["run"] += 1
        elif kind == "SparkListenerTaskEnd":
            jid = stage_job.get(e.get("Stage ID"))
            if jid is not None:
                out[jid]["tasks"] += 1
        elif kind == "SparkListenerJobEnd":
            j = out.get(e["Job ID"])
            if j is not None and j["start"] is not None:
                j["ms"] = e["Completion Time"] - j["start"]
        elif kind == PROGRESS:
            p = e["progress"]
            progress[(p["id"], str(p["batchId"]))] = (
                (p.get("durationMs") or {}).get("addBatch", ""),
                sum(o.get("commitTimeMs", 0)
                    for o in p.get("stateOperators") or []))
    return [out[k] for k in sorted(out)], progress


def jobs(path):
    return read_log(path)[0]


def table(rows, cols):
    def cell(v):
        s = str(v).replace("|", "\\|")
        return s if len(s) <= WIDTH else s[:WIDTH - 1] + "…"
    lines = ["| " + " | ".join(cols) + " |",
             "|" + "|".join("---" for _ in cols) + "|"]
    lines += ["| " + " | ".join(cell(r[c]) for c in cols) + " |" for r in rows]
    return "\n".join(lines)


def by_batch(js, progress):
    groups = {}
    for j in js:
        if j["query"]:
            groups.setdefault((j["query_id"], j["batch"]), []).append(j)
    rows = []
    for (q, b), batch in groups.items():
        add, commit = progress.get((q, b), ("", ""))
        phases = {}
        for j in batch:
            phases[j["label"] or "-"] = phases.get(j["label"] or "-", 0) + 1
        rows.append({"query": q[:8], "batch": b, "jobs": len(batch),
                     "ids": ", ".join(str(j["job"]) for j in batch),
                     "phases": ", ".join(f"{k} ×{n}"
                                         for k, n in phases.items()),
                     "add_ms": add, "commit_ms": commit})
    return rows


def render(path, batches=False):
    js, progress = read_log(path)
    if batches:
        return table(by_batch(js, progress), ["query", "batch", "jobs", "ids",
                                              "phases", "add_ms",
                                              "commit_ms"])
    return table(js, ["job", "ms", "stages", "run", "tasks", "query",
                      "batch", "label", "site"])


def _synthetic_log():
    """Two labelled jobs, then a streaming query whose batch 0 runs one
    job and batch 1 two (the second reusing the first's shuffle stage)."""
    ev = []

    def job(jid, stages, props, t0, ms, ran, site):
        ev.append({"Event": "SparkListenerJobStart", "Job ID": jid,
                   "Submission Time": t0, "Stage IDs": stages,
                   "Stage Infos": [{"Stage ID": s, "Stage Name": site}
                                   for s in stages],
                   "Properties": props})
        for s in ran:
            ev.append({"Event": "SparkListenerStageSubmitted",
                       "Stage Info": {"Stage ID": s}})
            ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": s})
            ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": s})
        ev.append({"Event": "SparkListenerJobEnd", "Job ID": jid,
                   "Completion Time": t0 + ms})

    q = "0123456789abcdef"
    stream = lambda b: {QUERY_KEY: q, BATCH_KEY: str(b),
                        DESC_KEY: f"\nid = {q}\nbatch = {b}"}
    ev.append({"Event": "SparkListenerLogStart", "Spark Version": "4.1.0"})
    job(0, [0], {}, 1000, 5, [0], "collect at A.scala:1")
    job(1, [1, 2], {DESC_KEY: "cli:  compendium\n"}, 1010, 7, [1, 2],
        "show at Cli.scala:2")
    job(2, [3], stream(0), 1020, 3, [3], "start at B.scala:3")
    job(3, [4, 5], stream(1), 1030, 4, [4, 5], "start at B.scala:3")
    job(4, [6, 7], {**stream(1), DESC_KEY: "ivm: view"}, 1040, 2, [7],
        "start at B.scala:3")
    for b, add, commits in ((0, 30, [4, 5]), (1, 40, [6])):
        ev.append({"Event": PROGRESS, "progress": {
            "id": q, "batchId": b, "durationMs": {"addBatch": add},
            "stateOperators": [{"commitTimeMs": c} for c in commits]}})
    # a job that started but whose end the log never got
    job(5, [8], {DESC_KEY: "cut | off"}, 1050, 0, [], "save at " + "C" * 60)
    ev.pop()
    return "\n".join(json.dumps(e) for e in ev) + "\n"


def self_test():
    want = [
        (0, 5, 1, 1, 2, "", "", "", "collect at A.scala:1"),
        (1, 7, 2, 2, 4, "", "", "cli: compendium", "show at Cli.scala:2"),
        (2, 3, 1, 1, 2, "01234567", "0", "", "start at B.scala:3"),
        (3, 4, 2, 2, 4, "01234567", "1", "", "start at B.scala:3"),
        (4, 2, 2, 1, 2, "01234567", "1", "ivm: view", "start at B.scala:3"),
        (5, "", 1, 0, 0, "", "", "cut | off", "save at " + "C" * 60),
    ]
    keys = ["job", "ms", "stages", "run", "tasks", "query", "batch",
            "label", "site"]
    with tempfile.TemporaryDirectory() as d:
        plain = os.path.join(d, "events_1_local-1")
        with open(plain, "w") as f:
            f.write(_synthetic_log())
        logs = [plain]
        if shutil.which("zstd"):
            subprocess.run(["zstd", "-q", plain, "-o", plain + ".zstd"],
                           check=True)
            rolled = os.path.join(d, "eventlog_v2_local-1")
            os.mkdir(rolled)
            shutil.copy(plain + ".zstd",
                        os.path.join(rolled, "events_1_local-1.zstd"))
            logs += [plain + ".zstd", rolled]
        else:
            print("self-test: no zstd tool, .zstd logs not tested")
        for log in logs:
            got = [tuple(j[k] for k in keys) for j in jobs(log)]
            assert got == want, (log, got)
            batches = [(b["batch"], b["ids"], b["phases"], b["add_ms"],
                        b["commit_ms"]) for b in by_batch(*read_log(log))]
            assert batches == [("0", "2", "- ×1", 30, 9),
                               ("1", "3, 4", "- ×1, ivm: view ×1", 40, 6)], (
                log, batches)
        last = render(plain).splitlines()[-1]
        assert last.endswith("| cut \\| off | save at " + "C" * 39 + "… |"), last
    print(f"self-test: {len(logs)} log forms, all rows as expected")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("log", nargs="?")
    ap.add_argument("--by-batch", action="store_true",
                    help="one row per streaming micro-batch")
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if a.self_test:
        self_test()
        return
    if not a.log:
        ap.error("give an event log, or --self-test")
    print(render(a.log, a.by_batch))


if __name__ == "__main__":
    sys.exit(main())
