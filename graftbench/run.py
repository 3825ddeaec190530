#!/usr/bin/env python3
"""Benchmark runner for graft: one workload, one fresh JVM per run.

    python3 graftbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds graft and the
harness with sbt (offline), caches the classpath under graftbench/.work
and dumps a class-data-sharing archive there; later runs start the JVM
directly on that archive. Each run:

1. generates the workload's inputs from the seed (outside any clock);
2. times a fixed-work CPU loop on 1 and on nproc threads and reads
   /proc/pressure/cpu and the steal time in /proc/stat (host-drift
   context, never used to rescale);
3. starts one JVM with a fixed heap that sets up the workload and runs
   1 cold op, WARM untimed warm-up ops and MEASURED measured ops;
4. checks every op's output, repeats the host-drift probe, and prints a
   full report line, then the result line (the last line of stdout).

The op counts depend only on the workload and on --seconds, never on
the clock, so every run of a workload does the same work.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)
import gen  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

DEADLINE_S = 170
BUILD_DEADLINE_S = 700
HEAP = "3g"
CORES = os.cpu_count() or 1

# workload -> (untimed warm-up ops, nominal seconds per measured op,
# scale factor of the base tables). The measured op count is
# max(3, round(seconds / nominal)); the cold op runs before both.
PLAN = {
    "medallion": (3, 3.5, 0.1),
    "query_mix": (2, 6.0, 0.01),
}
MEDALLION_COPIES = 1
MEDALLION_VERBATIM = 0.05
# the daily ingest a traced medallion run adds: a corpus of CORPUS_DOCS
# bootstrapped in its set-up, then DAILY_DAYS days of DAY_DOCS docs
CORPUS_DOCS = 500
DAILY_DAYS = 2
DAY_DOCS = 80
# registry row -> its family (the query_mix span it is timed in)
QUERY_ROWS = {"q_tpch_pricing": "relational", "ranked_search_bm25": "search",
              "daily_analytics": "analytics", "pq_opq_gain": "ann_pq",
              "entity_pagerank": "ner_graph", "dedup_clusters_star": "dedup_cc"}

END_TO_END = [("setup_s", "s"), ("cold_s", "s"), ("warm_p50_s", "s")]
FIELDS = [("wall_s", "s"), ("jobs", "count"), ("tasks", "count"), ("cpu_s", "s"),
          ("shuffle_mb", "MB"), ("io_mb", "MB")]
DAILY_SPANS = ["bootstrap", "heavy_hitters", "decide", "accepted", "index_append", "compact"]
SPANS = {
    "medallion": ["bronze", "silver", "gold", "ner", "views", "counts"] + DAILY_SPANS,
    "query_mix": sorted(set(QUERY_ROWS.values())),
}


def per_layer_names(workloads):
    """The per-layer metrics of `workloads`, as `(name, unit)`."""
    out = []
    for w in workloads:
        for s in SPANS[w]:
            out += [(f"{s}.{f}", u) for f, u in FIELDS]
            if w == "query_mix":
                out.append((f"{s}.plan_ms", "ms"))
    return out + [("driver_gap_s", "s"), ("core_busy", "ratio")]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in dirs:
        for dp, dns, fns in os.walk(d):
            dns[:] = sorted(x for x in dns if x not in ("target", "project"))
            files += [os.path.join(dp, f) for f in sorted(fns)]
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def archive(stamp):
    """The class-data-sharing archive of this build."""
    return os.path.join(WORK, f"cds-{stamp}.jsa")


def build(deadline):
    """Build once per source stamp: compile with sbt (offline), then run
    medallion's cold op once in a JVM that dumps the classes it loaded
    (JVM, Spark SQL, parquet, graft) to a class-data-sharing archive,
    which every later run maps at start. Returns `(stamp, classpath)`."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("graft sources (src/main/scala/graft) not found: run from a repository checkout")
    stamp = source_stamp()
    cp_file = os.path.join(WORK, f"classpath-{stamp}")
    if not os.path.exists(cp_file):
        os.makedirs(WORK, exist_ok=True)
        for f in os.listdir(WORK):
            if f.startswith(("classpath-", "cds-")):
                os.remove(os.path.join(WORK, f))
        log = os.path.join(WORK, "build.log")
        cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
               "export Runtime/fullClasspath"]
        with open(log, "w") as fh:
            rc = run_bounded(cmd, deadline, cwd=HERE, stdout=fh, stderr=subprocess.STDOUT,
                             env=dict(os.environ, COURSIER_MODE="offline"))
        lines = open(log).read().splitlines()
        if rc != 0 or not lines or os.path.join(HERE, "target") not in lines[-1]:
            fail(f"build failed (exit {rc}); see {log}")
        with open(cp_file + ".tmp", "w") as fh:
            fh.write(lines[-1].strip())
        os.replace(cp_file + ".tmp", cp_file)
    cp = open(cp_file).read().strip()
    jsa = archive(stamp)
    if not os.path.exists(jsa):
        # the JVM writes archives read-only: clear one an interrupted run left
        if os.path.exists(jsa + ".tmp"):
            os.remove(jsa + ".tmp")
        rc, run_dir = launch(cp, "medallion", make_inputs("medallion", 0, False), 0, 0, 0,
                             deadline, [f"-XX:ArchiveClassesAtExit={jsa}.tmp"])
        if rc != 0 or not os.path.exists(jsa + ".tmp"):
            fail(f"class-archive run exited {rc}; see {run_dir}/stderr")
        os.replace(jsa + ".tmp", jsa)
    return stamp, cp


def run_bounded(cmd, deadline, **kw):
    """Run `cmd` in its own process group; kill the group at `deadline`."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} exceeded the run deadline")


def launch(cp, workload, inputs, warm, measured, trace, deadline, jvm_flags):
    """Run the workload's JVM once, into a fresh run directory.
    Returns `(exit code, run directory)`; stdout is `<run dir>/stdout`."""
    info, base, data, daily = inputs
    run_dir = os.path.join(WORK, "run", workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    jvm = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={run_dir}/tmp",
           "-Dspark.ui.enabled=false"] + jvm_flags
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        jvm += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    args = ["--workload", workload, "--base", base, "--work", run_dir, "--data", data,
            "--cores", str(CORES), "--warm", str(warm), "--measured", str(measured),
            "--trace", str(trace)]
    if workload == "query_mix":
        args += ["--order", ",".join(f"{QUERY_ROWS[r]}:{r}" for r in info["order"])]
    if daily:
        args += ["--daily", daily, "--daily-days", str(DAILY_DAYS)]
    with open(os.path.join(run_dir, "stdout"), "w") as out, \
            open(os.path.join(run_dir, "stderr"), "w") as err:
        args += ["--launch-ns", str(time.time_ns())]
        rc = run_bounded(jvm + ["-cp", cp, "graftbench.Main"] + args, deadline,
                         stdout=out, stderr=err)
    return rc, run_dir


# ------------------------------------------------------ host-drift context

def cpu_loop(threads, rounds=100):
    """Fixed work: `rounds` SHA-256 passes over 1 MiB per thread (hashlib
    releases the GIL, so threads run in parallel). Returns wall seconds."""
    buf = b"\x5a" * (1 << 20)

    def work():
        for _ in range(rounds):
            hashlib.sha256(buf).digest()

    ts = [threading.Thread(target=work) for _ in range(threads)]
    t0 = time.perf_counter()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return time.perf_counter() - t0


def psi_total_us():
    try:
        with open("/proc/pressure/cpu") as fh:
            some = fh.readline().split()
        return int(dict(kv.split("=") for kv in some[1:])["total"])
    except (OSError, KeyError, ValueError, IndexError):
        return None


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    try:
        with open("/proc/stat") as fh:
            return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def host_probe():
    cpu_loop(1, 5)
    return {"cpu_1t_s": cpu_loop(1), f"cpu_{CORES}t_s": cpu_loop(CORES)}


# ----------------------------------------------------------------- inputs

def make_inputs(workload, seed, trace):
    """Write the workload's inputs for `seed`. Returns `(info, base dir,
    data dir, daily-ingest dir or None)`."""
    sf = PLAN[workload][2]
    base = os.path.join(WORK, f"base-sf{sf}")
    gen.write_base(base, sf)
    if workload == "query_mix":
        return {"order": gen.query_order(sorted(QUERY_ROWS), seed)}, base, base, None
    data = os.path.join(WORK, "data", workload)
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    info = gen.medallion(base, data, seed, MEDALLION_COPIES, MEDALLION_VERBATIM)
    if not trace:
        return info, base, data, None
    daily = os.path.join(data, "daily")
    info["daily"] = gen.daily(base, daily, seed, DAILY_DAYS, DAY_DOCS, CORPUS_DOCS)
    return info, base, data, daily


# ----------------------------------------------------------------- checks

def expected():
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


def pin(workload, ops):
    """Record the outputs of a run whose ops all agree as the expected ones."""
    checks = [op.get("check") for op in ops]
    if workload not in ("medallion", "query_mix") or not all(checks) \
            or any(c != checks[0] for c in checks):
        fail("nothing to pin: the workload pins no outputs or the ops disagree")
    path = os.path.join(HERE, "expected.json")
    pins = json.load(open(path)) if os.path.exists(path) else {}
    pins[workload] = {k: v for k, v in checks[0].items()
                      if workload != "medallion" or k not in ("bronze", "silver")}
    with open(path, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")


def check_op(workload, op, info, first_ok):
    """Why `op` fails its output check, or None."""
    if not op["ok"]:
        return op["error"]
    c = op["check"]
    if workload == "medallion":
        want = dict(expected()["medallion"], bronze=str(info["bronze"]),
                    silver=str(info["bronze"]))
        if c != want:
            return f"summary {c} != expected {want}"
    else:
        pins = expected()["query_mix"]
        bad = {k: v for k, v in c.items() if pins.get(k) != v}
        if bad:
            return f"row hashes differ from the pinned ones: {bad}"
    if first_ok is not None and c != first_ok:
        return "output differs from the first op's"
    return None


def check_days(ops, info, data, run_dir, pin_path):
    """Why each day of a traced run's daily ingest fails its check, or None.

    A day's summary must be self-consistent, and its accepted output on
    disk must hold exactly `accepted` distinct docs of that day, none
    with a text seen in the corpus or in an earlier day's accepted
    output (the exact-dedup contract). The summaries of a seed must
    also equal those of the first run of that seed with this build
    (recorded at `pin_path`)."""
    texts = lambda d: dict(zip(*pq.read_table(f"{d}/documents.parquet",
                                              columns=["doc_id", "text"]).to_pydict().values()))
    seen = set(texts(f"{data}/corpus").values())
    problems = []
    for i, op in enumerate(ops):
        if not op["ok"]:
            problems.append(op["error"])
            continue
        n = {k: int(v) for k, v in op["check"].items()}
        day = texts(f"{data}/day{i:02d}")
        acc = pq.read_table(f"{run_dir}/daily/out{i:02d}/accepted", columns=["doc_id"])
        ids = acc.column("doc_id").to_pylist()
        acc_texts = [day.get(d) for d in ids]
        why = None
        if n.get("input") != info["day_docs"] or not 0 < n.get("accepted", 0) <= n["quality"] \
                <= n["input"] or min(n.values()) < 0:
            why = f"day summary {n} breaks input = {info['day_docs']} >= quality >= accepted > 0"
        elif n.get("semantic_pq_repair") != 0 or n.get("compacted_indexes", 0) < 1:
            why = f"day summary {n} reports a repair or no compaction"
        elif len(ids) != n["accepted"] or len(set(ids)) != len(ids) or None in acc_texts:
            why = f"accepted output holds {len(ids)} rows, not {n['accepted']} distinct day docs"
        elif len(set(acc_texts)) != len(acc_texts) or seen & set(acc_texts):
            why = "accepted output repeats a text of the corpus or of an accepted doc"
        seen |= set(acc_texts)
        problems.append(why)
    summaries = [op.get("check") for op in ops]
    if all(p is None for p in problems):
        if not os.path.exists(pin_path):
            os.makedirs(os.path.dirname(pin_path), exist_ok=True)
            with open(pin_path, "w") as fh:
                json.dump(summaries, fh)
        pinned = json.load(open(pin_path))
        problems = [None if a == b else f"day summary {a} != this seed's earlier {b}"
                    for a, b in zip(summaries, pinned)]
    return problems


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(PLAN))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true",
                    help="record this run's outputs as the expected ones")
    args = ap.parse_args()
    t_start = time.monotonic()
    stamp, cp = build(t_start + BUILD_DEADLINE_S)
    # a run that had to build gets the build's allowance on top
    deadline = time.monotonic() + DEADLINE_S - min(time.monotonic() - t_start, 10)
    warm, nominal, _ = PLAN[args.workload]
    measured = max(3, round(args.seconds / nominal))
    inputs = make_inputs(args.workload, args.seed, args.trace)
    info, daily = inputs[0], inputs[3]

    host = {"start": host_probe()}
    psi0, steal0, t_run0 = psi_total_us(), steal_s(), time.monotonic()
    cds = archive(stamp)
    rc, run_dir = launch(cp, args.workload, inputs, warm, measured, args.trace, deadline,
                         [f"-XX:SharedArchiveFile={cds}"] if os.path.exists(cds) else [])
    psi1, steal1, t_run = psi_total_us(), steal_s(), time.monotonic() - t_run0
    host["end"] = host_probe()
    host["psi_cpu_some_share"] = (None if psi0 is None or psi1 is None
                                  else (psi1 - psi0) / 1e6 / t_run)
    host["steal_share"] = (None if steal0 is None or steal1 is None
                           else (steal1 - steal0) / t_run / CORES)
    lines = [l for l in open(os.path.join(run_dir, "stdout")) if l.startswith("GRAFTBENCH ")]
    if rc != 0 or not lines:
        fail(f"benchmark JVM exited {rc}; see {run_dir}/stderr")
    res = json.loads(lines[-1][len("GRAFTBENCH "):])

    ops = res["ops"]
    if args.pin:
        pin(args.workload, ops)
    problems, first_ok = [], None
    for op in ops:
        why = check_op(args.workload, op, info, first_ok)
        if why is None and first_ok is None:
            first_ok = op["check"]
        problems.append(why)
    days = res["daily"]["ops"] if daily else []
    if daily:
        problems += check_days(days, info["daily"], daily, run_dir, os.path.join(
            WORK, "pins", stamp, f"daily-s{args.seed}.json"))
    failed = sum(p is not None for p in problems)
    walls = [op["wall_s"] for op in ops if op["kind"] == "measured" and op["ok"]]

    if args.trace:
        def median_of(name, traces):
            xs = [t[name] for t in traces if t and name in t]
            return statistics.median(xs) if xs else None

        measured_traces = lambda xs: [x["trace"] for x in xs if x["kind"] == "measured"]
        own = {n for n, _ in per_layer_names([args.workload])}
        values = {}
        for name, unit in per_layer_names(PLAN):
            if name not in own:
                v = 0.0  # a span of the other workload
            elif name.startswith("bootstrap."):
                v = median_of(name, [res["daily"]["setup_trace"]])
            elif name.split(".")[0] in DAILY_SPANS:
                v = median_of(name, measured_traces(days))
            else:
                v = median_of(name, measured_traces(ops))
            values[name] = {"value": v, "unit": unit}
    else:
        e2e = {"setup_s": res["setup_s"], "cold_s": ops[0].get("wall_s"),
               "warm_p50_s": statistics.median(walls) if walls else None}
        values = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "cores": CORES, "warm": warm, "measured": measured, "inputs": info,
              "class_archive": os.path.exists(cds),
              "setup_s": res["setup_s"], "walls": [op.get("wall_s") for op in ops],
              "checks": [op.get("check") for op in ops], "problems": problems,
              "host": host, "row_seconds": res.get("row_seconds")}
    if args.trace:
        # every op's counters, the cold one too, and set-up's
        report["traces"] = [op.get("trace") for op in ops]
        report["setup_trace"] = res.get("setup_trace")
        if daily:
            report["daily"] = res["daily"]
    os.makedirs(os.path.join(WORK, "reports"), exist_ok=True)
    with open(os.path.join(WORK, "reports",
                           f"{args.workload}-s{args.seed}-t{args.trace}-{time.time_ns()}.json"),
              "w") as fh:
        json.dump(report, fh)
    print("GRAFTBENCH-REPORT " + json.dumps(report))
    complete = all(v["value"] is not None for v in values.values())
    print(json.dumps({"correct": failed == 0 and complete, "attempted": len(ops) + len(days),
                      "failed": failed, "metrics": values}))


if __name__ == "__main__":
    main()
