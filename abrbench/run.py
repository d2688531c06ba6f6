"""The ABR benchmark: one command, run from the repository root.

    python3 abrbench/run.py --workload weekly_drop --seed 1 --seconds 15 --trace 0

It builds the program from source (``build.py``), makes the workload's
inputs from the seed (``gen.py``), runs one benchmark JVM on ``local[nproc]`` with
one client in a closed loop for ``--seconds`` seconds, checks every
operation's outputs against DuckDB (``check.py``) and prints, as its last
line, one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``). The line before it stamps the host. A traced run also
writes its spans, with self times, to
``<build>/results/<workload>-s<seed>-trace.json``.

Everything is written under ``$CARGO_TARGET_DIR`` (default
``.bench_build``) in the current directory.
"""

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import spans as sp  # noqa: E402

# local[nproc], as the program's own Bench and Verify mains run
CPUS = len(os.sched_getaffinity(0))
SETUPS = 3
# the benchmark JVM must end this long after the build; the checks and the
# report take a few seconds more
DEADLINE_S = 160
KEEP_INPUT_SETS = 3

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

WORKLOADS = ("weekly_drop", "lake_upserts")

# declared queries run once each at the end of a traced lake_upserts run:
# the queries layer, over tables the generator makes. Queries that need
# the document or embedding tables are not in it (no generator for them).
QUERY_MIX = ("delta_updated_wide_bucketed", "delta_updated_wide_skewed",
             "delta_history", "lake_partitions_meta", "lake_cdc",
             "sql_q21_waiting_supplier")

# per-layer metrics: name -> unit. Every traced run reports all of them;
# a layer a workload does not touch reads 0.
PER_LAYER = {
    "pipeline.week_s": "s",
    "pipeline.killswitch_s": "s",
    "pipeline.extract_s": "s",
    "pipeline.extract_bytes": "bytes",
    "pipeline.cleanup_s": "s",
    "sources.ingest_s": "s",
    "sources.ingest_jobs": "count",
    "sources.ingest_tasks": "count",
    "sources.ingest_in_bytes": "bytes",
    "sources.ingest_out_bytes": "bytes",
    "sources.msck_s": "s",
    "sources.delta_scan_bytes": "bytes",
    "sources.read_amplification": "ratio",
    "sources.csv_single_task_s": "s",
    "operators.updated_s": "s",
    "operators.added_s": "s",
    "operators.shuffle_bytes": "bytes",
    "operators.spill_bytes": "bytes",
    "dsv2.merge_s": "s",
    "dsv2.merge_driver_s": "s",
    "dsv2.merge_jobs": "count",
    "dsv2.lookup_plan_s": "s",
    "dsv2.lookup_exec_s": "s",
    "dsv2.lookup_tasks": "count",
    "dsv2.travel_s": "s",
    "dsv2.head_s": "s",
    "dsv2.snapshot_at_s": "s",
    "dsv2.log_bytes_per_version": "bytes",
    "dsv2.data_files": "count",
    "dsv2.dv_files": "count",
    **{f"queries.{q}.{m}": u for q in QUERY_MIX
       for m, u in (("build_s", "s"), ("exec_s", "s"), ("tasks", "count"),
                    ("shuffle_bytes", "bytes"))},
    "queries.fixture_build_s": "s",
    "queries.under_parallel_s": "s",
    "jvm.gc_s": "s",
    "jvm.pinned_storage_mb": "MB",
    "host.steal_share": "share",
    "host.calib_ratio": "ratio",
    "trace.overhead_s": "s",
    "trace.op_coverage": "share",
}

END_TO_END = {
    "op_s": "s",
    "setup_s": "s",
    "stored_bytes_per_input_byte": "ratio",
    "heap_after_gc_mb": "MB",
}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def dir_bytes(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            if not f.endswith(".crc"):
                total += os.path.getsize(os.path.join(d, f))
    return total


def run_jvm(classes, workload, input_dir, work, seconds, trace, queries,
            deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cp = classes + os.pathsep + os.path.join(build.spark_jars(), "*")
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss4m",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", cp, "abrbench.Main", workload, input_dir, work,
                      str(seconds), str(trace), str(CPUS), str(SETUPS),
                      ",".join(queries)])
    # one local process: Spark binds to loopback, not a resolved host name
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=f, env=env,
                               timeout=max(10, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise RuntimeError("benchmark JVM exceeded the run's deadline")
    if r.returncode != 0:
        with open(log) as f:
            tail = f.read()[-4000:]
        raise RuntimeError(f"benchmark JVM exited with {r.returncode}:\n{tail}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def steal_share(stat_lines):
    """Share of CPU time stolen by the hypervisor between two ``cpu`` lines
    of /proc/stat (user nice system idle iowait irq softirq steal ...)."""
    a, b = ([int(x) for x in s.split()[1:]] for s in stat_lines)
    d = [y - x for x, y in zip(a, b)]
    if len(d) < 8 or sum(d[:8]) <= 0:
        return 0.0
    return d[7] / sum(d[:8])


def attribute(items, spans, time_key):
    """Map each item to the name of the innermost span holding its time."""
    out = {}
    for it in items:
        s = sp.innermost(spans, it[time_key])
        out.setdefault(s["name"] if s else None, []).append(it)
    return out


def weekly_layers(res, input_meta, lake_root):
    m = dict.fromkeys(PER_LAYER, 0.0)
    traced = [o for o in res["ops"] if o["traced"]]
    untraced = [o for o in res["ops"] if not o["traced"] and not o["warmup"]]
    all_spans, per = [], {k: [] for k in PER_LAYER}
    for o in traced:
        w = o["week"]
        ss = sp.week_spans(res["spans"], o["events"], w)
        all_spans += ss
        by = {s["name"]: s for s in ss}
        lo, hi = by["week"]["start_ms"], by["week"]["end_ms"]
        tasks = attribute([t for t in res["tasks"]
                           if lo <= t["finish_ms"] <= hi], ss, "finish_ms")
        jobs = attribute([j for j in res["jobs"]
                          if lo <= j["start_ms"] <= hi], ss, "start_ms")
        stages = [s for s in res["stages"] if lo <= s["complete_ms"] <= hi]

        def dur(name):
            s = by.get(name)
            return (s["end_ms"] - s["start_ms"]) / 1e3 if s else 0.0

        def tsum(names, key):
            return sum(t[key] for n in names for t in tasks.get(n, []))

        delta = ("delta", "msck", "updated", "added")
        per["pipeline.week_s"].append(o["wall_s"])
        per["pipeline.killswitch_s"].append(dur("killswitch"))
        per["pipeline.extract_s"].append(dur("extract"))
        per["pipeline.extract_bytes"].append(input_meta["staged_bytes"][str(w)])
        per["pipeline.cleanup_s"].append(dur("cleanup"))
        per["sources.ingest_s"].append(dur("ingest"))
        per["sources.ingest_jobs"].append(len(jobs.get("ingest", [])))
        per["sources.ingest_tasks"].append(len(tasks.get("ingest", [])))
        per["sources.ingest_in_bytes"].append(tsum(["ingest"], "in_bytes"))
        per["sources.ingest_out_bytes"].append(tsum(["ingest"], "out_bytes"))
        per["sources.msck_s"].append(dur("msck"))
        scan = tsum(delta, "in_bytes")
        part = sum(dir_bytes(os.path.join(
            lake_root, "DATA", "Agency_Data", f"importdate={gen.week_date(x)}"))
            for x in (w - 1, w))
        per["sources.delta_scan_bytes"].append(scan)
        per["sources.read_amplification"].append(scan / part if part else 0.0)
        single = [s for s in stages if s["tasks"] == 1 and "updated" in by
                  and by["updated"]["start_ms"] <= s["complete_ms"]
                  <= by.get("added", by["updated"])["end_ms"]]
        per["sources.csv_single_task_s"].append(
            sum(s["complete_ms"] - s["submit_ms"] for s in single) / 1e3)
        per["operators.updated_s"].append(dur("updated"))
        per["operators.added_s"].append(dur("added"))
        per["operators.shuffle_bytes"].append(tsum(delta, "shuffle_write_bytes"))
        per["operators.spill_bytes"].append(tsum(delta, "spill_bytes"))
    for k, v in per.items():
        if v:
            m[k] = median(v)
    m["trace.op_coverage"] = median(sp.coverage(all_spans, "week"))
    m["trace.overhead_s"] = (median([o["wall_s"] for o in traced])
                             - median([o["wall_s"] for o in untraced]))
    return m, all_spans


def lake_layers(res, log_bytes):
    m = dict.fromkeys(PER_LAYER, 0.0)
    traced = [o for o in res["ops"] if o["traced"]]
    untraced = [o for o in res["ops"] if not o["traced"] and not o["warmup"]]
    spans = res["spans"]
    merge_driver, merge_jobs, lookup_tasks = [], [], []
    for o in traced:
        ss = [s for s in spans if s["op"] == o["batch"]]
        mg = next(s for s in ss if s["name"] == "merge")
        jobs = [(j["start_ms"], j["end_ms"]) for j in res["jobs"]
                if mg["start_ms"] <= j["start_ms"] <= mg["end_ms"]]
        merge_jobs.append(len(jobs))
        merge_driver.append((mg["end_ms"] - mg["start_ms"] - sp.union_ms(
            jobs, mg["start_ms"], mg["end_ms"])) / 1e3)
        lk = next(s for s in ss if s["name"] == "lookup_exec")
        lookup_tasks.append(sum(1 for t in res["tasks"]
                                if lk["start_ms"] <= t["finish_ms"]
                                <= lk["end_ms"]))

    def span_s(name):
        return median([(s["end_ms"] - s["start_ms"]) / 1e3
                       for s in spans if s["name"] == name])

    m.update({
        "dsv2.merge_s": median([o["merge_s"] for o in traced]),
        "dsv2.merge_driver_s": median(merge_driver),
        "dsv2.merge_jobs": median(merge_jobs),
        "dsv2.lookup_plan_s": median([o["lookup_plan_s"] for o in traced]),
        "dsv2.lookup_exec_s": median([o["lookup_exec_s"] for o in traced]),
        "dsv2.lookup_tasks": median(lookup_tasks),
        "dsv2.travel_s": median([o["travel_s"] for o in traced]),
        "dsv2.head_s": span_s("head"),
        "dsv2.snapshot_at_s": span_s("snapshot_at"),
        "dsv2.log_bytes_per_version": log_bytes / res["end"]["versions"],
        "dsv2.data_files": res["end"]["data_files"],
        "dsv2.dv_files": res["end"]["dv_files"],
        "trace.overhead_s": (median([o["wall_s"] for o in traced])
                             - median([o["wall_s"] for o in untraced])),
        "trace.op_coverage": median(sp.coverage(spans, "round")),
    })
    m.update(query_layers(res))
    return m, spans


def query_layers(res):
    """Per-query build/exec split, and the tasks and shuffle bytes of each
    query's spans, from the traced query pass."""
    m = {}
    qs = [s for s in res["spans"] if s["op"] >= 1000]
    tasks = attribute(res["tasks"], qs, "finish_ms")
    for q in res["queries"]:
        n = q["name"]
        mine = tasks.get(f"build:{n}", []) + tasks.get(f"exec:{n}", [])
        m[f"queries.{n}.build_s"] = q["build_s"]
        m[f"queries.{n}.exec_s"] = q["exec_s"]
        m[f"queries.{n}.tasks"] = len(mine)
        m[f"queries.{n}.shuffle_bytes"] = sum(t["shuffle_write_bytes"]
                                              for t in mine)
    m["queries.fixture_build_s"] = sum(q["build_s"] for q in res["queries"])
    if qs:
        lo = min(s["start_ms"] for s in qs)
        hi = max(s["end_ms"] for s in qs)
        m["queries.under_parallel_s"] = sum(
            (s["complete_ms"] - s["submit_ms"]) / 1e3 for s in res["stages"]
            if lo <= s["complete_ms"] <= hi
            and s["complete_ms"] - s["submit_ms"] >= 1000
            and s["tasks"] < CPUS / 2)
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    deadline = time.monotonic() + DEADLINE_S
    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(out, exist_ok=True)

    t0 = time.monotonic()
    classes = build.build(root, out)
    build_s = time.monotonic() - t0
    deadline = max(deadline, time.monotonic() + DEADLINE_S)

    cache = os.path.join(out, "inputs")
    input_dir, meta = gen.build(cache, a.workload, a.seed, threads=CPUS)
    os.utime(input_dir)
    gen.prune(cache, KEEP_INPUT_SETS)

    work = os.path.join(out, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t_jvm = time.monotonic()
        queries = QUERY_MIX if a.trace and a.workload == "lake_upserts" else ()
        res = run_jvm(classes, a.workload, input_dir, work, a.seconds,
                      a.trace, queries, deadline)
        t_check = time.monotonic()
        ops = [o for o in res["ops"] if "error" not in o]
        errors = [o for o in res["ops"] if "error" in o]
        failed_ops = {f"error{o['i']}" for o in errors}
        if a.workload == "lake_upserts":
            problems, final, logical = check.check_lake(
                input_dir, ops, res["end"]["final_state"])
            counts = {}
            table = res["end"]["table_dir"]
            stored = dir_bytes(table) / logical
            log_bytes = dir_bytes(os.path.join(table, "_log"))
        else:
            lake_root = res["end"]["lake_root"]
            problems, counts = check.check_weeks(
                input_dir, lake_root, [o["week"] for o in ops])
            final = []
            ingested = sum(meta["staged_bytes"][str(w)]
                           for w in range(len(ops) + 1))
            stored = dir_bytes(os.path.join(lake_root, "DATA")) / ingested
        problems.update(check.check_queries(
            os.path.join(input_dir, "tables"), res["queries"]))
        for k, bad in problems.items():
            if bad:
                failed_ops.add(k)
        issues = ([p for bad in problems.values() for p in bad] + final
                  + [f"operation {o['i']} raised: {o['error']}" for o in errors])

        host = dict(res["host"])
        calib = res["calib_ms"]
        host.update(
            mem_total_kb=int(next(l.split()[1] for l in open("/proc/meminfo")
                                  if l.startswith("MemTotal:"))),
            calib_ratio=median(calib) / min(calib) if calib else 0.0,
            steal_share=steal_share(res["proc_stat"]),
            build_s=build_s, input_build_s=meta["build_s"],
            jvm_s=t_check - t_jvm, check_s=time.monotonic() - t_check,
            ops=len(ops), loop_s=res["loop_s"])

        if a.trace:
            if a.workload == "lake_upserts":
                metrics, all_spans = lake_layers(res, log_bytes)
            else:
                metrics, all_spans = weekly_layers(res, meta, lake_root)
            metrics["jvm.gc_s"] = res["gc_s"] / max(1, len(ops))
            metrics["jvm.pinned_storage_mb"] = (
                res["end"]["pinned_storage_b"] / 2**20)
            metrics["host.steal_share"] = host["steal_share"]
            metrics["host.calib_ratio"] = host["calib_ratio"]
            units = PER_LAYER
            os.makedirs(os.path.join(out, "results"), exist_ok=True)
            with open(os.path.join(out, "results",
                                   f"{a.workload}-s{a.seed}-trace.json"),
                      "w") as f:
                json.dump(dict(host=host, metrics=metrics,
                               delta_rows={w: dict(zip(
                                   ("updated", "added", "newest"), c))
                                   for w, c in counts.items()},
                               spans=sp.with_self_times(all_spans)), f)
        else:
            walls = [o["wall_s"] for o in ops if not o["warmup"]]
            metrics = {
                "op_s": median(walls),
                "setup_s": median(res["setup_s"]),
                "stored_bytes_per_input_byte": stored,
                "heap_after_gc_mb": res["end"]["heap_after_gc_b"] / 2**20,
            }
            units = END_TO_END
            host["op_count"] = len(walls)
            host["op_max_s"] = max(walls) if walls else 0.0
            host["warmup_s"] = [o["wall_s"] for o in ops if o["warmup"]]
            host["setup_all_s"] = res["setup_s"]
        for p in issues:
            print("CHECK FAILED:", p, file=sys.stderr)
        print(json.dumps({"host": host}))
        attempted = len(res["ops"]) + len(res["queries"])
        print(json.dumps({
            "correct": not issues,
            "attempted": attempted,
            # a wrong final table fails the run even when every operation's
            # own check passed
            "failed": min(attempted, len(failed_ops) + bool(final)),
            "metrics": {k: {"value": v, "unit": units[k]}
                        for k, v in metrics.items()},
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    # a terminated benchmark still stops its JVM: SystemExit unwinds
    # through subprocess.run, which kills and reaps the child
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    try:
        main()
    except Exception as e:  # no result line on any failure
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(1)
