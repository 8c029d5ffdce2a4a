"""Closed-loop benchmark of the Spark analytics engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), generates the
input tables (perfbench/gen.py), runs one fresh JVM with one Spark
session (perfbench/harness), checks every output, prints each metric
with its unit, and ends with one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. Each run is also appended to perfbench/.results/runs.jsonl
for perfbench/compare.py.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import gen  # noqa: E402

# name -> (harness workload, scale factor of its input tables)
WORKLOADS = {
    "curation_sf001": ("curation", 0.01),
    "reference_sf001": ("reference", 0.01),
}
# the JVM's time limit, counted after the build and table generation that
# only the first run in a checkout pays
HARNESS_TIMEOUT_S = 150
JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
MB = 1e6


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------

def file_digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def tables_ok(d, sf):
    """True when `d` holds the generator's tables at `sf` with the
    expected row counts (checked from the parquet footers)."""
    import pyarrow.parquet as pq
    man = os.path.join(d, "manifest.json")
    if not os.path.exists(man):
        return False
    with open(man) as fh:
        m = json.load(fh)
    if m.get("gen") != file_digest(os.path.join(BENCH, "gen.py")):
        return False
    want = gen.counts(sf)
    for t, n in want.items():
        p = os.path.join(d, f"{t}.parquet")
        if not os.path.exists(p) or pq.ParquetFile(p).metadata.num_rows != n:
            return False
    return m.get("counts") == want


def ensure_tables(sf):
    d = os.path.join(BENCH, ".data", f"sf{sf}")
    if tables_ok(d, sf):
        return d
    t = time.time()
    shutil.rmtree(d, ignore_errors=True)
    counts = gen.generate(d, sf)
    with open(os.path.join(d, "manifest.json"), "w") as fh:
        json.dump({"gen": file_digest(os.path.join(BENCH, "gen.py")),
                   "counts": counts}, fh)
    log(f"generated sf{sf} tables in {time.time() - t:.1f} s (not part of setup_s)")
    return d


# ---------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------

def frame_digest(df):
    """Row count, sorted column names and a value hash, compared the
    way tools/check_oracle.py compares them."""
    cols = sorted(df.columns)
    rows = df[cols].astype(str).values.tolist()
    h = hashlib.sha256(json.dumps(rows).encode()).hexdigest()
    return {"rows": len(rows), "cols": cols, "hash": h}


def duck(data_dir):
    import duckdb
    con = duckdb.connect()
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, t)}.parquet')")
    return con


def oracle_digests(data_dir, oracle_sql):
    """DuckDB oracle answers, computed once per data dir and SQL text."""
    cache = os.path.join(data_dir, "oracle_cache.json")
    known = {}
    if os.path.exists(cache):
        with open(cache) as fh:
            known = json.load(fh)
    con, out, dirty = None, {}, False
    for q, sql in oracle_sql.items():
        key = hashlib.sha256(sql.encode()).hexdigest()
        if q not in known or known[q]["sql"] != key:
            con = con or duck(data_dir)
            known[q] = {"sql": key, **frame_digest(con.execute(sql).fetchdf())}
            dirty = True
        out[q] = known[q]
    if dirty:
        with open(cache, "w") as fh:
            json.dump(known, fh)
    return out


def check_outputs(res, data_dir, out_dir, sf, expected_upsert):
    """(pass index, op name) -> reason for every op whose output is wrong
    in that pass (index -1 is the warm-up), and op name -> reason for the
    JDBC read-back, which is compared once, after the warm-up."""
    import duckdb
    con = duckdb.connect()
    oracle = oracle_digests(data_dir, res["oracle"])
    counts = gen.counts(sf)
    bad = {}
    for i, p in enumerate([res["warmup"]] + res["passes"], start=-1):
        work = os.path.join(out_dir, "work", p["tag"])
        for o in p["ops"]:
            if o["error"]:
                bad[(i, o["name"])] = f"threw: {o['error']}"
        for q, want in oracle.items():
            if (i, q) in bad:
                continue
            # part files in name order are the result's rows in order
            files = sorted(glob.glob(os.path.join(work, "q", q, "*.parquet")))
            got = frame_digest(con.execute(
                "SELECT * FROM read_parquet(?)", [files]).fetchdf())
            if any(got[k] != want[k] for k in ("rows", "cols", "hash")):
                bad[(i, q)] = f"oracle mismatch: spark {got['rows']} rows, oracle {want['rows']}"
        for key, n in p["migrated"].items():
            rnd, t = key.split(".", 1)
            want = counts[t] if rnd == "fresh" else 0
            if n != want:
                bad[(i, f"migrate.{key}")] = f"copied {n} rows, expected {want}"
        if expected_upsert is not None and (i, "upsert") not in bad:
            got = con.execute(
                "SELECT count(*), sum(c_custkey), sum(CAST(round(c_acctbal * 100) AS BIGINT)) "
                f"FROM read_parquet('{work}/upsert/*.parquet')").fetchone()
            want = (expected_upsert["rows"], expected_upsert["key_sum"],
                    expected_upsert["cents_sum"])
            if tuple(int(x or 0) for x in got) != want:
                bad[(i, "upsert")] = f"upsert result {got}, expected {want}"
    for t, r in res["jdbc"].items():
        if not r["equal"] or r["rows"] != counts[t]:
            bad["jdbc.read"] = (f"{t}: read back {r['rows']} rows, equal={r['equal']}"
                                + (f", {r['error']}" if "error" in r else ""))
    return bad


def count_failures(res, bad):
    """Timed op executions, and those that threw or whose output is wrong."""
    attempted = failed = 0
    for i, p in enumerate(res["passes"]):
        for o in p["ops"]:
            attempted += 1
            failed += o["name"] in bad or (i, o["name"]) in bad
    return attempted, failed


# ---------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------

def self_times(spans, passes):
    """Per traced pass, the summed self time of each span kind: a span's
    duration minus the time its child spans cover."""
    child = {}
    for sid, name, parent, op, s0, s1 in spans:
        child[parent] = child.get(parent, 0.0) + (s1 - s0)
    # the warm-up pass comes first, then the timed passes in order
    timed = [s for s in spans if s[1] == "pass"][-len(passes):]
    out = []
    for p, (_, _, _, _, start, end) in zip(passes, timed):
        if p["traced"]:
            acc = dict.fromkeys(("pass", "op", "build", "execute", "call"), 0.0)
            for sid, name, parent, op, s0, s1 in spans:
                kind = "op" if sid == op else name
                if start <= s0 and s1 <= end and kind in acc:
                    acc[kind] += (s1 - s0) - child.get(sid, 0.0)
            out.append(acc)
    return out


def own_share(busy, stolen):
    """The share of the time this machine's CPUs were ready to run that
    the host ran them rather than something else."""
    return busy / (busy + stolen) if busy + stolen else 1.0


def own_wall(p):
    """A pass's wall time less the share the host stole. To first
    order every thread of the pass waits while its CPU is stolen, so at
    a stolen share s the pass takes 1 / (1 - s) times as long as it
    would have had the host not run anything else."""
    return p["wall_s"] * own_share(*p["host_ticks"])


def end_to_end(res):
    untraced = [own_wall(p) for p in res["passes"] if not p["traced"]]
    # the stolen share of the JVM's own set-up stands for the launch too
    setup = res["jvm_s"] + res["session_s"] + res["warmup_s"]
    return {
        "wall_s": (median(untraced), "s"),
        "setup_s": (setup * own_share(*res["setup_host_ticks"]), "s"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res, all_ops):
    traced = [p for p in res["passes"] if p["traced"]]
    untraced = [p for p in res["passes"] if not p["traced"]]
    first = traced[0]
    cpus = res["cpus"]

    def ph(p, key, phases=("build", "execute", "write")):
        return sum(p["phases"].get(x, {}).get(key, 0.0) for x in phases)

    def med(f):
        return median([f(p) for p in traced])

    def op_s(prefix):
        """Median over traced passes of the summed call or execute
        seconds of the ops whose name starts with `prefix`."""
        return med(lambda p: sum(o["exec_s"] for o in p["ops"]
                                 if o["name"].startswith(prefix)))

    wall = med(lambda p: p["wall_s"])
    build_s = med(lambda p: sum(o["build_s"] for o in p["ops"]))
    exec_s = med(lambda p: sum(o["exec_s"] for o in p["ops"] if o["name"] in all_ops))
    run_s = med(lambda p: ph(p, "task_run_s", ("execute",)))
    shuffle_w = ph(first, "shuffle_write_bytes") / MB
    fresh_s = op_s("migrate.fresh.")
    fresh_rows = sum(n for k, n in first["migrated"].items() if k.startswith("fresh."))
    spans = self_times(res["spans"], res["passes"])
    m = {
        "setup.jvm_s": (res["jvm_s"], "s"),
        "setup.session_s": (res["session_s"], "s"),
        "setup.warmup_s": (res["warmup_s"], "s"),
        "build_s": (build_s, "s"),
        "build.jobs": (ph(first, "jobs", ("build",)), "count"),
        "build.cuts": (sum(o["cuts"] for o in first["ops"]), "count"),
        "build.share": (build_s / wall if wall else 0.0, "ratio"),
        "exec_s": (exec_s, "s"),
        "exec.jobs": (ph(first, "jobs", ("execute",)), "count"),
        "exec.stages": (ph(first, "stages", ("execute",)), "count"),
        "exec.tasks": (ph(first, "tasks", ("execute",)), "count"),
        "exec.task_run_s": (run_s, "s"),
        "exec.task_cpu_s": (med(lambda p: ph(p, "task_cpu_s", ("execute",))), "s"),
        "exec.core_util": (run_s / (exec_s * cpus) if exec_s else 0.0, "ratio"),
        "scan.input_rows": (ph(first, "input_rows"), "count"),
        "scan.input_mb": (ph(first, "input_bytes") / MB, "MB"),
        "plan.exchanges": (ph(first, "plan_exchanges"), "count"),
        "plan.smj": (ph(first, "plan_smj"), "count"),
        "plan.bhj": (ph(first, "plan_bhj"), "count"),
        "plan.wscg": (ph(first, "plan_wscg"), "count"),
        "shuffle.write_mb": (shuffle_w, "MB"),
        "shuffle.read_mb": (ph(first, "shuffle_read_bytes") / MB, "MB"),
        "shuffle.records": (ph(first, "shuffle_records"), "count"),
        "shuffle.fetch_wait_s": (med(lambda p: ph(p, "fetch_wait_s")), "s"),
        "spill.disk_mb": (ph(first, "spill_disk_bytes") / MB, "MB"),
        "spill.mem_mb": (ph(first, "spill_mem_bytes") / MB, "MB"),
        "spill.ratio": (ph(first, "spill_disk_bytes") / MB / shuffle_w
                        if shuffle_w else 0.0, "ratio"),
        "gc.task_s": (med(lambda p: ph(p, "gc_task_s")), "s"),
        "gc.driver_s": (med(lambda p: p["gc_driver_s"]), "s"),
        "host.cpu_s": (med(lambda p: p["cpu_s"]), "s"),
        "host.steal_share": (med(lambda p: 1 - own_share(*p["host_ticks"])), "ratio"),
        "heap.live_mb": (res["live_heap_mb"], "MB"),
        "migrate.fresh_s": (fresh_s, "s"),
        "migrate.rerun_s": (op_s("migrate.rerun."), "s"),
        "migrate.rows_written": (sum(first["migrated"].values()), "count"),
        "migrate.copy_rows_per_s": (fresh_rows / fresh_s if fresh_s else 0.0, "rows/s"),
        "write.output_mb": (ph(first, "output_bytes") / MB, "MB"),
        "upsert_s": (op_s("upsert"), "s"),
        "jdbc.write_s": (op_s("jdbc.write"), "s"),
        "jdbc.read_s": (op_s("jdbc.read"), "s"),
        "jdbc.rows": (sum(r["rows"] for r in res["jdbc"].values()), "count"),
        "streaming.batches": (ph(first, "stream_batches"), "count"),
        "streaming.add_batch_s": (med(lambda p: ph(p, "stream_add_batch_s")), "s"),
        "streaming.wal_commit_s": (med(lambda p: ph(p, "stream_wal_commit_s")), "s"),
        "streaming.state_rows": (ph(first, "stream_state_rows"), "count"),
        "span.pass_self_s": (median([s["pass"] for s in spans]), "s"),
        "span.op_self_s": (median([s["op"] for s in spans]), "s"),
        "span.build_self_s": (median([s["build"] for s in spans]), "s"),
        "span.execute_self_s": (median([s["execute"] for s in spans]), "s"),
        "span.write_self_s": (median([s["call"] for s in spans]), "s"),
        "trace.overhead": (med(own_wall) / median([own_wall(p) for p in untraced]) - 1,
                           "ratio"),
    }
    for q in all_ops:
        m[f"op.{q}_s"] = (med(lambda p: sum(
            o["build_s"] + o["exec_s"] for o in p["ops"] if o["name"] == q)), "s")
    return m


# ---------------------------------------------------------------------
# run
# ---------------------------------------------------------------------

def java_cmd(classpath, args, out_dir):
    work = os.path.join(out_dir, "work")
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JVM_OPENS]
    # a fixed-size heap, touched at start-up, so neither heap resizing nor
    # how much of the heap the collector has touched so far differs
    # between runs: resident memory then moves with native memory
    return (["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
             "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dderby.system.home={work}"] +
            opens + ["-cp", classpath, "perfbench.PerfBench"] + args)


def run_harness(cmd, out_dir, deadline):
    """Run the JVM in its own process group; a timeout, SIGTERM or SIGINT
    kills the whole group and waits for it before exiting."""
    env = dict(os.environ, TMPDIR=os.path.join(out_dir, "work", "tmp"))
    with open(os.path.join(out_dir, "jvm.log"), "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             cwd=out_dir, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, stop)
        try:
            rc = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise SystemExit("harness timed out")
    if rc != 0:
        with open(os.path.join(out_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"harness exited with {rc}")


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit(f"no program sources under {ROOT}/src/main/scala")

    import build
    classpath = build.build()
    kind, sf = WORKLOADS[a.workload]
    data = ensure_tables(sf)

    out_dir = os.path.join(BENCH, ".runs", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(os.path.join(out_dir, "work", "tmp"))
    expected = None
    if kind == "reference":
        expected = gen.upsert_delta(data, os.path.join(out_dir, "work", "delta.parquet"), a.seed)
    try:
        launch_ms = int(time.time() * 1000)
        run_harness(java_cmd(classpath, [
            "--workload", kind, "--data", data, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", out_dir,
            "--cpus", str(len(os.sched_getaffinity(0))),
            "--launch-ms", str(launch_ms)], out_dir), out_dir,
            time.time() + HARNESS_TIMEOUT_S)
        with open(os.path.join(out_dir, "result.json")) as fh:
            res = json.load(fh)
        bad = check_outputs(res, data, out_dir, sf, expected)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)

    attempted, failed = count_failures(res, bad)
    for k, why in sorted(bad.items(), key=str):
        log(f"FAILED {k}: {why}")
    if a.trace:
        all_ops = [q for w in sorted(res["all_queries"]) for q in res["all_queries"][w]]
        metrics = per_layer(res, all_ops)
    else:
        metrics = end_to_end(res)
    for k, (v, unit) in metrics.items():
        print(f"{a.workload} {k} = {v:.6g} {unit}")
    passes = len(res["passes"])
    print(f"{a.workload}: {passes} passes in {res['measure_s']:.1f} s, "
          f"{attempted} ops, {failed} failed, run {time.time() - t_start:.1f} s")
    summary = {"correct": failed == 0 and not bad, "attempted": attempted,
               "failed": failed,
               "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    os.makedirs(os.path.join(BENCH, ".results"), exist_ok=True)
    with open(os.path.join(BENCH, ".results", "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({"workload": a.workload, "seed": a.seed,
                             "trace": a.trace, "time": t_start,
                             "result": summary}) + "\n")
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
