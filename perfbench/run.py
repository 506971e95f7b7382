#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <recon_cdc|battery> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the library and the
benchmark's driver program (perfbench/build.sbt, sbt offline) and caches
the classpath under .bench_build/; inputs are generated from the seed by
gen.py and cached per seed there too. Each run then:

  * times `SETUP_SAMPLES` JVM start-ups to a ready SparkSession (the main
    run's own start-up is one of them) and reports the median as setup_s;
  * runs the workload's pass in one fresh JVM at local[nproc] with a fixed
    1.5 GB heap, one client in a closed loop: the first pass cold, then
    the workload's fixed warm passes (WARM), and more warm passes if
    --seconds have not yet passed
    (perfbench/scala/perfbench/Main.scala);
  * checks every output against the generator's expected values, counting
    each throw or wrong output as a failed op;
  * prints one JSON line: the end-to-end metrics with --trace 0, the
    per-layer metrics (listener counters, construct/plan/exec splits, plan
    shapes, tracing overhead) with --trace 1.

A run record (box, JVM, Spark conf, seed, input sizes, ambient load at
start, CPU busy and stolen shares during the run, per-pass GC, JIT and
steal) is written beside the result under .bench_build/perfbench/runs/.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_SAMPLES = 2
JVM_DEADLINE_S = 165          # a run must end within 180 s; leave margin
BUILD_DEADLINE_S = 800

# Per-workload input sizes (gen.py scale units: 1 = the sf0.01 row counts).
RECON_SCALE = 2
CDC_SCALE = 3
CDC_BATCHES = 3
BATTERY_SCALE = 1
# The warm passes warm_pass_s is taken from, fixed per workload; every run
# makes them all, however long they take. The JIT is still settling through
# the first warm passes (on a 4-vCPU VM a battery pass took ~5 s at pass 1
# and ~3.5 s by pass 8), so a tail chosen by the clock would let the box's
# speed decide which passes count: one pass more or less moved the median by
# 10%. The battery's pass 1 is its warm-up, which also writes each query's
# output for the oracle compare (Main.scala, BatteryWorkload).
WARM = {"recon_cdc": range(1, 2), "battery": range(2, 5)}
# ops excluded from the latency percentiles: they run no Spark job
# (relation construction, metadata-only schema compare, a replayed batch
# id that returns at once)
NO_LATENCY = ("tables.read", "sources.read", "recon.schema_drift", "streaming.replay_batch")

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for root in paths:
        if os.path.isfile(root):
            files = [root]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def build(work):
    """Compile the library + driver once per source state; return the classpath."""
    sources = ["src/main/scala", "perfbench/scala", "perfbench/build.sbt",
               "perfbench/project/build.properties"]
    stamp = tree_hash(sources)
    cp_file = os.path.join(work, f"classpath-{stamp}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS="-Dsbt.override.build.repos=true "
                        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                        " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(os.getcwd(), "perfbench"), env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_DEADLINE_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip()


def inputs(work, workload, seed):
    """Generate (or reuse) the seed's inputs; return (dir, info)."""
    import gen
    d = os.path.join(work, "data", f"{workload}-{tree_hash([os.path.join(HERE, 'gen.py')])}-s{seed}")
    done = os.path.join(d, "DONE.json")
    if os.path.exists(done):
        return d, json.load(open(done))
    shutil.rmtree(d, ignore_errors=True)
    con = gen.connect(seed)
    if workload == "recon_cdc":
        info = {"recon": gen.recon_inputs(con, os.path.join(d, "recon"), RECON_SCALE),
                "cdc": gen.cdc_inputs(con, os.path.join(d, "cdc"), CDC_SCALE, CDC_BATCHES)}
    else:
        info = {"rows": gen.corpus(con, d, BATTERY_SCALE)}
    con.close()
    json.dump(info, open(done, "w"))
    return d, info


def battery_queries(seed):
    """The battery's queries (modules.tsv rows marked for the battery),
    in an order permuted by the seed."""
    rows = [l.rstrip("\n").split("\t") for l in open(os.path.join(HERE, "modules.tsv"))
            if l.strip() and not l.startswith("#")]
    qs = [(q, m) for q, m, use in rows if use == "battery"]
    random.Random(seed).shuffle(qs)
    return qs


def cpu_times():
    """The box's aggregate CPU jiffies: (total, idle + iowait, steal)."""
    v = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return sum(v), v[3] + v[4], v[7] if len(v) > 7 else 0


def cpu_share(a, b):
    """Busy and steal shares of the box's CPU time between two cpu_times()."""
    total = max(1, b[0] - a[0])
    return {"busy_frac": round(1 - (b[1] - a[1]) / total, 4),
            "steal_frac": round((b[2] - a[2]) / total, 4)}


def cpu_load():
    """Ambient load at start: 1-min loadavg, busy and steal shares over 0.5 s."""
    a = cpu_times()
    time.sleep(0.5)
    return dict(cpu_share(a, cpu_times()),
                loadavg_1m=float(open("/proc/loadavg").read().split()[0]))


def mem_total_kb():
    for l in open("/proc/meminfo"):
        if l.startswith("MemTotal:"):
            return int(l.split()[1])
    return 0


def jvm(cp, work, cores, args, deadline):
    """Run the driver JVM until it exits or the deadline passes; return
    (seconds to READY, exit code, stderr tail)."""
    # a fixed-size heap: heap growth does not vary from run to run
    heap = "1536m"
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--cores", str(cores), "--work", work] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    err_path = os.path.join(work, "tmp", "jvm.stderr")
    ready = []

    def watch(out):
        # stdout is read on its own thread, so the deadline below holds
        # even if the JVM hangs with stdout open
        for line in out:
            if not ready and line.strip() == "READY":
                ready.append(time.perf_counter() - t0)

    t0 = time.perf_counter()
    with open(err_path, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, text=True)
        reader = threading.Thread(target=watch, args=(p.stdout,), daemon=True)
        reader.start()
        try:
            p.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise BenchError("driver JVM overran the run deadline")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
            reader.join(timeout=5)
    tail = open(err_path).read()[-3000:]
    return (ready or [None])[0], p.returncode, tail


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """Nearest-rank percentile."""
    if not xs:
        return 0.0
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)]


# ---------------------------------------------------------------- checks

def check_recon(res, info, out):
    """Failed op ids: reports, drill-down key sets, tolerance counts and
    schema statuses that differ from the manifest."""
    import pyarrow.parquet as pq
    pairs = info["pairs"]
    bad = set()
    expect_fail = {t for t, e in pairs.items() if _pair_fails(e)}
    for op in res["ops"]:
        if not op["ok"]:
            continue
        name, p = op["name"], op["pass"]
        kind, _, table = name.partition(":")
        d = os.path.join(out, f"pass_{p}")
        if kind == "recon.schema_drift":
            want = [f"{info['drift']['column']}:type_mismatch"] if table == info["drift"]["table"] else []
            if sorted(op["extra"].get("not_ok", [])) != want:
                bad.add(op["id"])
        elif kind == "recon.reconcile_all":
            try:
                rows = pq.read_table(os.path.join(d, "report")).to_pylist()
            except Exception:
                rows = []
            got = {(r["table"], r["check"]): (r["src_v"], r["tgt_v"], r["ok"]) for r in rows}
            want = {}
            for t, e in pairs.items():
                for chk, sv, tv, ok in _report_rows(e):
                    want[(t, chk)] = (float(sv), float(tv), ok)
            if got != want:
                bad.add(op["id"])
        elif kind == "recon.hash_diff_detail":
            try:
                rows = pq.read_table(os.path.join(d, "detail")).to_pylist()
            except Exception:
                rows = []
            got = {(r["k"], r["status"]) for r in rows if r["table"] == table}
            e = pairs[table]
            want = {(str(k), s) for s in ("mismatch", "missing_in_target", "extra_in_target")
                    for k in e[s]}
            if got != want:
                bad.add(op["id"])
        elif kind == "recon.tolerance_diff":
            try:
                rows = pq.read_table(os.path.join(d, "tolerance")).to_pylist()
            except Exception:
                rows = []
            got = [r["mismatches"] for r in rows if r["table"] == table]
            if got != [pairs[table]["tolerance_mismatches"]]:
                bad.add(op["id"])
    # every pass must drill down into exactly the failing pairs
    for p in {op["pass"] for op in res["ops"]}:
        drilled = {op["name"].split(":")[1] for op in res["ops"]
                   if op["pass"] == p and op["name"].startswith("recon.hash_diff_detail")}
        if drilled != expect_fail:
            bad.update(op["id"] for op in res["ops"]
                       if op["pass"] == p and op["name"] == "recon.reconcile_all")
    return bad


def _report_rows(e):
    mism, miss, extra = len(e["mismatch"]), len(e["missing_in_target"]), len(e["extra_in_target"])
    return [("rowcount", e["src_n"], e["tgt_n"], e["src_n"] == e["tgt_n"]),
            ("hash_mismatch", mism, 0, mism == 0),
            ("missing_in_target", miss, 0, miss == 0),
            ("extra_in_target", extra, 0, extra == 0),
            ("dup_keys", e["dup_src"], e["dup_tgt"], e["dup_src"] == 0 and e["dup_tgt"] == 0),
            ("schema_drift", e["schema_drift"], 0, e["schema_drift"] == 0)]


def _pair_fails(e):
    return not all(ok for *_, ok in _report_rows(e))


def check_cdc(res, info):
    bad = set()
    checks = {c["pass"]: c for c in res["workload"]["checks"]}
    final_ptr = f"{info['batches']} {info['batches'] - 1}"
    for op in res["ops"]:
        if not op["ok"]:
            continue
        c = checks.get(op["pass"], {})
        if op["name"] == "recon.hash_diff_tables":
            # the drill-down (untimed, after the pass) also sees keys
            # missing from or extra in the snapshot
            if (op["extra"].get("mismatches") != 0 or c.get("detail_rows") != 0
                    or c.get("snapshot_rows") != info["expected_rows"]):
                bad.add(op["id"])
        elif op["name"] == "streaming.replay_batch":
            if not (op["extra"].get("pointer_before") == op["extra"].get("pointer_after")
                    == final_ptr):
                bad.add(op["id"])
        elif op["name"].startswith("streaming.apply_batch"):
            if c.get("pointer") != final_ptr:
                bad.add(op["id"])
    return bad


def check_battery(res, corpus, out):
    """Each query's dumped output against its DuckDB oracle, hashed the way
    tools/compare.py hashes (rows, column names, full-precision values)."""
    import glob
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from compare import table_hash
    import gen
    dumps = os.path.join(out, "dumps")
    oracle = json.load(open(os.path.join(dumps, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    con.execute("SET threads=4")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(corpus, t + '.parquet')}')")
    wrong = {}
    for q in {op["name"].split(":", 1)[1] for op in res["ops"]}:
        files = sorted(glob.glob(os.path.join(dumps, q, "*.parquet")))
        if not files:
            wrong[q] = "no output dumped"
            continue
        tbl = pa.concat_tables([pq.read_table(f) for f in files])
        scols = tbl.column_names
        srows = [tuple(r[c] for c in scols) for r in tbl.to_pylist()]
        if q not in oracle:
            if not srows:
                wrong[q] = "no oracle and no rows"
            continue
        try:
            r = con.execute(oracle[q])
            ocols = [x[0] for x in r.description]
            orows = r.fetchall()
        except Exception as e:
            wrong[q] = f"oracle error {e}"
            continue
        if (len(srows) != len(orows) or sorted(scols) != sorted(ocols)
                or table_hash(scols, srows) != table_hash(ocols, orows)):
            wrong[q] = f"differs from oracle (rows {len(srows)}/{len(orows)})"
    return {op["id"] for op in res["ops"] if op["name"].split(":", 1)[1] in wrong}, wrong


# ---------------------------------------------------------------- metrics

def op_latencies(res, workload):
    return [o["wall_s"] for o in res["ops"]
            if o["pass"] in WARM[workload] and not o["name"].startswith(NO_LATENCY)]


def pass_rows(res, workload, info, p):
    """Input rows pass p works through: on recon_cdc the rows reconciled
    (source + target) plus the change rows applied, on the battery the
    corpus rows its queries' plans scan."""
    if workload == "recon_cdc":
        return (sum(e["src_n"] + e["tgt_n"] for e in info["recon"]["pairs"].values())
                + sum(info["cdc"]["change_rows"]))
    n = info["rows"]
    return sum(n.get(t, 0) for o in res["ops"] if o["pass"] == p
               for t in o["extra"].get("tables", []))


def warm_pass_s(res, workload):
    """The warm pass, op by op: the sum over the pass's ops of each op's
    median time across the WARM passes. A stall of one op in one pass moves
    it less than it moves a median of pass totals."""
    by_op = {}
    for o in res["ops"]:
        if o["pass"] in WARM[workload]:
            t = by_op.setdefault(o["name"], {})
            t[o["pass"]] = t.get(o["pass"], 0.0) + o["wall_s"]
    return sum(median(list(t.values())) for t in by_op.values())


def end_to_end(res, workload, setup):
    passes = res["passes"]
    return {"setup_s": (setup, "s"),
            "run_s": (passes[0]["wall_s"], "s"),
            "warm_pass_s": (warm_pass_s(res, workload), "s"),
            "peak_rss_mb": (res["peak_rss_mb"], "MB")}


LISTENER = ["jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
            "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes",
            "input_bytes", "output_bytes", "stage_wall_s"]
BATTERY_MODULES = ["Relational", "Events", "Text", "Recon", "Vectors", "Graph",
                   "Sampling", "Changes", "Asof", "Multimodal", "Privacy"]
SHAPE = ["scans", "exchanges", "sorts", "broadcasts"]


def per_layer_names():
    names = [("tables.read_s", "s"), ("sources.read_s", "s"), ("recon.schema_drift_s", "s")]
    for site in ("recon.reconcile_all", "recon.hash_diff_detail"):
        names += [(f"{site}.{x}", "s") for x in ("construct_s", "plan_s", "exec_s")]
        names += [(f"{site}.{x}", "count") for x in SHAPE + ["construct_jobs"]]
    names += [("recon.tolerance_diff.plan_s", "s"), ("recon.tolerance_diff.exec_s", "s"),
              ("recon.tolerance_diff.scans", "count"), ("recon.tolerance_diff.exchanges", "count"),
              ("sources.write_s", "s"), ("sources.bytes_written", "bytes"),
              ("streaming.init_snapshot_s", "s"), ("streaming.apply_batch_s", "s"),
              ("streaming.apply_batch_p50_s", "s"), ("streaming.replay_batch_s", "s"),
              ("sources.bytes_written_per_change_row", "bytes"),
              ("changes.plan_s", "s"), ("changes.sorts", "count"), ("changes.exchanges", "count"),
              ("recon.hash_diff_tables.plan_s", "s"), ("recon.hash_diff_tables.exec_s", "s")]
    for mod in BATTERY_MODULES:
        names += [(f"battery.{mod}.{x}", "s") for x in ("cold_s", "warm_s", "plan_s")]
    names += [("battery.jobs_per_query_p50", "count")]
    names += [(f"spark.{x}", "bytes" if x.endswith("bytes") else
               "s" if x.endswith("_s") else "count") for x in LISTENER]
    names += [("spark.driver_residue_s", "s"), ("spark.core_busy_frac", "frac"),
              ("trace.run_s", "s"), ("trace.span_sum_s", "s"), ("trace.residue_s", "s"),
              ("trace_overhead_frac", "frac"), ("op_failure_frac", "frac"),
              ("rows_per_s", "rows/s"),
              ("op_p50_s", "s"), ("op_p75_s", "s")]
    return names


def per_layer(res, workload, info, attempted, failed, cores, modules):
    ops = res["ops"]
    passes = res["passes"]
    # warm passes past the battery's warm-up
    warm = [p["pass"] for p in passes if p["pass"] >= WARM[workload][0]]
    traced = [p["pass"] for p in passes if p["traced"] and p["pass"] in warm]
    wall = {p["pass"]: p["wall_s"] for p in passes}
    v = {n: 0.0 for n, _ in per_layer_names()}

    def per_pass(pred, f, agg=sum):
        """Median over traced warm passes of agg(f(op)) over matching ops."""
        vals = []
        for p in traced:
            xs = [f(o) for o in ops if o["pass"] == p and pred(o)]
            if xs:
                vals.append(agg(xs))
        return median(vals) if vals else 0.0

    pre = lambda s: (lambda o: o["name"].startswith(s))
    v["tables.read_s"] = per_pass(pre("tables.read"), lambda o: o["wall_s"])
    v["sources.read_s"] = per_pass(pre("sources.read"), lambda o: o["wall_s"])
    v["recon.schema_drift_s"] = per_pass(pre("recon.schema_drift"), lambda o: o["wall_s"])
    for site in ("recon.reconcile_all", "recon.hash_diff_detail", "recon.tolerance_diff",
                 "recon.hash_diff_tables"):
        for part in ("construct_s", "plan_s", "exec_s"):
            if f"{site}.{part}" in v:
                v[f"{site}.{part}"] = per_pass(pre(site), lambda o, k=part: o[k])
        for s in SHAPE:
            if f"{site}.{s}" in v:
                v[f"{site}.{s}"] = per_pass(pre(site), lambda o, k=s: o["shape"].get(k, 0))
        if f"{site}.construct_jobs" in v:
            v[f"{site}.construct_jobs"] = per_pass(
                pre(site), lambda o: (o["engine"] or {}).get("construct_jobs", 0))
    v["sources.write_s"] = per_pass(pre("sources.write"), lambda o: o["wall_s"])
    v["sources.bytes_written"] = per_pass(pre("sources.write"), lambda o: o["extra"].get("bytes", 0))
    v["streaming.init_snapshot_s"] = per_pass(pre("streaming.init_snapshot"), lambda o: o["wall_s"])
    v["streaming.apply_batch_s"] = per_pass(pre("streaming.apply_batch"), lambda o: o["wall_s"])
    v["streaming.apply_batch_p50_s"] = per_pass(pre("streaming.apply_batch"), lambda o: o["wall_s"], median)
    v["streaming.replay_batch_s"] = per_pass(pre("streaming.replay_batch"), lambda o: o["wall_s"])
    # per batch: the plan applyChangesBatch ran for its snapshot write
    apply = pre("streaming.apply_batch")
    v["changes.plan_s"] = per_pass(apply, lambda o: o["extra"]["write_plan_s"], median)
    v["changes.sorts"] = per_pass(
        apply, lambda o: o["extra"]["write_shape"].get("sorts", 0), median)
    v["changes.exchanges"] = per_pass(
        apply, lambda o: o["extra"]["write_shape"].get("exchanges", 0), median)
    if workload == "recon_cdc":
        written = [c["bytes_written"] for c in res["workload"]["checks"] if c["pass"] in traced]
        v["sources.bytes_written_per_change_row"] = median(written) / sum(info["cdc"]["change_rows"])
    if workload == "battery":
        mod = dict(modules)
        qname = lambda o: o["name"].split(":", 1)[1]
        for m in BATTERY_MODULES:
            in_m = lambda o, m=m: o["name"].startswith("battery:") and mod.get(qname(o)) == m
            v[f"battery.{m}.cold_s"] = sum(o["wall_s"] for o in ops if o["pass"] == 0 and in_m(o))
            v[f"battery.{m}.warm_s"] = per_pass(in_m, lambda o: o["wall_s"])
            v[f"battery.{m}.plan_s"] = per_pass(in_m, lambda o: o["plan_s"])
        v["battery.jobs_per_query_p50"] = median(
            [(o["engine"] or {}).get("jobs", 0) for o in ops if o["pass"] in traced])
    # listener totals per traced warm pass
    eng = lambda k: (lambda o: (o["engine"] or {}).get(k, 0))
    for k in LISTENER:
        v[f"spark.{k}"] = per_pass(lambda o: True, eng(k))
    v["spark.driver_residue_s"] = per_pass(
        lambda o: o["engine"] is not None,
        lambda o: o["wall_s"] - o["engine"]["stage_cover_s"])
    busy = [sum(eng("task_s")(o) for o in ops if o["pass"] == p) / (wall[p] * cores)
            for p in traced]
    v["spark.core_busy_frac"] = median(busy)
    # the cold pass: call spans plus residue make up the traced run_s
    span = sum(o["wall_s"] for o in ops if o["pass"] == 0)
    v["trace.run_s"] = wall[0]
    v["trace.span_sum_s"] = span
    v["trace.residue_s"] = wall[0] - span
    untraced = [wall[p] for p in warm if p not in traced]
    if traced and untraced:
        v["trace_overhead_frac"] = median([wall[p] for p in traced]) / median(untraced) - 1
    v["op_failure_frac"] = failed / attempted
    v["rows_per_s"] = median([pass_rows(res, workload, info, p) / wall[p] for p in warm])
    # warm-pass latency of the ops that run Spark jobs; p75 is the highest
    # percentile with about ten samples beyond it
    v["op_p50_s"] = median(op_latencies(res, workload))
    v["op_p75_s"] = pct(op_latencies(res, workload), 0.75)
    return {n: (v[n], u) for n, u in per_layer_names()}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["recon_cdc", "battery"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    a = ap.parse_args()
    deadline = time.monotonic() + JVM_DEADLINE_S

    root = os.getcwd()
    for need in ("src/main/scala/graft", "tools/compare.py", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a repository checkout")
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(work, exist_ok=True)
    load = cpu_load()
    cp = build(work)
    deadline = max(deadline, time.monotonic() + 150)  # a build does not eat the run's time
    data, info = inputs(work, a.workload, a.seed)
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    out = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    setups = []
    for _ in range(SETUP_SAMPLES - 1):
        ready, code, tail = jvm(cp, work, cores, ["--setup-only", "1"], deadline)
        if code != 0 or ready is None:
            sys.stderr.write(tail)
            fail("set-up JVM failed")
        setups.append(ready)

    # a traced run alternates traced (even) and untraced (odd) warm passes:
    # it needs both past the battery's warm-up, for trace_overhead_frac
    last_pass = max(WARM[a.workload][-1], 3 if a.trace else 0)
    args = ["--workload", a.workload, "--out", out, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--min-warm", str(last_pass)]
    modules = []
    if a.workload == "recon_cdc":
        args += ["--recon", os.path.join(data, "recon"), "--cdc", os.path.join(data, "cdc")]
    else:
        modules = battery_queries(a.seed)
        args += ["--corpus", data, "--queries", ",".join(q for q, _ in modules),
                 "--seed", str(a.seed)]
    before = cpu_times()
    ready, code, tail = jvm(cp, work, cores, args, deadline)
    during = cpu_share(before, cpu_times())
    res_path = os.path.join(out, "result.json")
    if code != 0 or ready is None or not os.path.exists(res_path):
        sys.stderr.write(tail)
        fail(f"driver JVM exited with code {code}")
    setups.append(ready)
    res = json.load(open(res_path))

    if a.workload == "recon_cdc":
        bad, notes = check_recon(res, info["recon"], out) | check_cdc(res, info["cdc"]), {}
    else:
        bad, notes = check_battery(res, data, out)
    attempted = len(res["ops"])
    failed = len(bad | {o["id"] for o in res["ops"] if not o["ok"]})
    errors = sorted({o["name"] + ": " + o["error"] for o in res["ops"] if not o["ok"]})

    if a.trace:
        metrics = per_layer(res, a.workload, info, attempted, failed, cores, modules)
    else:
        metrics = end_to_end(res, a.workload, median(setups))

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "nproc": cores, "mem_total_kb": mem_total_kb(), "ambient_load_at_start": load,
              "box_cpu_during_run": during,
              "setup_samples_s": setups, "passes": res["passes"], "env": res["env"],
              "inputs": info if a.workload == "battery" else
              {"recon_src_rows": info["recon"]["src_rows"],
               "recon_tgt_rows": {t: e["tgt_n"] for t, e in info["recon"]["pairs"].items()},
               "cdc": info["cdc"]},
              "input_bytes": sum(os.path.getsize(os.path.join(d, f))
                                 for d, _, fs in os.walk(data) for f in fs if f.endswith(".parquet")),
              "battery_queries": modules, "wrong_outputs": notes, "errors": errors,
              "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": x, "unit": u} for k, (x, u) in metrics.items()}}
    with open(os.path.join(out, "run_record.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    for e in errors:
        print(f"op error: {e}")
    for q, why in sorted(notes.items()):
        print(f"wrong output: {q}: {why}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": x, "unit": u} for k, (x, u) in metrics.items()}}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        fail(str(e))
