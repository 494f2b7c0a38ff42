#!/usr/bin/env python3
"""graft's benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json and perfbench/README.md):
  ingest_stream    open-loop POST /api/data/insert into three tables, one
                   closed-loop reader polling for the rows alongside
  query_dashboard  closed-loop GET /api/data/query over preloaded tables

Builds the program from source (perfbench/build.py), generates the
inputs from --seed (perfbench/gen.py), measures, checks every output
(perfbench/checks.py) and prints, as its last stdout line, one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the program runs with
spans at every layer boundary and the metrics are the per-layer ones.
The line before it carries provenance and sample counts.
"""
import argparse
import asyncio
import json
import math
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import loadgen  # noqa: E402

API_KEY = "benchkey"
# local[4] in the harness fixes partitioning, so results do not depend
# on the machine; the load generator scales with the machine instead.
NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()

JVM_FLAGS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")] + [
    "-Xmx4g", "-XX:-UsePerfData", "-XX:-UseDynamicNumberOfCompilerThreads",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC", "-Dlog4j2.level=ERROR"]


def pct(values, q):
    """Nearest-rank percentile (q in 0..100) of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))]


# ------------------------------------------------------------------ JVM

class Program:
    """The harness JVM: `@@ ` lines on stdout are its messages."""

    def __init__(self, cp, args, work):
        self.log = open(os.path.join(work, "program.log"), "w")
        env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_LOCAL_DIRS=os.path.join(work, "spark"),
                   SPARK_GRAFT_CONF="graft.stageCache.enabled=false;"
                                    f"graft.stageCache.dir={os.path.join(work, 'stagecache')}")
        self.proc = subprocess.Popen(
            ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Harness", *args],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log, text=True, env=env,
            cwd=work)
        self.events = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self):
        for line in self.proc.stdout:
            if line.startswith("@@ "):
                self.events.put(json.loads(line[3:]))
        self.events.put(None)

    def expect(self, event, timeout):
        try:
            msg = self.events.get(timeout=timeout)
        except queue.Empty:
            raise RuntimeError(f"program sent no '{event}' within {timeout:.0f} s")
        if msg is None or msg.get("event") != event:
            raise RuntimeError(f"program exited or sent {msg!r} while waiting for '{event}'")
        return msg

    def command(self, cmd, event, timeout=60):
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()
        return self.expect(event, timeout)

    def cpu_s(self):
        """Process CPU seconds outside the JIT compiler threads. A fresh
        JVM compiles for minutes, and how much of that lands in a window
        varies from run to run; compile time is reported on its own
        (jvm.jit_s). The JVM runs with a fixed set of compiler threads, so
        none of them exits with its CPU time uncounted."""
        def ticks(stat_path):
            with open(stat_path) as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            return int(f[11]) + int(f[12])
        task_dir = f"/proc/{self.proc.pid}/task"
        jit = 0
        for tid in os.listdir(task_dir):
            try:
                with open(f"{task_dir}/{tid}/comm") as fh:
                    if fh.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                        jit += ticks(f"{task_dir}/{tid}/stat")
            except OSError:
                pass  # a thread that ended while listed
        return (ticks(f"/proc/{self.proc.pid}/stat") - jit) / os.sysconf("SC_CLK_TCK")

    def peak_rss_mb(self):
        with open(f"/proc/{self.proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        return 0.0

    def close(self):
        if self.proc.poll() is None:
            try:
                self.proc.stdin.write("quit\n")
                self.proc.stdin.flush()
                self.proc.wait(timeout=60)
            except Exception:
                self.proc.kill()
                self.proc.wait()
        self.log.close()


def sql_request(port, sql, fmt="json"):
    async def go():
        c = loadgen.Conn(port)
        try:
            return await c.request("GET", loadgen.query_path(API_KEY, sql, fmt))
        finally:
            c.close()
    status, data, _ = asyncio.run(go())
    if status != 200:
        raise RuntimeError(f"query failed ({status}): {data[:200]!r}")
    return json.loads(data)


def dir_bytes(path):
    total = 0
    for base, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, n)) for n in names)
    return total


def spans_file(a):
    """Where a traced run leaves its spans, one JSON line each."""
    return os.path.join(HERE, ".work", f"{a.workload}-seed{a.seed}.spans.jsonl")


def layer(trace, name, stat="p50_ms"):
    return trace.get("spans", {}).get(name, {}).get(stat, 0.0)


# ------------------------------------------------------- ingest_stream

# Gateway set-ups per ingest run. The first pays class loading and the
# metastore's first boot, so setup_s is the median of the others.
SETUPS = 11


def counts_sql(tables):
    return "select " + ", ".join(f"(select count(*) from {t}) as {t}" for t in tables)


def ingest_stream(a, cp, work):
    warm, reqs = gen.ingest_schedule(a.seed, a.seconds)
    prog = Program(cp, ["--root", os.path.join(work, "srv"),
                        "--trace", str(a.trace), "--setups", str(SETUPS), "--api-key", API_KEY,
                        "--dedup", "docs:body", "--spans", spans_file(a)], work)
    try:
        ready = prog.expect("ready", 170)
        port = ready["port"]
        conn_paths = lambda r: loadgen.insert_path(API_KEY, r["table"], r["flatten"])

        async def send_all(batch):
            c = loadgen.Conn(port)
            out = [(await c.request("POST", conn_paths(r), r["body"]))[0] for r in batch]
            c.close()
            return out

        # unmeasured warm-up: a few requests per table, loaded before timing
        warm_ok = [r for r, st in zip(warm, asyncio.run(send_all(warm))) if st == 200]
        wait_loaded(port, gen.ingest_expected(warm_ok), 60)
        prog.command("idle", "idle", 70)  # rows show before the dedup index is written
        base_events = gen.ingest_expected(warm_ok)["events"]
        # the docs dedup load ran in the warm-up: keep its spans
        warm_stats = prog.command("stats", "stats", 60)
        warm_trace = warm_stats.get("trace", {})

        reader = gen.IngestReader(a.seed)
        done = {}          # request index -> (due, sent, done, status)
        polls = []         # (done time, visible events rows)
        reads = []         # (reader query seconds, status, bytes, format)
        state = {"sending": True}
        prog.command("settle", "settled", 30)
        prog.command("mark", "marked")
        cpu0 = prog.cpu_s()
        t0 = time.perf_counter() + 0.2
        schedule = [(r["due"], conn_paths(r), r["body"], i) for i, r in enumerate(reqs)]

        def on_insert(i, due, sent, first, end, status, data):
            done[i] = (due, sent, end, status, first)

        async def read_loop():
            conn = loadgen.Conn(port)
            poll = loadgen.query_path(API_KEY, "select count(*) as n from events")
            step = 0
            while state["sending"]:
                status, data, _ = await conn.request("GET", poll)
                if status == 200:
                    polls.append((time.perf_counter(), json.loads(data)[0]["n"]))
                step += 1
                if step % 3:
                    continue
                sql, fmt = reader.next()
                s = time.perf_counter()
                st, body, _ = await conn.request("GET", loadgen.query_path(API_KEY, sql, fmt))
                reads.append((time.perf_counter() - s, st, len(body), fmt))
            # drain: poll until every acknowledged row is loaded
            want = gen.ingest_expected(warm_ok + [reqs[i] for i, d in done.items() if d[3] == 200])
            counts_path = loadgen.query_path(API_KEY, counts_sql([t for t, n in want.items() if n]))
            deadline = time.perf_counter() + 60
            while time.perf_counter() < deadline:
                status, data, _ = await conn.request("GET", counts_path)
                if status == 200:
                    got = json.loads(data)[0]
                    polls.append((time.perf_counter(), got["events"]))
                    if all(got.get(t, 0) >= n for t, n in want.items()):
                        break
                await asyncio.sleep(0.05)
            conn.close()

        async def main():
            rl = asyncio.create_task(read_loop())
            await loadgen.open_loop(port, schedule, max(1, NPROC - 2), t0, on_insert)
            state["send_end"] = time.perf_counter()
            state["sending"] = False
            await rl
            state["drain_end"] = time.perf_counter()
            state["drain_cpu"] = prog.cpu_s()

        asyncio.run(main())
        cpu_s = state["drain_cpu"] - cpu0
        stats = prog.command("stats", "stats", 120)

        # exactly-once checks over HTTP
        got = {t: sql_request(port, f"select count(*) as n, count(distinct __row_id) as ids from {t}")[0]
               for t in ("events", "carts", "docs")}
        got["events"].update(sql_request(
            port, "select count(distinct seq) as seqs, sum(seq) as seq_sum from events")[0])
        got["docs"].update(sql_request(
            port, "select count(distinct body) as bodies, count(distinct doc_id) as doc_ids from docs")[0])
        acked = sorted(i for i, d in done.items() if d[3] == 200)
        acked_reqs = warm_ok + [reqs[i] for i in acked]
        acked_seq = [item["seq"] for r in acked_reqs if r["table"] == "events"
                     for item in json.loads(r["body"])]
        problems = checks.check_ingest(gen.ingest_expected(acked_reqs), got, acked_seq)
        peak = prog.peak_rss_mb()
    finally:
        prog.close()

    # freshness: an events request is visible at the first poll that
    # counts every events row acknowledged up to and including it
    ev = sorted((done[i][2], i) for i in acked if reqs[i]["table"] == "events")
    visible_ms, fresh_ms, cum, p = [], [], base_events, 0
    for ack, i in ev:
        cum += reqs[i]["rows"]
        while p < len(polls) and (polls[p][1] < cum or polls[p][0] < ack):
            p += 1
        if p == len(polls):
            problems.append(f"events rows of request {i} never became visible")
            break
        visible_ms.append((polls[p][0] - (t0 + reqs[i]["due"])) * 1000)
        fresh_ms.append((polls[p][0] - ack) * 1000)
    failed_reads = sum(1 for r in reads if r[1] != 200)
    exports = [r for r in reads if r[3] == "ndjson" and r[1] == 200]
    attempted = len(warm) + len(reqs) + len(reads)
    failed = (len(warm) - len(warm_ok)) + (len(reqs) - len(acked)) + failed_reads + \
        (1 if problems else 0)
    ack_ms = [(d[2] - d[0]) * 1000 for d in done.values() if d[3] == 200]
    client_ms = [(d[4] - d[1]) * 1000 for d in done.values() if d[3] == 200]
    late_ms = [(d[1] - d[0]) * 1000 for d in done.values()]
    first_ms = [(d[4] - d[0]) * 1000 for d in done.values() if d[3] == 200]
    accepted = sum(len(r["body"]) for r in acked_reqs)
    stored = sum(dir_bytes(os.path.join(ready["root"], d)) for d in ("warehouse", "blob", "sink"))
    docs_in = sum(r["rows"] for r in acked_reqs if r["table"] == "docs")
    trace = stats.get("trace")
    return {
        "problems": problems, "attempted": attempted, "failed": failed,
        "setup_s": statistics.median(ready["setup_s"][1:]),
        # an insert's latency runs from when it was due to the first poll
        # that sees its rows (its HTTP latency is the per-layer
        # ingest.ack_*, see README); throughput counts the requests whose
        # rows were all queryable by the end of the drain, over the time
        # until then
        "latency_ms": visible_ms, "ops": len(acked), "window_s": state["drain_end"] - t0,
        "cpu_s": cpu_s, "peak_rss_mb": peak, "stats": stats,
        "extra": {
            "ingest.ack_p50_ms": pct(ack_ms, 50), "ingest.ack_p90_ms": pct(ack_ms, 90),
            "ingest.freshness_p50_ms": pct(fresh_ms, 50),
            "ingest.stored_bytes_ratio": stored / max(1, accepted),
            "catalog.stored_bytes": stored,
            "api.insert_overhead_ms":
                pct(client_ms, 50) - layer(trace, "ingest.insert") if trace else 0.0,
            "catalog.files": stats["tables"].get("events", {}).get("files", 0),
            "catalog.columns_added": sum(
                t.get("columns", 0) - warm_stats["tables"].get(name, {}).get("columns", 0)
                for name, t in stats["tables"].items()),
            # the docs loads (minhash drop policy) run in the warm-up
            "worker.dedup_job_ms": layer(warm_trace, "worker.job.docs"),
            "catalog.dedup_drop_ratio": 1 - got["docs"]["n"] / max(1, docs_in),
            "query.export_mb_per_s":
                sum(r[2] for r in exports) / 1e6 / sum(r[0] for r in exports) if exports else 0.0,
        },
        "detail": {"requests": len(reqs), "acked": len(acked), "reader_queries": len(reads),
                   "polls": len(polls), "send_s": state["send_end"] - t0,
                   "drain_s": state["drain_end"] - state["send_end"],
                   "rows_per_s_offered": sum(r["rows"] for r in reqs) / a.seconds,
                   "visible_samples": len(visible_ms),
                   "setup_s_all": ready["setup_s"],
                   "ack_ms": {f"p{q}": pct(ack_ms, q) for q in (10, 25, 50, 75, 90, 99)},
                   "first_byte_ms": {f"p{q}": pct(first_ms, q) for q in (10, 25, 50, 75, 90, 99)},
                   "lateness_ms": {"p50": pct(late_ms, 50), "p99": pct(late_ms, 99),
                                   "max": max(late_ms)},
                   "insert_conns": max(1, NPROC - 2), "reader_conns": 1},
    }


def wait_loaded(port, want, timeout):
    """Poll until every table holds at least the wanted rows."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        try:
            got = sql_request(port, counts_sql([t for t, n in want.items() if n]))[0]
            if all(got.get(t, 0) >= n for t, n in want.items()):
                return
        except RuntimeError:
            pass  # a table that has no rows yet has no view either
        time.sleep(0.1)
    raise RuntimeError(f"warm-up rows not loaded within {timeout} s")


# ----------------------------------------------------- query_dashboard

WARM = 30  # dashboard warm-up queries: one and a half cycles of the mix
# One client: each query's Spark jobs already use every core, and a fresh
# JVM's compiler threads take 2-3 cores of 4 (jvm.jit_s); more clients
# only queue behind them and turn compile bursts into run-to-run noise.
DASH_CLIENTS = 1


def query_dashboard(a, cp, work):
    dash = gen.Dashboard(a.seed)
    batches = os.path.join(work, "batches")
    dash.write_batches(batches)
    prog = Program(cp, ["--root", os.path.join(work, "srv"),
                        "--trace", str(a.trace), "--setups", "1", "--api-key", API_KEY,
                        "--spans", spans_file(a),
                        "--preload", batches], work)
    try:
        ready = prog.expect("ready", 170)
        port = ready["port"]
        mix = dash.queries(200)
        clients = DASH_CLIENTS
        # unmeasured warm-up: the first cycles of the mix, closed loop on
        # nproc-1 clients to be quick about it
        warm = iter([(loadgen.query_path(API_KEY, dash.sql(q), q[2]), 0) for q in mix[:WARM]])
        asyncio.run(loadgen.closed_loop(port, max(1, NPROC - 1), time.perf_counter() + 90,
                                        lambda: next(warm, None), lambda *r: None))
        prog.command("settle", "settled", 30)
        prog.command("mark", "marked")
        cpu0 = prog.cpu_s()
        nxt = {"i": WARM}
        results = []

        def next_request():
            i = nxt["i"]
            nxt["i"] += 1
            q = mix[i % len(mix)]
            return loadgen.query_path(API_KEY, dash.sql(q), q[2]), i % len(mix)

        def on_done(i, sent, first, end, status, data):
            results.append((i, sent, first, end, status, data))

        t0 = time.perf_counter()
        asyncio.run(loadgen.closed_loop(port, clients, t0 + a.seconds, next_request, on_done))
        window = max(r[3] for r in results) - t0
        cpu_s = prog.cpu_s() - cpu0
        stats = prog.command("stats", "stats", 120)
        peak = prog.peak_rss_mb()
    finally:
        prog.close()
    problems, failed, memo = [], 0, {}
    for i, sent, first, end, status, data in results:
        q = mix[i]
        key = (q[0], json.dumps(q[1], sort_keys=True))
        if key not in memo:
            memo[key] = dash.expected(q)
        bad = [f"status {status}"] if status != 200 else checks.check_dashboard(q[0], memo[key], data, q[2])
        if bad:
            failed += 1
            problems += bad[:1]
    lat = [(r[3] - r[1]) * 1000 for r in results if r[4] == 200]
    exports = [r for r in results if mix[r[0]][0] == "export" and r[4] == 200]
    exp_bytes = sum(len(r[5]) for r in exports)
    exp_s = sum(r[3] - r[1] for r in exports)
    trace = stats.get("trace", {})
    return {
        "problems": problems, "attempted": len(results), "failed": failed,
        "setup_s": statistics.median(ready["setup_s"]),
        "latency_ms": lat, "ops": len(lat), "window_s": window, "cpu_s": cpu_s,
        "peak_rss_mb": peak, "stats": stats,
        "extra": {
            "query.export_mb_per_s": exp_bytes / 1e6 / exp_s if exp_s else 0.0,
            "api.query_overhead_ms": pct(lat, 50) - layer(trace, "api.query") if trace else 0.0,
            "catalog.files": stats["tables"].get("events", {}).get("files", 0),
            "catalog.stored_bytes": dir_bytes(os.path.join(ready["root"], "warehouse")),
        },
        "detail": {"clients": clients, "queries": len(results), "exports": len(exports),
                   "export_mb": exp_bytes / 1e6, "preloaded_rows": ready["preloaded_rows"]},
    }


WORKLOADS = {"ingest_stream": ingest_stream, "query_dashboard": query_dashboard}


# -------------------------------------------------------------- metrics

def end_to_end(r):
    lat = r["latency_ms"]
    return {
        "setup_s": (r["setup_s"], "s"),
        "latency_p50_ms": (pct(lat, 50), "ms"),
        "latency_p90_ms": (pct(lat, 90), "ms"),
        "ops_per_s": (r["ops"] / r["window_s"], "1/s"),
        "cpu_ms_per_op": (r["cpu_s"] * 1000 / max(1, r["ops"]), "ms"),
    }


def per_layer(r, spec):
    st = r["stats"]
    tr = st.get("trace", {})
    sp = st.get("spark", {})
    c = tr.get("counters", {})
    mx = tr.get("maxima", {})
    spans = tr.get("spans", {})
    queries = max(1, c.get("query.count", 0))
    v = {
        "ingest.insert_ms": layer(tr, "ingest.insert"),
        "ingest.rows_per_item": c.get("sink.rotated_rows", 0) / max(1, c.get("ingest.items", 0)),
        "sink.rotate_ms": layer(tr, "sink.rotate"),
        "blob.upload_ms": layer(tr, "blob.upload"),
        "queue.enqueue_ms": layer(tr, "queue.enqueue"),
        "sink.rotations": c.get("sink.rotations", 0),
        "sink.rows_per_file": c.get("sink.rotated_rows", 0) / max(1, c.get("sink.rotations", 0)),
        "queue.wait_ms": layer(tr, "queue.wait"),
        "queue.depth_max": mx.get("queue.depth_max", 0),
        "worker.job_ms": layer(tr, "worker.job"),
        "spark.jobs_per_load": sp.get("jobs_load", 0) / max(1, spans.get("worker.job", {}).get("n", 0)),
        "worker.retries": c.get("worker.retries", 0),
        "worker.dead_letters": c.get("worker.dead_letters", 0),
        "catalog.register_views_ms": layer(tr, "catalog.register_views"),
        "query.plan_ms": layer(tr, "query.plan"),
        "query.first_row_ms": layer(tr, "query.first_row"),
        "query.encode_ms": layer(tr, "query.encode"),
        "query.result_bytes": c.get("query.result_chars", 0) / queries,
        "spark.jobs_per_query": sp.get("jobs_query", 0) / queries,
        "spark.tasks_per_query": sp.get("tasks_query", 0) / queries,
        "spark.task_cpu_s": sp.get("task_cpu_s", 0.0),
        "spark.gc_s": st.get("gc_ms", 0.0) / 1000,
        "jvm.jit_s": st.get("jit_ms", 0.0) / 1000,
        "spark.shuffle_write_bytes": sp.get("shuffle_write_bytes", 0),
        "spark.spill_bytes": sp.get("spill_bytes", 0),
        "jvm.peak_rss_mb": r["peak_rss_mb"],
        "trace.latency_p50_ms": pct(r["latency_ms"], 50),
        "trace.cpu_ms_per_op": r["cpu_s"] * 1000 / max(1, r["ops"]),
    }
    v.update(r["extra"])
    return {m["name"]: (v.get(m["name"], 0.0), m["unit"]) for m in spec["per_layer"]}


def cpu_ticks():
    """Jiffies of the whole machine: (steal, total), from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[7], sum(f)


def provenance(a):
    def git(*args):
        try:
            return subprocess.run(["git", "-C", ROOT, *args], capture_output=True, text=True,
                                  timeout=10).stdout.strip()
        except Exception:
            return ""
    sha = git("rev-parse", "HEAD") or "unknown"
    dirty = bool(git("status", "--porcelain", "--untracked-files=no")) if sha != "unknown" else None
    return {"git_sha": sha, "git_dirty": dirty, "nproc": NPROC, "seed": a.seed,
            "workload": a.workload, "seconds": a.seconds, "trace": a.trace,
            "load1_start": os.getloadavg()[0], "ticks_start": cpu_ticks(),
            "session_conf": {"master": "local[4]", "shuffle_partitions": 4,
                             "graft.stageCache.enabled": False, "xmx": "4g"}}


def main():
    # a terminated run still stops its program and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    prov = provenance(a)
    cp = build.build()
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=os.path.join(HERE, ".work"))
    try:
        r = WORKLOADS[a.workload](a, cp, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    metrics = end_to_end(r) if a.trace == 0 else per_layer(r, spec)
    prov["load1_end"] = os.getloadavg()[0]
    # CPU time the hypervisor gave to other guests, as a share of the run
    steal0, total0 = prov.pop("ticks_start")
    steal1, total1 = cpu_ticks()
    prov["steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    detail = {"provenance": prov, "samples": len(r["latency_ms"]), "ops": r["ops"],
              "window_s": r["window_s"], "problems": r["problems"][:10], **r["detail"]}
    result = {
        "correct": not r["problems"], "attempted": int(r["attempted"]), "failed": int(r["failed"]),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}
    with open(os.path.join(HERE, ".work", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as fh:
        json.dump({"detail": detail, "result": result}, fh, indent=1)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
