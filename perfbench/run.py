#!/usr/bin/env python3
"""Repo benchmark: one command, two workloads, every metric by name.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (perfbench/workloads.json records their inputs and reasons):

  query_suite  a slice of the SparkEntry.queries suite, seed-shuffled closed loop
               traced runs add catch-up ingest at local[1] (graft.perfbench.IngestCatchup)
  serve_live   open-loop HTTP reads against HttpApi beside a live plug feed

The first run in a checkout builds the benchmark (sbt, perfbench/build.sbt)
from the repo's sources. The JVM side (graft.perfbench.Main) runs the
workload; this launcher times set-up, drives serve_live's request
generator and /api poller, checks outputs and prints the result as the
last line of stdout:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones (spans go to perfbench/.work/<workload>/spans*.jsonl).
A traced run must report every per-layer name its workload owns (see
per_layer()) or it fails; names another workload owns read 0. Its
tracing overhead is measured against the median of this checkout's
untraced runs of the same code and run length (kept in
perfbench/.work/untraced), or against an untraced run it makes first.

--record rewrites perfbench/digests/sf0.01.json from the current code; do it
only after graft.Verify plus scripts/check_local.py pass at sf0.01.

Tests of the benchmark's own logic:
    python3 -m unittest discover perfbench/tests
    (cd perfbench && sbt test)
"""
import argparse
import glob
import hashlib
import http.client
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, "data", "sf0.01")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("query_suite", "serve_live")
# every JVM of a run is killed this many seconds after the build
RUN_LIMIT_S = 175

# ---------------------------------------------------------------- metrics

END_TO_END = [
    # name, unit, better, bound (what each means per workload: workloads.json)
    ("setup_s", "s", "lower", 0.25),
    ("work_s", "s", "lower", 0.25),
    ("latency_ms", "ms", "lower", 0.25),
    ("heap_live_mb", "MB", "lower", 0.1),
]

FAMILIES = ["dedup", "sim", "text", "sample", "stats", "emb", "multimodal", "plug", "rel"]
PLUGS = ["podping", "polls", "hive_engine"]
CANDIDATES = ["dedup_span_removal", "sample_importance_resample"]
ROUTES = ["status", "counts", "latest", "active", "user", "ops"]
LIVE_PLUGS = ("podping", "hive_engine")


def per_layer():
    """(name, unit, better, owner) of every per-layer metric, in report
    order. The owner is the workload whose traced run measures it (None:
    both); a traced run must report every name it owns."""
    qs, sl = "query_suite", "serve_live"
    m = []
    for f in FAMILIES:
        m += [(f"suite.{f}.wall_s", "s", "lower", qs), (f"suite.{f}.plan_s", "s", "lower", qs),
              (f"suite.{f}.tasks", "count", "lower", qs), (f"suite.{f}.task_s", "s", "lower", qs),
              (f"suite.{f}.shuffle_mb", "MB", "lower", qs)]
    m += [("suite.jobs", "count", "lower", qs), ("suite.tasks", "count", "lower", qs),
          ("suite.cpu_s", "s", "lower", qs), ("suite.gc_s", "s", "lower", qs),
          ("suite.deser_s", "s", "lower", qs), ("suite.sched_delay_s", "s", "lower", qs),
          ("suite.spill_mb", "MB", "lower", qs), ("suite.idle_core_s", "s", "lower", qs)]
    m += [(f"q.{q}.task_s", "s", "lower", qs) for q in CANDIDATES]
    for p in PLUGS:
        m += [(f"ingest.{p}.batch_ms_p50", "ms", "lower", qs),
              (f"ingest.{p}.busy_s", "s", "lower", qs),
              (f"ingest.{p}.jobs_per_batch", "count", "lower", qs),
              (f"ingest.{p}.task_s", "s", "lower", qs),
              (f"ingest.{p}.mb_written", "MB", "lower", qs),
              (f"ingest.{p}.files", "count", "lower", qs),
              (f"ingest.{p}.rows_out", "count", "higher", qs),
              (f"ingest.{p}.useful_ratio", "ratio", "higher", qs)]
    m += [("ingest.one_core_blocks_per_s", "blocks/s", "higher", qs),
          ("ingest.idle_core_s", "s", "lower", qs),
          ("tail.cursor_ms_p50", "ms", "lower", sl), ("tail.commit_ms_p50", "ms", "lower", sl)]
    m += [("serve.gate_wait_ms_avg", "ms", "lower", sl), ("serve.exec_ms_avg", "ms", "lower", sl),
          ("serve.shed", "count", "lower", sl), ("serve.result_hit_ratio", "ratio", "higher", sl),
          ("serve.coalesced_ratio", "ratio", "higher", sl),
          ("serve.plan_hit_ratio", "ratio", "higher", sl),
          ("serve.index_hits", "count", "higher", sl), ("serve.index_builds", "count", "lower", sl),
          ("serve.hot_p50_ms", "ms", "lower", sl), ("serve.miss_p50_ms", "ms", "lower", sl),
          ("serve.tail_ms", "ms", "lower", sl), ("serve.tail_pct", "%", "higher", sl)]
    m += [(f"route.{r}.p50_ms", "ms", "lower", sl) for r in ROUTES]
    for p in LIVE_PLUGS:
        m += [(f"live.{p}.batch_ms_p50", "ms", "lower", sl),
              (f"live.{p}.jobs_per_batch", "count", "lower", sl),
              (f"live.{p}.task_s", "s", "lower", sl)]
    m += [("serve.jobs", "count", "lower", sl), ("serve.task_s", "s", "lower", sl),
          ("live.jobs", "count", "lower", sl), ("live.task_s", "s", "lower", sl),
          ("live.batches", "count", "higher", sl), ("live.blocks_per_batch", "count", "lower", sl),
          ("live.batch_ms_p50", "ms", "lower", sl),
          ("live.backlog_max_blocks", "count", "lower", sl),
          ("live.fresh_p95_ms", "ms", "lower", sl), ("live.feed_errors", "count", "lower", sl),
          ("gen.sent", "count", "higher", sl), ("gen.late_p99_ms", "ms", "lower", sl)]
    m += [("fail_ratio", "ratio", "lower", None), ("trace.spans", "count", "higher", None)]
    m += [(f"overhead.{n}", "ratio", "lower", None) for n, *_ in END_TO_END]
    return m


def owned(workload):
    """Per-layer names a traced run of `workload` must report."""
    return [n for n, _, _, o in per_layer() if o in (None, workload)]


def geomean(xs):
    """Geometric mean: every sample weighs by its ratio, so neither a
    cluster of fast samples nor one of slow ones decides it alone."""
    return math.exp(sum(math.log(max(x, 1e-6)) for x in xs) / len(xs))


# ----------------------------------------------------------- percentiles

LADDER = (0.999, 0.99, 0.95, 0.9, 0.75, 0.5)


def rank(n, p):
    """1-based nearest rank (same rule as graft.perfbench.Pct)."""
    return min(n, max(1, math.ceil(p * n - 1e-9)))


def pct(xs, p):
    return sorted(xs)[rank(len(xs), p) - 1]


def tail(xs):
    """(level, value): the highest ladder percentile with >= 10 samples beyond."""
    p = next((p for p in LADDER if len(xs) - rank(len(xs), p) >= 10), 0.5)
    return p, pct(xs, p)


# ------------------------------------------------------------------ build

def sources_newer_than(path):
    stamp = os.path.getmtime(path)
    for pattern in ("src/main/**/*", "perfbench/src/main/**/*", "perfbench/build.sbt"):
        for f in glob.glob(os.path.join(ROOT, pattern), recursive=True):
            if os.path.isfile(f) and os.path.getmtime(f) > stamp:
                return True
    return False


def build():
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: the repo sources (src/main/scala/graft) are missing")
    if os.path.exists(CLASSPATH) and not sources_newer_than(CLASSPATH):
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        sys.exit("perfbench: build failed")


# ---------------------------------------------------------------- the JVM

ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


class Jvm:
    """graft.perfbench.Main as a child process speaking the line protocol."""

    def __init__(self, workload, seed, seconds, trace, work, deadline, extra=()):
        self.workload = workload
        with open(CLASSPATH) as f:
            cp = f.read().strip()
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        cmd = ["java", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
        for m in ADD_OPENS:
            cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
        cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", workload, "--seed", str(seed),
                "--seconds", str(seconds), "--trace", str(trace), "--data", DATA,
                "--work", work, *extra]
        self.t0 = time.monotonic()
        # Spark's scratch space stays inside the checkout
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        self.proc = subprocess.Popen(cmd, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                     stderr=sys.stderr, text=True, cwd=work, env=env)
        self.killer = threading.Timer(max(1.0, deadline - time.monotonic()), self.proc.kill)
        self.killer.daemon = True
        self.killer.start()

    def expect(self, prefix):
        for line in self.proc.stdout:
            if line.startswith(prefix):
                return line[len(prefix):].strip()
        raise RuntimeError(f"JVM exited before '{prefix}' (rc={self.proc.wait()})")

    def send(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def result(self):
        r = json.loads(self.expect("RESULT"))
        rc = self.proc.wait()
        self.killer.cancel()
        if rc != 0:
            raise RuntimeError(f"JVM exited {rc}")
        return r

    def close(self):
        self.killer.cancel()
        if self.proc.poll() is None:
            self.proc.kill()
        self.proc.wait()


# ------------------------------------------------------------ serve_live

REQ_PER_S = 8.0
CONNECTIONS = 4
POLL_EVERY_S = 0.2
# the hot key set, one path per route (the JVM warms the same paths): repeated
# requests that hit the result cache, the plan cache and PointIndex; their
# bytes are checked against an idle sequential request
HOT = {
    "counts": "/api/podping/history/counts",
    "latest": "/api/podping/feeds/latest?url=url_1",
    "active": "/api/polls/active",
    "user": "/api/polls/owner_1",
    "ops": "/api/polls/ops?block_range=%5B0,2000000%5D&op_type=create",
}


def schedule(seed, n):
    """The seed's request list. Every fourth request is a fresh block_range
    window (random, 45,000 of them, so it misses the result and plan
    caches), alternating counts and ops; the others are hot keys of a
    seeded route. Hits are cheap and jittery, so they get three times the
    samples; latency_ms weighs both kinds equally. /api is the poller's
    route, so the hot keys skip it."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        if i % 4:
            route = rng.choice(list(HOT))
            out.append((route, HOT[route], True))
            continue
        lo = rng.randrange(0, 900)
        hi = lo + rng.randrange(50, 100)
        if i % 8 == 0:
            out.append(("counts", f"/api/podping/history/counts?block_range=%5B{lo},{hi}%5D", False))
        else:
            out.append(("ops", f"/api/polls/ops?block_range=%5B{lo},{hi}%5D&op_type=create", False))
    return out


class Client:
    def __init__(self, port):
        self.port = port
        self.conn = None

    def get(self, path):
        # a kept-alive connection the server closed while idle is reopened
        # once; a failure on a fresh connection is the request's
        reused = self.conn is not None
        try:
            if self.conn is None:
                self.conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
            self.conn.request("GET", path)
            r = self.conn.getresponse()
            return r.status, r.read()
        except (http.client.HTTPException, ConnectionError):
            self.conn = None
            if not reused:
                raise
            return self.get(path)

    def close(self):
        if self.conn is not None:
            self.conn.close()


def open_loop(n, rate, connections, t0, send):
    """Send request i at t0 + i / rate over `connections` workers, whatever
    happened to earlier requests. Returns (i, due, sent, end, result) per
    request; latency is end - due, so a stall also charges the requests
    queued behind it."""
    lock = threading.Lock()
    next_i = [0]
    out = []

    def worker():
        while True:
            with lock:
                i = next_i[0]
                next_i[0] += 1
            if i >= n:
                return
            due = t0 + i / rate
            time.sleep(max(0.0, due - time.time()))
            sent = time.time()
            res = send(i)
            end = time.time()
            with lock:
                out.append((i, due, sent, end, res))

    threads = [threading.Thread(target=worker) for _ in range(connections)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(out)


def response_ok(hot, code, body, idle):
    """A response passes if it is a 200 and, for a hot key, carries the
    same bytes as the idle sequential request."""
    return code == 200 and (not hot or body == idle)


def freshness(polls, plug, t0, end_all, first_live, blocks_per_s):
    """ms from each block's release to the first /api poll showing it;
    blocks never shown count until the end of the run. Block first_live + i
    is released at t0 + (i + 1) / blocks_per_s."""
    out = []
    b = first_live
    while True:
        rel = t0 + (b - first_live + 1) / blocks_per_s
        if rel > end_all - 2.0:
            return out
        seen = next((e for e, lt, *_ in polls if e >= rel and lt.get(plug, -1) >= b), None)
        out.append(((seen if seen is not None else end_all) - rel) * 1000)
        b += 1


def drive_serve(jvm, setup, seed, seconds, spans):
    """Open-loop generator plus /api poller; returns (attempted, failed, metrics)."""
    port, first_live, blocks_per_s = setup.split()
    port, first_live, blocks_per_s = int(port), int(first_live), float(blocks_per_s)
    idle = {}
    c = Client(port)
    for p in HOT.values():
        code, body = c.get(p)
        idle[p] = body if code == 200 else None
    c.close()

    n = int(REQ_PER_S * seconds)
    reqs = schedule(seed, n)
    t0 = time.time() + 0.3
    jvm.send(f"GO {int(t0 * 1000)}")
    problems = []
    clients = threading.local()

    def send(i):
        if not hasattr(clients, "c"):
            clients.c = Client(port)
        route, path, hot = reqs[i]
        try:
            code, body = clients.c.get(path)
        except Exception as e:  # a dropped connection is a failed request
            code, body = -1, repr(e).encode()
        ok = response_ok(hot, code, body, idle.get(path))
        if not ok:
            problems.append(f"{path}: {code} {body[:200]!r}")
        return ok

    polls = []  # (end, {plug: latest}, ok, ms)

    def poller():
        cl = Client(port)
        last = {}
        k = -1
        while True:
            # a slow answer skips the slots it overran: one poll in flight
            k = max(k + 1, math.ceil((time.time() - t0) / POLL_EVERY_S))
            due = t0 + k * POLL_EVERY_S
            if due > t0 + seconds:
                break
            time.sleep(max(0.0, due - time.time()))
            start = time.time()
            code, body = cl.get("/api")
            end = time.time()
            latest = {}
            ok = code == 200
            if ok:
                plugs = json.loads(body)["status"]["plugs"]
                for p in LIVE_PLUGS:
                    b = plugs[p]["latest_block_num"]
                    latest[p] = -1 if b is None else b
                    if latest[p] < last.get(p, -1):
                        ok = False
                        problems.append(f"/api {p} went back: {last[p]} -> {latest[p]}")
                last.update(latest)
            else:
                problems.append(f"/api poll: {code}")
            polls.append((end, latest, ok, (end - start) * 1000))
        cl.close()

    pt = threading.Thread(target=poller)
    pt.start()
    done = open_loop(n, REQ_PER_S, CONNECTIONS, t0, send)
    pt.join()
    jvm.send("STOP")
    end_all = time.time()
    for p in problems[:10]:
        print(f"[perfbench] serve check failed: {p}", file=sys.stderr)
    for i, due, sent, end, _ in done:
        spans.append({"name": "HttpApi." + reqs[i][0], "req": f"r{i}",
                      "due": due, "start": sent, "end": end})

    lat = [(end - due) * 1000 for _, due, _, end, _ in done]
    # hits answer in milliseconds and fresh requests run Spark jobs: a median
    # over both would sit on the gap between the two, so the gated latency
    # is the geometric mean of the two kinds' geometric means (a change to
    # either moves it) and each kind has its own per-layer median
    miss = [(end - due) * 1000 for i, due, _, end, _ in done if not reqs[i][2]]
    hot = [(end - due) * 1000 for i, due, _, end, _ in done if reqs[i][2]]
    late = [(sent - due) * 1000 for _, due, sent, _, _ in done]
    failed = sum(1 for *_, ok in done if not ok) + sum(1 for _, _, ok, _ in polls if not ok)
    fresh = [x for p in LIVE_PLUGS
             for x in freshness(polls, p, t0, end_all, first_live, blocks_per_s)]
    if not fresh:
        fresh = [seconds * 1000.0]
    tail_p, tail_v = tail(lat)
    m = {"latency_ms": geomean([geomean(hot), geomean(miss)]), "work_s": geomean(fresh) / 1000,
         "serve.hot_p50_ms": pct(hot, 0.5), "serve.miss_p50_ms": pct(miss, 0.5),
         "serve.tail_ms": tail_v, "serve.tail_pct": tail_p * 100,
         "live.fresh_p95_ms": pct(fresh, 0.95), "gen.sent": float(len(done)),
         "gen.late_p99_ms": pct(late, 0.99)}
    print(f"[perfbench] serve: {len(hot)} hot, geomean {geomean(hot):.1f} ms; {len(miss)} fresh, "
          f"geomean {geomean(miss):.1f} ms; {len(fresh)} blocks, freshness geomean "
          f"{geomean(fresh) / 1000:.2f} s", file=sys.stderr)
    for r in HOT:
        xs = [(end - due) * 1000 for i, due, _, end, _ in done if reqs[i][0] == r]
        m[f"route.{r}.p50_ms"] = pct(xs, 0.5) if xs else 0.0
    m["route.status.p50_ms"] = pct([ms for *_, ms in polls], 0.5)
    if max(late) > 1000:
        print(f"[perfbench] generator ran late: max {max(late):.0f} ms", file=sys.stderr)
    return len(done) + len(polls), failed, m


# ------------------------------------------------------------------- main

def run_workload(args, work, trace, deadline, extra=(), jvm_workload=None):
    jvm = Jvm(jvm_workload or args.workload, args.seed, args.seconds, trace, work, deadline,
              extra)
    try:
        setup = jvm.expect("SETUP_DONE")
        setup_s = time.monotonic() - jvm.t0
        attempted, failed, m = 0, 0, {}
        spans = []
        if jvm.workload == "serve_live":
            attempted, failed, m = drive_serve(jvm, setup, args.seed, args.seconds, spans)
        t_measured = time.monotonic() - jvm.t0
        r = jvm.result()
        t_result = time.monotonic() - jvm.t0
    finally:
        jvm.close()
    print(f"[perfbench] {jvm.workload}: set-up {setup_s:.1f} s, measured until {t_measured:.1f} s, "
          f"result at {t_result:.1f} s, exit at {time.monotonic() - jvm.t0:.1f} s", file=sys.stderr)
    if spans and trace:
        with open(os.path.join(work, "spans_gen.jsonl"), "w") as f:
            for s in spans:
                f.write(json.dumps(s) + "\n")
    metrics = dict(r["metrics"], **m, setup_s=setup_s)
    metrics["trace.spans"] = metrics.get("trace.spans", 0) + len(spans)
    attempted += r["attempted"]
    failed += r["failed"]
    if jvm.workload == "serve_live" and metrics.get("live.backlog_max_blocks", 0) > 10:
        print(f"[perfbench] live backlog grew to {metrics['live.backlog_max_blocks']:.0f} "
              "blocks: the offered block rate is not sustained", file=sys.stderr)
    return attempted, failed, metrics


def fingerprint():
    """Hash of the code a run executes: the repo's main sources and the
    benchmark's own. A tracing-overhead baseline must come from the same."""
    h = hashlib.sha1()
    files = [os.path.join(HERE, "run.py"), os.path.join(HERE, "build.sbt")]
    for pattern in ("src/main/**/*", "perfbench/src/main/**/*"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    for f in sorted(f for f in files if os.path.isfile(f)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def untraced_baseline(args, code):
    """Median end-to-end metrics of this checkout's untraced runs of the
    workload with the same code and run length, or None."""
    runs = []
    for f in glob.glob(os.path.join(HERE, ".work", "untraced", args.workload, "*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if r["code"] == code and r["seconds"] == args.seconds:
            runs.append(r["metrics"])
    if not runs:
        return None
    return {n: statistics.median(r[n] for r in runs) for n, *_ in END_TO_END}


def main():
    # a terminated launcher still stops its JVM (the finally blocks run)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="query_suite: record output digests instead of checking them")
    args = ap.parse_args()

    build()
    code = fingerprint()
    deadline = time.monotonic() + RUN_LIMIT_S
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra = ("--record", "1") if args.record else ()
    base = None
    if args.trace:
        base = untraced_baseline(args, code)
        if base is None:
            # no untraced run of this code yet: measure one first
            print("[perfbench] no untraced baseline of this code: running one", file=sys.stderr)
            _, _, m = run_workload(args, os.path.join(work, "untraced"), 0, deadline, extra)
            base = {n: m[n] for n, *_ in END_TO_END}
    attempted, failed, metrics = run_workload(args, work, args.trace, deadline, extra)
    if args.trace:
        if args.workload == "query_suite":
            # the single-core baseline: catch-up ingest of an op-log prefix
            # through all three plugs at local[1] (writes only, no HTTP)
            one = os.path.join(work, "one_core")
            os.makedirs(one)
            a, f, m = run_workload(args, one, 1, deadline, ("--cores", "1"),
                                   jvm_workload="catchup")
            attempted += a
            failed += f
            metrics.update({k: v for k, v in m.items() if k.startswith("ingest.")})
        # tracing overhead: this traced run against the untraced runs
        for n, *_ in END_TO_END:
            metrics[f"overhead.{n}"] = metrics[n] / base[n] - 1
        metrics["fail_ratio"] = failed / max(1, attempted)
        mine = owned(args.workload)
        missing = [n for n in mine if n not in metrics]
        if missing:
            sys.exit(f"perfbench: {args.workload} did not report {', '.join(missing)}")
        # names another workload owns are not measured here: reported as 0
        out = {n: {"value": float(metrics[n]) if n in mine else 0.0, "unit": u}
               for n, u, _, _ in per_layer()}
    else:
        missing = [n for n, *_ in END_TO_END if n not in metrics]
        if missing:
            sys.exit(f"perfbench: {args.workload} did not report {', '.join(missing)}")
        keep = os.path.join(HERE, ".work", "untraced", args.workload)
        os.makedirs(keep, exist_ok=True)
        with open(os.path.join(keep, f"{args.seed}.json"), "w") as f:
            json.dump({"code": code, "seconds": args.seconds,
                       "metrics": {n: metrics[n] for n, *_ in END_TO_END}}, f)
        out = {n: {"value": float(metrics[n]), "unit": u} for n, u, _, _ in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))


if __name__ == "__main__":
    main()
