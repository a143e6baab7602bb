#!/usr/bin/env python3
"""End-to-end benchmark of the graft Spark engine.

Builds the program and the harness from source, runs one workload in a
fresh JVM, checks every output (query results against the DuckDB
oracle, sensor windows against the reference's 10-per-window
invariant) and prints the metrics. The last stdout line is one JSON
object: {"correct", "attempted", "failed", "metrics"}.

  python3 perfbench/run.py --workload stream_replay --seed 1 --seconds 20 --trace 0

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones
(and keeps the spans for perfbench/report.py). Exit code 1 means an
output was wrong; 2 means the benchmark could not run.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HERE = ROOT / "perfbench"
SPARK_JARS = Path(os.environ.get("SPARK_HOME", "/opt/spark")) / "jars"
# Read-only fixture tables the queries run on (TESTDATA.md).
DATA_DIR = os.environ.get("PERFBENCH_DATA_DIR", "/root/testdata/sf0.01")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
WORKLOADS = ("stream_replay", "sensor_live")
# stream_replay runs on all cores; sensor_live leaves one core to the
# generator thread.
CORES = os.cpu_count() or 4
# Spark on JDK 17 outside spark-submit needs these (build.sbt).
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build(out):
    """Compiles src/main/scala and perfbench/src with the Scala compiler
    that ships in the Spark jars; reuses the classes while no source
    changed."""
    entry = ROOT / "src/main/scala/graft/SparkEntry.scala"
    if not entry.is_file():
        fail(f"program sources not found under {ROOT}")
    if not SPARK_JARS.is_dir():
        fail(f"Spark jars not found at {SPARK_JARS}")
    srcs = sorted((ROOT / "src/main/scala").rglob("*.scala")) + sorted((HERE / "src").glob("*.scala"))
    digest = hashlib.sha256()
    for s in srcs:
        digest.update(str(s.relative_to(ROOT)).encode() + b"\0" + s.read_bytes() + b"\0")
    stamp, classes = out / "classes.sha256", out / "classes"
    if classes.is_dir() and stamp.is_file() and stamp.read_text() == digest.hexdigest():
        return classes, False
    scala = [str(p) for name in ("compiler", "library", "reflect")
             for p in sorted(SPARK_JARS.glob(f"scala-{name}-2.13*.jar"))]
    if len(scala) != 3:
        fail(f"Scala 2.13 compiler jars not found in {SPARK_JARS}")
    tmp = out / "classes.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    argfile = out / "scalac.args"
    argfile.write_text("\n".join(str(s) for s in srcs) + "\n")
    jars = ":".join(str(j) for j in sorted(SPARK_JARS.glob("*.jar")))
    t0 = time.time()
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(scala),
                        "scala.tools.nsc.Main", "-usejavacp:false", "-nowarn",
                        "-classpath", jars, "-d", str(tmp), f"@{argfile}"],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        fail("build failed:\n" + r.stdout[-4000:])
    shutil.rmtree(classes, ignore_errors=True)
    tmp.rename(classes)
    stamp.write_text(digest.hexdigest())
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)
    return classes, True


def run_harness(a, classes, work, timeout):
    for d in ("tmp", "local", "eph"):
        (work / d).mkdir(parents=True)
    env = dict(os.environ,
               SPARK_GRAFT_EPHEMERAL_DIR=str(work / "eph"),
               SPARK_LOCAL_DIRS=str(work / "local"))
    cores = a.cores or (CORES - 1 if a.workload == "sensor_live" else CORES)
    cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", "-Xmx4g", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Harness",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), DATA_DIR,
           str(work), str(max(1, cores))]
    with open(work / "jvm.log", "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                               env=env, cwd=work, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness timed out after {timeout:.0f} s; log: {work / 'jvm.log'}")
    if r.returncode != 0 or not (work / "raw.json").is_file():
        tail = (work / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"harness exited with {r.returncode}:\n{tail}")
    return json.loads((work / "raw.json").read_text())


def cpu_jiffies():
    """(steal, total) CPU time of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return v[7], sum(v)


# ---- output check -------------------------------------------------------

def strict_hash(df):
    """The oracle fingerprint of scripts/check_oracle.py: columns sorted
    by name, values stringified, rows sorted, md5."""
    df = df[sorted(df.columns)]
    rows = sorted("|".join(r) for r in df.astype(str).itertuples(index=False))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def data_identity():
    return {t: os.path.getsize(f"{DATA_DIR}/{t}.parquet") for t in TABLES
            if os.path.exists(f"{DATA_DIR}/{t}.parquet")}


def oracle_key(sql):
    return hashlib.sha256(sql.encode()).hexdigest()[:24]


class Oracle:
    """DuckDB oracle fingerprints, cached in the build dir by SQL text
    for the fixture they were computed on."""

    def __init__(self, cache_file):
        self.cache_file, self.ident, self.con = cache_file, data_identity(), None
        self.fps = {}
        if cache_file.is_file():
            c = json.loads(cache_file.read_text())
            if c.get("data") == self.ident:
                self.fps = c["fingerprints"]
        self.dirty = False

    def fingerprint(self, sql):
        k = oracle_key(sql)
        if k not in self.fps:
            if self.con is None:
                import duckdb
                self.con = duckdb.connect()
                for t in self.ident:
                    self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                     f"read_parquet('{DATA_DIR}/{t}.parquet')")
            self.fps[k] = strict_hash(self.con.execute(sql).df())
            self.dirty = True
        return self.fps[k]

    def save(self):
        if self.dirty:
            self.cache_file.write_text(json.dumps(
                {"data": self.ident, "fingerprints": self.fps}, sort_keys=True))


def check_queries(raw, work, oracle):
    """Names of sampled queries whose result differs from the oracle."""
    import pyarrow.parquet as pq
    bad = []
    for name, sql in sorted(raw["oracle_sql"].items()):
        files = sorted((work / "out" / name).glob("*.parquet"))
        try:
            got = strict_hash(pq.read_table([str(f) for f in files]).to_pandas())
        except Exception as e:  # unreadable result counts as a mismatch
            got = f"unreadable: {e}"
        if got != oracle.fingerprint(sql):
            bad.append(name)
    missing = {o["name"] for o in raw["ops"] if o["ok"]} - set(raw["oracle_sql"])
    return bad + sorted(missing)


# ---- metrics ------------------------------------------------------------

# StreamingQueryProgress durations the tracer sums per span.
STREAMING_MS = ("add_batch", "wal_commit", "commit_offsets", "latest_offset",
                "query_planning", "trigger", "state_commit")


# The tail percentile of sensor latencies. The samples come in clumps
# (every window one micro-batch emits shares its receive time), so a
# higher percentile is the one worst micro-batch of a run: p99.7 spread
# 30-45% between runs.
TAIL_PCT = 90


def tail(xs):
    """The TAIL_PCT-th percentile, by nearest rank."""
    s = sorted(xs)
    return s[math.ceil(TAIL_PCT / 100 * len(s)) - 1]


def quantile(xs, q):
    s = sorted(xs)
    return s[min(len(s) - 1, int(q * len(s)))]


def query_metrics(raw, mismatched):
    failed = sum(1 for o in raw["ops"] if not o["ok"] or o["name"] in mismatched)
    ops = [o for o in raw["ops"] if not o["traced"]]
    walls = [o["wall_s"] for o in ops if o["ok"] and o["name"] not in mismatched]
    if not walls:
        fail("no query completed correctly")
    p50 = statistics.median(walls)
    # A pass holds one query of each sampled twin, so a run has only ~16
    # samples; the tail is the median over passes of a pass's slowest
    # query.
    slowest = defaultdict(float)
    for o in ops:
        if o["ok"] and o["name"] not in mismatched:
            slowest[o["pass"]] = max(slowest[o["pass"]], o["wall_s"])
    t = statistics.median(slowest.values())
    e2e = {"lat_p50_ms": (1000 * p50, "ms"), "lat_tail_ms": (1000 * t, "ms"),
           "ops_per_s": (len(walls) / sum(o["wall_s"] for o in ops), "1/s")}
    shown = {"query_p50_s": (p50, "s"), f"query_tail_s (median slowest of {len(slowest)} passes)": (t, "s"),
             "queries_per_s": (e2e["ops_per_s"][0], "1/s")}
    return len(raw["ops"]), failed, e2e, shown


def sensor_metrics(raw):
    ref, high, sat = raw["ref"], raw["high"], raw["sat"]
    if not (ref["latency_ms"] and high["latency_ms"]):
        fail("the open-loop phases were too short to give latency samples")
    attempted = sum(p["windows_expected"] for p in (ref, high, sat))
    failed = sum(p["windows_bad"] for p in (ref, high, sat))
    if not sat["trigger_s"]:
        fail("the saturation phase completed no micro-batch")
    rows_per_s = sat["input_rows"] / sat["trigger_s"]
    rp50, rt = statistics.median(ref["latency_ms"]), tail(ref["latency_ms"])
    hp50, ht = statistics.median(high["latency_ms"]), tail(high["latency_ms"])
    # The reference rate closes two windows a second (one micro-batch per
    # pair), too few per run for a steady figure; the gated latencies
    # are the high rate's.
    e2e = {"lat_p50_ms": (hp50, "ms"), "lat_tail_ms": (ht, "ms"),
           "ops_per_s": (rows_per_s, "1/s")}
    shown = {"ref_lat_p50_ms": (rp50, "ms"),
             f"ref_lat_tail_ms (p{TAIL_PCT} of {len(ref['latency_ms'])})": (rt, "ms"),
             "high_lat_p50_ms": (hp50, "ms"),
             f"high_lat_tail_ms (p{TAIL_PCT} of {len(high['latency_ms'])})": (ht, "ms"),
             "sensor_max_rows_per_s": (rows_per_s, "1/s")}
    return attempted, failed, e2e, shown


def span_summary(spans):
    """Span count and total seconds per span name; listener counter
    deltas summed over root spans, so nested spans are not counted twice
    (peaks take the maximum); and the traced twins with the memo hits
    among them (twins whose build started no streaming query)."""
    count, total_s, counters = defaultdict(int), defaultdict(float), defaultdict(float)
    twins = hits = 0
    for s in spans:
        count[s["name"]] += 1
        total_s[s["name"]] += (s["end_ns"] - s["start_ns"]) / 1e9
        if s["parent"] == 0:
            for k, v in s["counters"].items():
                counters[k] = max(counters[k], v) if "peak" in k else counters[k] + v
        if s["name"] == "queries.build" and s["op"].startswith("stream_"):
            twins += 1
            hits += s["counters"].get("streaming.replays", 0) == 0
    return {"count": count, "total_s": total_s, "counters": counters,
            "twins": twins, "hits": hits}


def layer_metrics(raw, trace):
    """Per-layer metrics from the spans and the raw record."""
    t = span_summary(trace["spans"])
    dur, ctr, twins = t["total_s"], t["counters"], t["twins"]
    op_s = dur["op"]
    m = {
        "trace.ops": t["count"]["op"],
        "queries.build_s": dur["queries.build"],
        "queries.build_share": dur["queries.build"] / op_s if op_s else 0.0,
        "artifacts.twins": twins,
        "artifacts.hit_ratio": t["hits"] / twins if twins else 0.0,
        "artifacts.build_s": ctr["artifacts.build_ms"] / 1e3,
        "spark.plan_s": dur["spark.plan"],
        "spark.exec_s": dur["spark.exec"],
        "spark.jobs": ctr["spark.jobs"],
        "spark.stages": ctr["spark.stages"],
        "spark.tasks": ctr["spark.tasks"],
        "spark.task_run_s": ctr["spark.task_run_ms"] / 1e3,
        "spark.task_cpu_s": ctr["spark.task_cpu_ns"] / 1e9,
        "spark.task_gc_s": ctr["spark.task_gc_ms"] / 1e3,
        "spark.task_wait_s": ctr["spark.task_wait_ms"] / 1e3,
        "spark.shuffle_read_bytes": ctr["spark.shuffle_read_bytes"],
        "spark.shuffle_write_bytes": ctr["spark.shuffle_write_bytes"],
        "spark.spill_bytes": ctr["spark.spill_bytes"],
        "spark.peak_exec_mem_bytes": ctr["spark.peak_exec_mem_bytes"],
    }
    for k in ("replays", "micro_batches", "state_rows", "state_mem_bytes"):
        m[f"streaming.{k}"] = ctr[f"streaming.{k}"]
    for k in STREAMING_MS:
        m[f"streaming.{k}_ms"] = ctr[f"streaming.{k}_ms"]

    high = raw.get("high")
    if high:
        late = raw["ref"]["gen_late_ms"] + high["gen_late_ms"]
        m.update({"gen.late_ms": quantile(late, 0.99),
                  "sensor.backlog_rows": max(high["backlog_rows"]),
                  "sensor.input_rows_per_s": high["input_rows"] / high["gen_s"],
                  "sensor.processed_rows_per_s": high["input_rows"] / high["trigger_s"],
                  "sensor.ref_lat_p50_ms": statistics.median(raw["ref"]["latency_ms"]),
                  "sensor.ref_lat_max_ms": max(raw["ref"]["latency_ms"])})
        u, t = raw["sat_untraced"], raw["sat"]
        overhead = (u["input_rows"] / u["trigger_s"]) / (t["input_rows"] / t["trigger_s"]) - 1
    else:
        m.update({k: 0.0 for k in ("gen.late_ms", "sensor.backlog_rows", "sensor.input_rows_per_s",
                                   "sensor.processed_rows_per_s", "sensor.ref_lat_p50_ms",
                                   "sensor.ref_lat_max_ms")})
        traced = sum(o["wall_s"] for o in raw["ops"] if o["traced"])
        untraced = sum(o["wall_s"] for o in raw["ops"] if not o["traced"])
        overhead = traced / untraced - 1
    m["jvm.gc_s"] = raw["jvm_gc_s"]
    m["host.steal_frac"] = raw["host_steal_frac"]
    m.update({f"leak.{k}": v for k, v in raw["leak"].items()})
    m["trace_overhead_frac"] = overhead
    return m


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=0,
                   help="Spark local cores (default: all; sensor_live one fewer)")
    a = p.parse_args()
    t0 = time.time()

    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build") / "perfbench"
    out.mkdir(parents=True, exist_ok=True)
    classes, built = build(out)
    if a.workload != "sensor_live" and not all(
            os.path.exists(f"{DATA_DIR}/{t}.parquet") for t in TABLES):
        fail(f"fixture tables not found in {DATA_DIR}")
    work = out / "runs" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    budget = (900 if built else 180) - (time.time() - t0) - 30
    steal0, total0 = cpu_jiffies()
    raw = run_harness(a, classes, work, budget)
    steal1, total1 = cpu_jiffies()
    # Share of this machine's CPU time its hypervisor gave to other
    # guests while the harness ran; on a shared host it explains much of
    # the spread between runs.
    raw["host_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)

    if a.workload == "sensor_live":
        attempted, failed, e2e, shown = sensor_metrics(raw)
        mismatched = []
    else:
        oracle = Oracle(out / "oracle_cache.json")
        mismatched = check_queries(raw, work, oracle)
        oracle.save()
        attempted, failed, e2e, shown = query_metrics(raw, set(mismatched))
    e2e["setup_s"] = (raw["setup_s"], "s")
    e2e["retained_heap_mb"] = (raw["retained_heap_mb"], "MB")

    if a.trace:
        trace = json.loads((work / "trace.json").read_text())
        (out / "traces").mkdir(exist_ok=True)
        shutil.copy(work / "trace.json", out / "traces" / f"{a.workload}-seed{a.seed}.json")
        metrics = {k: {"value": float(v), "unit": unit_of(k)}
                   for k, v in layer_metrics(raw, trace).items()}
    else:
        metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
        for k, (v, u) in {**shown, "setup_s": e2e["setup_s"],
                          "failed_frac": (failed / attempted, "frac"),
                          "retained_heap_mb": e2e["retained_heap_mb"],
                          "host_steal_frac": (raw["host_steal_frac"], "frac")}.items():
            print(f"{a.workload:14s} {k:34s} {v:14.4f} {u}")
    for name in mismatched:
        print(f"oracle mismatch: {name}", file=sys.stderr)
    for o in raw.get("ops", []):
        if not o["ok"]:
            print(f"failed: {o['name']}: {o['error']}", file=sys.stderr)
    correct = not mismatched and failed == 0
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


def unit_of(name):
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_share", "_ratio")):
        return "frac"
    return "count"


if __name__ == "__main__":
    main()
