#!/usr/bin/env python3
"""Run one benchmark workload against graft, check its outputs, print metrics.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 20 --trace 0

Run from the repository root.  The first run compiles ``src/main/scala``
and the harness under ``perfbench/harness`` with the Scala compiler that
ships in the Spark jars (``$SPARK_HOME/jars``, or those of ``spark-submit``
on ``PATH``) into ``.bench_build`` (or ``$CARGO_TARGET_DIR``), one
directory per source digest; later runs reuse the classes while the
sources are unchanged.  Every metric is printed with its unit; the last
stdout line is one compact JSON summary, and the full detail goes to
``perfbench/out/<workload>-seed<seed>-trace<t>.json``.  See
``perfbench/NOTES.md`` for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# The pinned olap query list: single-pass queries (one per family: cdc,
# rel, text, mm, graph, dedup, sim, corpus), then queries whose DataFrame
# construction runs eager driver loops.  The seed only permutes the order
# in each pass.
OLAP_DRIVER_LOOP = ["dedup_components_incremental", "graph_bfs"]
OLAP = ["cdc_enrich", "rel_approx_sketches", "text_tokens", "mm_decode_png", "graph_degrees",
        "dedup_weighted_jaccard", "sim_ann_brute", "corpus_source_stats"] + OLAP_DRIVER_LOOP
OLAP_SF = 0.01
# An olap pass after the warm pass took about this long on a 4-core VM at
# the commit the benchmark was written against.  Every run makes the same
# number of timed passes, round(--seconds / OLAP_PASS_S), so that runs
# measure the same work.
OLAP_PASS_S = 8.5
# cdc_stream: CDC_WARM_DRAINS untimed, then CDC_TIMED_DRAINS timed restart
# catch-ups of CDC_BACKLOG lines each, then a tail of CDC_TAIL_SHARE of
# --seconds at CDC_RATE events/s.  The reference's topic has 2 partitions
# and Canal ships 50 records per batch (SURVEY.md section 6).
CDC_WARM_DRAINS, CDC_TIMED_DRAINS, CDC_BACKLOG = 1, 7, 20000
CDC_TAIL_SHARE = 0.42
CDC_RATE = 2000
CDC_PARTITIONS, CDC_CANAL_BATCH = 2, 50
CDC_RESTART_FILES, CDC_RESTART_LINES = 4, 1000
CDC_BACKLOGS = CDC_WARM_DRAINS + CDC_TIMED_DRAINS
# On cdc_stream latency_ms and latency_tail_ms are freshness p50 and p95.
# An olap run holds too few query samples for a tail percentile with ten
# samples beyond it, and a percentile over a mix of queries jumps between
# them, so there they are the geometric mean of the per-query medians and
# the slowest query's median.
JVM_HEAP = "3g"
RUN_TIMEOUT_S = 170

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("latency_ms", "ms"),
              ("latency_tail_ms", "ms"), ("ok_ratio", "ratio")]
SPAN_NAMES = ["pass", "sources.open", "query", "build", "plan", "exec",
              "sources.dim_read", "cdc.backfill", "cdc.tail", "sinks.write", "codec"]


def per_layer_names():
    names = [("sources.open_s", "s"), ("sources.open_jobs", "count"), ("sources.dim_read_s", "s"),
             ("build.s", "s"), ("build.jobs", "count")]
    for q in OLAP_DRIVER_LOOP:
        names += [(f"build.s.{q}", "s"), (f"build.jobs.{q}", "count")]
    names += [("plan.s", "s"), ("exec.s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
              ("exec.tasks", "count"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"),
              ("exec.shuffle_read_mb", "MB"), ("exec.shuffle_write_mb", "MB"),
              ("exec.spill_mb", "MB"),
              ("codec.s", "s"), ("codec.envelopes_in", "count"), ("codec.rows_out", "count"),
              ("codec.dead_letters", "count"), ("codec.useful_ratio", "ratio"),
              ("streaming.trigger_p50_ms", "ms"), ("streaming.addbatch_p50_ms", "ms"),
              ("streaming.planning_p50_ms", "ms"), ("streaming.walcommit_p50_ms", "ms"),
              ("streaming.commit_p50_ms", "ms"), ("streaming.batches", "count"),
              ("streaming.backlog_end_rows", "count"), ("streaming.generator_lag_ms", "ms"),
              ("sinks.write_p50_ms", "ms"), ("sinks.rows_in", "count"),
              ("sinks.rows_written", "count"), ("sinks.compaction_ratio", "ratio"),
              ("sinks.jobs_per_batch", "count")]
    return names


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def spark_jars():
    """The Spark distribution's jars: ``$SPARK_HOME/jars``, else the first
    ``<dir>/../jars`` next to a ``spark-submit`` on ``PATH`` that has any."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if jars:
            return jars
    fail("no Spark jars found: set SPARK_HOME")


def compile_once(srcs, out, classpath):
    """Compile ``srcs`` into the class directory ``out`` unless it exists.

    The classes go to a private directory first, which is then renamed into
    place, so a concurrent run never sees a half-written build.  Builds of
    other sources stay: checkouts that share the build directory keep
    theirs."""
    if os.path.isdir(out):
        return
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    compiler = [j for j in spark_jars()
                if os.path.basename(j).startswith(("scala-compiler", "scala-library", "scala-reflect"))]
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-classpath", ":".join(classpath), "-d", tmp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compilation into {out} failed")
    try:
        os.rename(tmp, out)
    except OSError:  # a concurrent run put the same build in place first
        shutil.rmtree(tmp, ignore_errors=True)


def sources_digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def java_cmd(classpath, work, args):
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap size, so that no run sizes its heap differently
    return (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={work}/tmp",
             f"-Dderby.system.home={work}/derby", f"-Dderby.stream.error.file={work}/derby.log",
             f"-Dlog4j2.configurationFile={os.path.join(HERE, 'harness', 'log4j2.properties')}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", ":".join(classpath), "graftbench.Main", "--work", work] + args)


def build(build_dir):
    """Compile graft, then the harness against it.  Returns the classpath."""
    graft_srcs = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    if not graft_srcs:
        fail("no graft sources under src/main/scala; run from the repository root")
    harness_srcs = sorted(glob.glob(os.path.join(HERE, "harness", "**", "*.scala"), recursive=True))
    jars = spark_jars()
    graft = os.path.join(build_dir, "graft-" + sources_digest(graft_srcs))
    harness = os.path.join(build_dir, "harness-" + sources_digest(graft_srcs + harness_srcs))
    compile_once(graft_srcs, graft, jars)
    compile_once(harness_srcs, harness, jars + [graft])
    return [harness, graft] + jars


# ------------------------------------------------------------------ inputs

def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def cdc_inputs(cdc_dir, seed, tail_lines):
    """Feed files for the JVM; returns (timed feed, restart feed, dimension lookup)."""
    os.makedirs(cdc_dir)
    rooms, locations = gen.dimension()
    null = "\\N"
    write_lines(os.path.join(cdc_dir, "rooms.tsv"),
                [f"{r}\t{name}\t{null if loc is None else loc}" for r, name, loc in rooms])
    write_lines(os.path.join(cdc_dir, "locations.tsv"),
                [f"{l}\t{name}\t{city}" for l, name, city in locations])
    n_backlog = CDC_BACKLOGS * CDC_BACKLOG
    feed = gen.cdc_feed(seed, n_backlog + tail_lines)
    for i in range(CDC_BACKLOGS):
        write_lines(os.path.join(cdc_dir, f"backlog_{i}.txt"),
                    feed[i * CDC_BACKLOG:(i + 1) * CDC_BACKLOG])
    write_lines(os.path.join(cdc_dir, "tail.txt"), feed[n_backlog:])
    restart = gen.cdc_feed(seed + 2_000_003, CDC_RESTART_FILES * CDC_RESTART_LINES)
    for i in range(CDC_RESTART_FILES):
        write_lines(os.path.join(cdc_dir, f"restart_{i}.txt"),
                    restart[i * CDC_RESTART_LINES:(i + 1) * CDC_RESTART_LINES])
    return feed, restart, gen.dim_lookup(rooms, locations)


# ------------------------------------------------------------------ metrics

def olap_metrics(rec, verdicts, setup_s):
    samples = rec["samples"]
    ok_times = [s["s"] for s in samples if s["ok"]]
    if not ok_times:
        fail("no query succeeded")
    by_query = {}
    for s in samples:
        if s["ok"]:
            by_query.setdefault(s["query"], []).append(s["s"])
    query_median = {q: stats.median(ts) for q, ts in by_query.items()}
    wrong = {q for q, v in verdicts.items() if v}
    # one operation per query execution: the warm pass and every timed one
    attempted = len(samples) + len(verdicts)
    failed = sum(1 for s in samples if not s["ok"] or s["query"] in wrong) + \
        len(wrong | {f["query"] for f in rec["warm_failures"]})
    slowest = max(query_median.values())
    typical = math.exp(statistics.fmean(math.log(t) for t in query_median.values()))
    e2e = {"setup_s": setup_s,
           "pass_s": stats.median([p["wall_s"] for p in rec["passes"]]),
           "latency_ms": typical * 1000,
           "latency_tail_ms": slowest * 1000,
           "ok_ratio": 1 - failed / attempted}
    detail = {"attempted": attempted, "failed": failed, "failed_ratio": failed / attempted,
              "samples": len(ok_times), "passes": len(rec["passes"]),
              "pass_walls_s": [p["wall_s"] for p in rec["passes"]],
              "query_samples_s": by_query,
              "query_p50_s": stats.median(ok_times), "query_geomean_s": typical,
              "slowest_query_s": slowest,
              "failures": [s for s in samples if not s["ok"]] + rec["warm_failures"],
              "wrong": {q: v for q, v in verdicts.items() if v},
              "query_median_s": query_median}
    return e2e, detail


def cdc_metrics(rec, feed, dim, setup_s):
    n_sent = max([c["end"] for c in rec["chunks"]], default=0)
    read = feed[:CDC_BACKLOGS * CDC_BACKLOG + n_sent]
    expected, replay_stats = gen.replay(read, dim)
    sink = check.sink(rec["sink"], expected)
    fresh, unmapped = stats.freshness_ms(rec["chunks"], rec["progress"], rec["batches"],
                                         rec["tail_start_ns"], rec["rate"])
    # an operation is a generated meeting row; it failed when its key is
    # wrong in the sink or its batch could not be found
    bad = set(sink.pop("bad_keys"))
    attempted = replay_stats["meeting_rows"]
    failed = unmapped + (sum(1 for keys in gen.meeting_keys_per_line(read) for k in keys if k in bad)
                         if bad else 0)
    p50, p95 = stats.percentile(fresh, 50), stats.percentile(fresh, 95)
    if p95 is None:
        fail(f"{len(fresh)} freshness samples are too few for p95")
    backfill_s = stats.median([d["s"] for d in rec["drains"][CDC_WARM_DRAINS:]])
    e2e = {"setup_s": setup_s, "pass_s": backfill_s,
           "latency_ms": p50, "latency_tail_ms": p95,
           "ok_ratio": 1 - failed / attempted}
    detail = {"attempted": attempted, "failed": failed, "failed_ratio": failed / attempted,
              "backfill_eps": CDC_BACKLOG / backfill_s, "drains_s": [d["s"] for d in rec["drains"]],
              "freshness_p50_ms": p50, "freshness_p95_ms": p95,
              "freshness_samples": len(fresh), "unmapped_events": unmapped,
              "tail_events_sent": n_sent, "sink_check": sink}
    return e2e, detail


def restart_verdict(rec, restart_lines, dim):
    expected, _ = gen.replay(restart_lines, dim)
    res = check.sink(rec["restart"]["sink"], expected)
    del res["bad_keys"]
    res["crashed"] = rec["restart"]["crashed"]
    res["restarts"] = rec["restart"]["restarts"]
    return res


def self_times(rec):
    """Self time per span name, summed over the run (per pass on olap), in s."""
    selfs = stats.self_time(rec["spans"])
    n_pass = max(1, len(rec.get("passes", [])))
    return {name: sum(selfs[s["id"]] for s in rec["spans"] if s["name"] == name) / 1e9 / n_pass
            for name in SPAN_NAMES}


def per_layer(rec, workload, feed):
    """Per-layer metrics of a traced run (0 where the workload bypasses a layer)."""
    m = {name: 0.0 for name, _ in per_layer_names()}
    spans = rec["spans"]
    counters = {int(k): v for k, v in rec["span_counters"].items()}
    count = lambda s, key: counters.get(s["id"], {}).get(key, 0)
    dur = lambda s: (s["end_ns"] - s["start_ns"]) / 1e9
    if workload != "cdc_stream":
        by_id = {s["id"]: s for s in spans}

        def pass_of(s):
            while s["name"] != "pass":
                s = by_id[s["parent"]]
            return s["pass"]

        def per_pass(name, f, query=None):
            """Median over passes of the per-pass sum of ``f`` over spans ``name``."""
            tot = {s["pass"]: 0.0 for s in spans if s["name"] == "pass"}
            for s in spans:
                if s["name"] == name and (query is None or s.get("query") == query):
                    tot[pass_of(s)] += f(s)
            return stats.median(list(tot.values()))
        m["sources.open_s"] = per_pass("sources.open", dur)
        m["sources.open_jobs"] = per_pass("sources.open", lambda s: count(s, "jobs"))
        m["build.s"] = per_pass("build", dur)
        m["build.jobs"] = per_pass("build", lambda s: count(s, "jobs"))
        for q in OLAP_DRIVER_LOOP:
            m[f"build.s.{q}"] = per_pass("build", dur, q)
            m[f"build.jobs.{q}"] = per_pass("build", lambda s: count(s, "jobs"), q)
        m["plan.s"] = per_pass("plan", dur)
        m["exec.s"] = per_pass("exec", dur)
        for key, name, scale in [("jobs", "jobs", 1), ("stages", "stages", 1), ("tasks", "tasks", 1),
                                 ("cpu_ns", "cpu_s", 1e-9), ("gc_ms", "gc_s", 1e-3),
                                 ("shuffle_read_b", "shuffle_read_mb", 2**-20),
                                 ("shuffle_write_b", "shuffle_write_mb", 2**-20),
                                 ("spill_b", "spill_mb", 2**-20)]:
            m[f"exec.{name}"] = per_pass("exec", lambda s: count(s, key) * scale)
        return m
    m["sources.dim_read_s"] = sum(dur(s) for s in spans if s["name"] == "sources.dim_read")
    codec = rec["codec"]
    for key in ("s", "envelopes_in", "rows_out", "dead_letters"):
        m[f"codec.{key}"] = codec[key]
    m["codec.useful_ratio"] = codec["rows_out"] / codec["envelopes_in"]
    tail = [p for p in rec["progress"]
            if p["start_offset"] is not None and int(p["start_offset"]) >= rec["backlog_offset"]]
    dm = lambda key: stats.median([p["duration_ms"].get(key, 0) for p in tail]) or 0.0
    m["streaming.trigger_p50_ms"] = dm("triggerExecution")
    m["streaming.addbatch_p50_ms"] = dm("addBatch")
    m["streaming.planning_p50_ms"] = dm("queryPlanning")
    m["streaming.walcommit_p50_ms"] = dm("walCommit")
    m["streaming.commit_p50_ms"] = dm("commitOffsets")
    m["streaming.batches"] = len(tail)
    find = stats.batch_of_offset(rec["progress"])
    done = {b["batch"] for b in rec["batches"] if b["write_end_ns"] <= rec["generator_stop_ns"]}
    m["streaming.backlog_end_rows"] = sum(c["end"] - c["first"] for c in rec["chunks"]
                                          if find(c["offset"]) not in done)
    m["streaming.generator_lag_ms"] = stats.median(
        stats.generator_lag_ms(rec["chunks"], rec["tail_start_ns"], rec["rate"])) or 0.0
    tail_ids = {p["batch"] for p in tail}
    m["sinks.write_p50_ms"] = stats.median([(b["write_end_ns"] - b["write_start_ns"]) / 1e6
                                            for b in rec["batches"] if b["batch"] in tail_ids]) or 0.0
    keys = gen.meeting_keys_per_line(feed[CDC_BACKLOGS * CDC_BACKLOG:])
    batch_keys = {}
    for c in rec["chunks"]:
        b = find(c["offset"])
        if b in tail_ids:
            batch_keys.setdefault(b, []).extend(k for i in range(c["first"], c["end"]) for k in keys[i])
    m["sinks.rows_in"] = sum(len(ks) for ks in batch_keys.values())
    m["sinks.rows_written"] = sum(len(set(ks)) for ks in batch_keys.values())
    m["sinks.compaction_ratio"] = m["sinks.rows_written"] / max(1, m["sinks.rows_in"])
    writes = [s["id"] for s in spans if s["name"] == "sinks.write" and s.get("batch") in tail_ids]
    m["sinks.jobs_per_batch"] = sum(counters.get(i, {}).get("jobs", 0) for i in writes) / max(1, len(writes))
    return m


# ------------------------------------------------------------------ main

def cpu_times():
    """Host CPU time counters (``/proc/stat``); index 7 is time stolen by the
    hypervisor, which slows every timing of a run without any code change."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def run(args, work, classpath):
    t_gen = time.time()
    jvm_args = ["--workload", args.workload, "--seed", str(args.seed), "--trace", str(args.trace)]
    if args.workload == "cdc_stream":
        tail_lines = int(CDC_RATE * CDC_TAIL_SHARE * args.seconds)
        feed, restart_lines, dim = cdc_inputs(os.path.join(work, "cdc"), args.seed, tail_lines)
        jvm_args += ["--cdc", os.path.join(work, "cdc"), "--rate", str(CDC_RATE),
                     "--warm-drains", str(CDC_WARM_DRAINS), "--partitions", str(CDC_PARTITIONS),
                     "--canal-batch", str(CDC_CANAL_BATCH)]
    else:
        data = os.path.join(work, "data")
        gen.olap_tables(data, OLAP_SF)
        names = OLAP
        jvm_args += ["--data", data, "--queries", ",".join(names),
                     "--passes", str(max(1, round(args.seconds / OLAP_PASS_S)))]
    gen_s = time.time() - t_gen

    cpu0 = cpu_times()
    spawn = time.time()
    try:
        r = subprocess.run(java_cmd(classpath, work, jvm_args), stdout=subprocess.PIPE,
                           stderr=subprocess.PIPE, text=True, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"the benchmark JVM did not finish within {RUN_TIMEOUT_S} s")
    if r.returncode != 0 or not os.path.exists(os.path.join(work, "record.json")):
        sys.stderr.write(r.stderr[-3000:])
        fail(f"the benchmark JVM exited with code {r.returncode}")
    jvm_s = time.time() - spawn
    t_check = time.time()
    cpu1 = cpu_times()
    steal_pct = 100 * (cpu1[7] - cpu0[7]) / max(1, sum(cpu1) - sum(cpu0))
    with open(os.path.join(work, "record.json")) as f:
        rec = json.load(f)
    launch_s = rec["main_start_epoch_ms"] / 1000 - spawn

    # set-up is graft's share of it: session start plus the dimension read
    # and warm-up catch-up, or the warm pass; input
    # generation, the Derby load and the JVM launch are reported apart
    if args.workload == "cdc_stream":
        warm_s = sum(d["s"] for d in rec["drains"][:CDC_WARM_DRAINS])
        setup_s = rec["session_s"] + rec["dim_read_s"] + warm_s
        e2e, detail = cdc_metrics(rec, feed, dim, setup_s)
        rs = detail["restart_check"] = restart_verdict(rec, restart_lines, dim)
        problems = (["sink"] if detail["failed"] or detail["sink_check"]["examples"] else []) + \
            ([] if rs["crashed"] and not rs["examples"] else ["restart"])
    else:
        warm_s = rec["warm_s"]
        setup_s = rec["session_s"] + warm_s
        with open(os.path.join(HERE, "pins.json")) as f:
            pins = json.load(f)
        verdicts = check.olap(os.path.join(work, "out"), data, names, rec["oracle_sql"], pins)
        e2e, detail = olap_metrics(rec, verdicts, setup_s)
        problems = sorted(set(detail["wrong"]) | {f["query"] for f in detail["failures"]})
    correct = not problems and detail["failed"] == 0
    check_s = time.time() - t_check
    detail.update({"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                   "trace": args.trace, "correct": correct, "problems": problems,
                   "timed_s": rec["timed_s"], "end_to_end": e2e, "peak_rss_mb": rec["peak_rss_mb"],
                   "host_steal_pct": steal_pct,
                   "setup_parts_s": {"session": rec["session_s"], "warm": warm_s,
                                     "dim_read": rec.get("dim_read_s")},
                   "outside_setup_s": {"generate": gen_s, "jvm_launch": launch_s,
                                       "derby_load": rec.get("load_s")},
                   "phases_s": {"generate": gen_s, "jvm": jvm_s, "check": check_s}})

    out_dir = os.path.join(HERE, "out")
    os.makedirs(out_dir, exist_ok=True)
    e2e_units = dict(END_TO_END)
    if args.trace:
        metrics = per_layer(rec, args.workload, feed if args.workload == "cdc_stream" else None)
        units = dict(per_layer_names())
        detail["per_layer"] = metrics
        detail["self_s"] = self_times(rec)
        detail["spans"] = rec["spans"]
        detail["span_counters"] = rec["span_counters"]
        untraced = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["end_to_end"]
            detail["tracing_overhead"] = {k: e2e[k] - base[k] for k in e2e}
    else:
        metrics, units = e2e, e2e_units
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(detail, f, indent=1, default=str)

    for name, value in sorted(e2e.items()):
        print(f"{name} {value:.6g} {e2e_units[name]}")
    for name in ("query_p50_s", "query_geomean_s", "slowest_query_s", "backfill_eps", "freshness_p50_ms",
                 "freshness_p95_ms", "failed_ratio", "host_steal_pct"):
        if name in detail:
            unit = {"backfill_eps": "events/s", "failed_ratio": "ratio",
                    "host_steal_pct": "%"}.get(name, name.rsplit("_", 1)[1])
            print(f"{name} {detail[name]:.6g} {unit}")
    if args.trace:
        for name, value in metrics.items():
            print(f"{name} {value:.6g} {units[name]}")
        for name, value in detail["self_s"].items():
            print(f"self_s.{name} {value:.6g} s")
        for name, value in detail.get("tracing_overhead", {}).items():
            print(f"tracing_overhead.{name} {value:+.6g} {e2e_units[name]}")
    if problems:
        print(f"problems: {', '.join(problems)} (see {os.path.relpath(out_dir)})")
    return {"correct": correct, "attempted": detail["attempted"], "failed": detail["failed"],
            "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in metrics}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["cdc_stream", "olap"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classpath = build(build_dir)
    work = os.path.join(build_dir, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        summary = run(args, work, classpath)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(summary, separators=(",", ":")))


if __name__ == "__main__":
    main()
