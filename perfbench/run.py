#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, run from the repo root.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the harness if needed (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in one
JVM at local[N] (N = SPARK_GRAFT_CPUS, else the CPUs this process may use),
checks the outputs, and prints every metric as `name value unit`. The last
stdout line is one JSON object: {"correct", "attempted", "failed", "metrics"},
with the end-to-end metrics under --trace 0 and the per-layer metrics under
--trace 1. Full self-describing records and span files are written to
.bench_build/results/. See perfbench/README.md.
"""
import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import gen  # noqa: E402
import metrics as M  # noqa: E402

ROOT = build.ROOT
RESULTS = build.BUILD / "results"

# jdbc_wordcount_rate: offered load and schedule
RATE = 2500              # rows/s offered by the feeder
TICK_MS = 10             # the feeder inserts RATE * TICK_MS / 1000 rows per tick
TRIGGER_MS = 1000        # the query's processing-time trigger interval
PRELOAD_ROWS = RATE      # inserted and drained before the schedule starts
WARMUP_S = 10            # fed on schedule before the sampled window opens
FEEDER_LATE_P99_MS = 100  # a run whose feeder ran later than this is invalid

# topic_ksql_backlog
TOPIC = "pageviews"
BACKLOG_PER_S = 64_000   # backlog records per --seconds
MAX_OFFSETS = 50_000     # maxOffsetsPerTrigger
WARMUP_RECORDS = 400_000  # drained by a separate query, eight batches, before the timed one
KSQL = ("CREATE STREAM pv (userid VARCHAR, amount BIGINT, region VARCHAR) "
        f"WITH (kafka_topic='{TOPIC}', value_format='JSON', key='userid'); "
        "CREATE TABLE user_totals AS SELECT userid, COUNT(*) AS cnt, "
        "SUM(amount) AS total FROM pv GROUP BY userid;")

# board: module -> queries, run in this order. The 14 cover every query
# module and each kind of query: multi-job iterative ops (driver-gap bound),
# single-plan relational queries (shuffle and codegen bound) and one
# write-heavy query (lake_cow_upsert). sample_dsir_multi stands in for
# dsir_multi_model_score, and dedup_semantic_whitened is left out: both
# persist a model under a fixed /tmp path outside the benchmark's checkout.
MODULES = {
    "Dedup": ["dedup_incr_kept", "dedup_cc_kept", "dedup_near_kept"],
    "Text": ["text_bpe_merges", "sample_dsir_multi", "text_wordcount", "p14_curation_csas"],
    "Similarity": ["ann_multiprobe_topk"],
    "Extras": ["lake_cow_upsert", "mm_image_neardup_thinned"],
    "Relational": ["q3_top_orders"],
    "Join": ["q5_local_supplier", "j1_window_inner_join"],
    "Window": ["w1_tumbling_agg"],
}
BOARD_QUERIES = [q for qs in MODULES.values() for q in qs]
BOARD_SF = 0.02          # lineitem 120k rows, documents 1000, embeddings 400

WORKLOADS = ("jdbc_wordcount_rate", "topic_ksql_backlog", "board")
JVM_HEAP = "3g"
JVM_TIMEOUT_S = 170
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def cpus():
    env = os.environ.get("SPARK_GRAFT_CPUS")
    return int(env) if env else len(os.sched_getaffinity(0))


def loadavg1():
    try:
        return float(Path("/proc/loadavg").read_text().split()[0])
    except OSError:
        return -1.0


def cpu_ticks():
    """(steal, total) jiffies from /proc/stat: steal is time the host gave
    this machine's CPUs to someone else."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, IndexError, ValueError):
        return 0, 0


def steal_frac(start, end):
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def revision():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(classes, spec, work):
    """Run graftbench.Main on `spec`; return its raw record."""
    spec_path, raw_path, log_path = work / "spec.json", work / "raw.json", work / "jvm.log"
    for d in ("tmp", "derby"):
        (work / d).mkdir(parents=True, exist_ok=True)
    spec_path.write_text(json.dumps(spec))
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *ADD_OPENS,
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dderby.system.home={work / 'derby'}",
           f"-Dderby.stream.error.file={work / 'derby.log'}",
           # commits skip fsync, so the host disk's sync latency does not pace the run
           "-Dderby.system.durability=test",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars() / '*'}",
           "graftbench.Main", str(spec_path), str(raw_path)]
    with open(log_path, "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work,
                               timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM exceeded {JVM_TIMEOUT_S} s; log tail:\n" + tail(log_path))
    if r.returncode != 0 or not raw_path.exists():
        raise BenchError(f"JVM exited with {r.returncode}; log tail:\n" + tail(log_path))
    return json.loads(raw_path.read_text())


def tail(path, n=40):
    return "\n".join(Path(path).read_text(errors="replace").splitlines()[-n:])


def offset_max(o):
    m = re.search(r'"max"\s*:\s*(-?\d+)', o or "")
    return int(m.group(1)) if m else 0


def read_tsv(path):
    with open(path) as f:
        return [line.rstrip("\n").split("\t") for line in f if line.strip()]


# ---- streaming layers shared by both streaming workloads ------------------

PHASES = ("latestOffset", "walCommit", "queryPlanning", "getBatch", "addBatch",
          "commitOffsets")


def engine_metrics(prog):
    """Per-batch engine costs from StreamingQueryProgress.durationMs and
    stateOperators."""
    d = lambda k: [p["durations"].get(k, 0) for p in prog]
    last = prog[-1] if prog else {}
    return {
        "engine.batches": len(prog),
        "engine.trigger_ms_p50": M.percentile(d("triggerExecution"), 50),
        "engine.trigger_ms_p90": M.percentile(d("triggerExecution"), 90),
        "engine.add_batch_ms_p50": M.percentile(d("addBatch"), 50),
        "engine.query_planning_ms_p50": M.percentile(d("queryPlanning"), 50),
        "engine.wal_commit_ms_p50": M.percentile(d("walCommit"), 50),
        "engine.commit_offsets_ms_p50": M.percentile(d("commitOffsets"), 50),
        "engine.state.rows_total": last.get("state_rows") or 0,
        "engine.state.memory_mb": (last.get("state_mem") or 0) / 1e6,
        "engine.state.commit_ms_p50": M.percentile(
            [p["state_commit_ms"] or 0 for p in prog], 50),
    }


def owned_stages(raw):
    """{stage id: job} with each executed stage owned by the first job that
    lists it (later jobs list it again when they skip it)."""
    owner = {}
    for j in sorted(raw.get("jobs", []), key=lambda j: j["id"]):
        for s in j["stages"]:
            owner.setdefault(s, j)
    return owner


def batch_key(j):
    """(query id, batch id) of a micro-batch's Spark job, else None."""
    b = j.get("streaming.sql.batchId")
    return (j.get("sql.streaming.queryId"), int(b)) if b is not None else None


def batch_stage_metrics(raw, prog):
    """Sink and aggregate stage task times and job counts per micro-batch."""
    batches = {(p["query_id"], p["batch"]) for p in prog}
    stages = {s["id"]: s for s in raw.get("stages", [])}
    owner = owned_stages(raw)
    jobs_per, agg_ms, write_ms = {}, {}, {}
    for j in raw.get("jobs", []):
        b = batch_key(j)
        if b in batches:
            jobs_per[b] = jobs_per.get(b, 0) + 1
    for sid, s in stages.items():
        j = owner.get(sid)
        b = batch_key(j) if j else None
        if b not in batches:
            continue
        if "StateStoreRDD" in s["rdds"]:
            agg_ms[b] = agg_ms.get(b, 0) + s["run_ms"]
        if sid == max(j["stages"]):  # the result stage runs the sink's foreachPartition
            write_ms[b] = write_ms.get(b, 0) + s["run_ms"]
    return {
        "ops.agg_stage_ms_p50": M.percentile(list(agg_ms.values()), 50),
        "sinks.jdbc.write_stage_ms_p50": M.percentile(list(write_ms.values()), 50),
        "sinks.jdbc.jobs_per_batch": M.percentile(list(jobs_per.values()), 50),
    }


# ---- spans ----------------------------------------------------------------

def stream_spans(raw):
    """Benchmark spans plus micro-batch → phase spans from progress events and
    Spark job spans from listener events. Phases are laid out in the order
    MicroBatchExecution runs them, from their durations."""
    spans = [dict(s) for s in raw["spans"]]
    next_id = max([s["id"] for s in spans], default=0) + 1
    add_batch_span = {}
    for p in raw["progress"]:
        start = p["ts"]
        bid = next_id
        spans.append({"id": bid, "name": "engine.batch", "parent": 0, "start": start,
                      "end": start + p["durations"].get("triggerExecution", 0),
                      "batch": p["batch"]})
        next_id += 1
        t = start
        for ph in PHASES:
            dur = p["durations"].get(ph)
            if dur is None:
                continue
            spans.append({"id": next_id, "name": f"engine.{ph}", "parent": bid,
                          "start": t, "end": t + dur, "batch": p["batch"]})
            if ph == "addBatch":
                add_batch_span[(p["query_id"], p["batch"])] = next_id
            next_id += 1
            t += dur
    by_id = {s["id"]: s for s in spans}
    # sink.upsert spans come from the one foreachBatch query of jdbc_wordcount_rate
    by_batch = {b: v for (_, b), v in add_batch_span.items()}
    for s in spans:
        if s["name"] == "sink.upsert":
            s["parent"] = by_batch.get(s["batch"], 0)
    for j in raw.get("jobs", []):
        parent = int(j.get("graftbench.span") or 0)
        if parent not in by_id:
            parent = add_batch_span.get(batch_key(j), 0)
        spans.append({"id": next_id, "name": "spark.job", "parent": parent,
                      "start": j["start"], "end": j["end"] or j["start"], "job": j["id"]})
        next_id += 1
    return spans


def board_spans(raw):
    spans = [dict(s) for s in raw["spans"]]
    ids = {s["id"] for s in spans}
    next_id = max(ids, default=0) + 1
    for j in raw.get("jobs", []):
        parent = int(j.get("graftbench.span") or 0)
        spans.append({"id": next_id, "name": "spark.job",
                      "parent": parent if parent in ids else 0,
                      "start": j["start"], "end": j["end"] or j["start"], "job": j["id"]})
        next_id += 1
    return spans


def self_time_by_name(spans):
    own = M.self_times(spans)
    out = {}
    for s in spans:
        n, c = out.get(s["name"], (0.0, 0))
        out[s["name"]] = (n + own[s["id"]], c + 1)
    return {k: {"self_ms": round(v[0], 3), "count": v[1]} for k, v in sorted(out.items())}


# ---- workloads ------------------------------------------------------------

def jdbc_wordcount_rate(a, classes, work, spec):
    n = PRELOAD_ROWS + RATE * (WARMUP_S + a.seconds)
    lines = gen.wordcount_lines(a.seed, n)
    lines_file = work / "lines.txt"
    lines_file.write_text("\n".join(lines) + "\n")
    spec.update(rate=RATE, tick_ms=TICK_MS, trigger_ms=TRIGGER_MS, warmup_s=WARMUP_S,
                seconds=a.seconds, preload_rows=PRELOAD_ROWS, lines_file=str(lines_file))
    raw = run_jvm(classes, spec, work)

    f = raw["feeder"]
    t0, tick, per_tick, ticks = f["t0"], f["tick_ms"], f["per_tick"], f["ticks"]
    first = f["preload"]
    total = raw["rows_inserted"]
    win_start = t0 + WARMUP_S * 1000.0
    win_end = win_start + a.seconds * 1000.0
    w0 = WARMUP_S * 1000 // tick
    late = [f["done"][k] - (t0 + k * tick) for k in range(w0, ticks)]

    def due(i):
        return f["preload_ms"] if i <= first else t0 + ((i - first - 1) // per_tick) * tick

    commit = {u["batch"]: u["end"] for u in raw["upserts"]}
    prog = sorted(raw["progress"], key=lambda p: p["batch"])
    batches = [(offset_max(p["start_offset"]), offset_max(p["end_offset"]), commit[p["batch"]])
               for p in prog if p["batch"] in commit]
    lo, hi = first + w0 * per_tick + 1, total
    lat, _ = M.row_latencies(batches, due, lo, hi)
    _, missing = M.row_latencies(batches, due, 1, total)
    win_batches = [b for b in batches if b[1] >= lo and b[0] < hi]

    expected = gen.word_counts(lines[:total])
    got = {w: int(c) for w, c in read_tsv(raw["sink_file"])}
    bad_words = {w for w in set(expected) | set(got) if expected.get(w) != got.get(w)}
    bad_rows = sum(1 for line in lines[:total] if bad_words & set(line.split(" ")))
    failed = min(total, missing + bad_rows)
    late_p99 = M.percentile(late, 99)
    problems = []
    if bad_words:
        problems.append(f"{len(bad_words)} words differ from the recomputed counts")
    if missing:
        problems.append(f"{missing} rows never delivered")
    if late_p99 > FEEDER_LATE_P99_MS:
        problems.append(f"feeder fell behind its schedule: p99 {late_p99:.1f} ms late")

    e2e = {
        "latency_p50_ms": M.percentile(lat, 50),
        "latency_p90_ms": M.percentile(lat, 90),
        "throughput_per_s": M.commit_rate(batches, win_start, win_end),
    }
    win_prog = [p for p in prog if win_start <= p["ts"] < win_end]
    backlog = [p["inserted"] - offset_max(p["end_offset"]) for p in win_prog]
    layers = {
        "generator.late_ms_p99": late_p99,
        "sources.jdbc.latest_offset_ms_p50": M.percentile(
            [p["durations"].get("latestOffset", 0) for p in win_prog], 50),
        "sources.jdbc.backlog_rows_p50": M.percentile(backlog, 50),
        "sources.jdbc.backlog_rows_max": max(backlog, default=0),
        "sinks.jdbc.upsert_call_ms_p50": M.percentile(
            [u["end"] - u["start"] for u in raw["upserts"]
             if win_start <= u["end"] < win_end], 50),
        **engine_metrics(win_prog),
        **batch_stage_metrics(raw, win_prog),
    }
    info = {"rows_offered": total, "latency_samples": len(lat), "feeder_late_ms_p99": late_p99,
            "batches": [{"rows": p["rows"], "ts": p["ts"] - t0, "state_commit": p["state_commit_ms"],
                         **p["durations"]} for p in prog],
            "window_batches": len(win_batches), "p90_supported_by_batches":
            M.tail_supported(len(win_batches), 90), "sink_rows": raw["sink_rows"]}
    return raw, e2e, layers, total, failed, problems, info, stream_spans


def drain_topic(a, classes, work, spec, topic_dir, expected, n_cpus):
    spec.update(cpus=n_cpus, work_dir=str(work), topic_dir=str(topic_dir), topic=TOPIC,
                warmup_topic_dir=str(topic_dir.parent / "warmup-topic"),
                max_offsets_per_trigger=MAX_OFFSETS, ksql=KSQL)
    raw = run_jvm(classes, spec, work)
    got = {u: (int(c), int(t)) for u, c, t in read_tsv(raw["sink_file"])}
    failed = sum(ct[0] for u, ct in expected.items() if got.get(u) != ct)
    failed += sum(ct[0] for u, ct in got.items() if u not in expected)
    prog = [p for p in raw["progress"] if p["rows"] > 0]
    # a record's latency: query start to the commit of the batch that held it
    lat = [lat for p in prog for lat in
           [p["ts"] + p["durations"].get("triggerExecution", 0) - raw["query_start_ms"]] * p["rows"]]
    rate = len(lat) / (max(lat) / 1000.0) if lat else 0.0
    return raw, prog, rate, lat, failed


def topic_ksql_backlog(a, classes, work, spec):
    n = BACKLOG_PER_S * a.seconds
    topic_dir = work / "topic"
    expected = gen.topic_backlog(str(topic_dir), TOPIC, a.seed, n, spec["cpus"])
    gen.topic_backlog(str(work / "warmup-topic"), TOPIC, a.seed, WARMUP_RECORDS, spec["cpus"],
                      stream=4)
    raw, prog, rate, lat, failed = drain_topic(a, classes, work / "drain", dict(spec), topic_dir,
                                          expected, spec["cpus"])
    problems = [f"{failed} records missing or wrong in user_totals"] if failed else []
    e2e = {"throughput_per_s": rate, "latency_p50_ms": M.percentile(lat, 50),
           "latency_p90_ms": M.percentile(lat, 90)}
    layers = {
        "sources.file_topic.latest_offset_ms_p50": M.percentile(
            [p["durations"].get("latestOffset", 0) for p in prog], 50),
        "sources.file_topic.latest_offset_ms_max": max(
            [p["durations"].get("latestOffset", 0) for p in prog], default=0),
        "sources.file_topic.rows_per_batch_p50": M.percentile([p["rows"] for p in prog], 50),
        "api.registry.sql_ms": raw["registry_sql_ms"],
        "sinks.jdbc.upsert_call_ms_p50": M.percentile(
            [p["durations"].get("addBatch", 0) for p in prog], 50),
        **engine_metrics(prog),
        **batch_stage_metrics(raw, prog),
    }
    info = {"records": n, "batches": [{"rows": p["rows"], **p["durations"]} for p in prog],
            "sink_rows": raw["sink_rows"]}
    if a.trace:
        # the stream sheet's single-thread baseline: the same drain at local[1]
        _, _, rate1, _, failed1 = drain_topic(a, classes, work / "drain1", dict(spec, trace=False),
                                           topic_dir, expected, 1)
        layers["engine.single_thread_drain_rows_per_s"] = rate1
        if failed1:
            problems.append(f"local[1] drain: {failed1} records missing or wrong")
            failed = max(failed, failed1)
    return raw, e2e, layers, n, failed, problems, info, stream_spans


def board(a, classes, work, spec):
    import oracle
    data_dir, out_dir = work / "data", work / "out"
    gen.board_tables(str(data_dir), a.seed, BOARD_SF)
    spec.update(data_dir=str(data_dir), out_dir=str(out_dir), queries=BOARD_QUERIES)
    raw = run_jvm(classes, spec, work)
    passes = raw["passes"]
    timed = [p for p in passes if p["pass"] == "timed"]
    errors = {p["query"]: p["error"] for p in passes if p["error"]}
    con = oracle.connect(data_dir, spec["cpus"])
    mismatches = {}
    for q in BOARD_QUERIES:
        if q in errors:
            continue
        sql = raw["oracle_sql"].get(q)
        why = oracle.compare(con, sql, str(out_dir / q)) if sql else "no oracle SQL"
        if why:
            mismatches[q] = why
    bad = set(errors) | set(mismatches)
    problems = [f"{q}: {errors.get(q) or mismatches.get(q)}" for q in sorted(bad)]
    # one client, one closed-loop pass: the pass is the run's one latency sample
    walls = [p["end"] - p["start"] for p in timed]
    board_ms = sum(walls)
    e2e = {"throughput_per_s": len(walls) / (board_ms / 1000.0),
           "latency_p50_ms": board_ms, "latency_p90_ms": board_ms}
    layers = board_layers(raw, timed)
    info = {"board_s": board_ms / 1000.0,
            "query_wall_s": {p["query"]: (p["end"] - p["start"]) / 1000.0 for p in timed},
            "warmup_wall_s": {p["query"]: (p["end"] - p["start"]) / 1000.0
                              for p in passes if p["pass"] == "warmup"},
            "errors": errors,
            "oracle_mismatches": mismatches}
    return raw, e2e, layers, len(BOARD_QUERIES), len(bad), problems, info, board_spans


def board_layers(raw, timed):
    """queries.<Module>.* and board.<query>.* from the timed pass. A job
    belongs to the query whose benchmark property it carries, else to the
    query whose wall interval it started in."""
    jobs = raw.get("jobs", [])
    stages = {s["id"]: s for s in raw.get("stages", [])}
    owner = owned_stages(raw)
    per_q = {}
    for p in timed:
        tag = f"timed:{p['query']}"
        mine = [j for j in jobs if j.get("graftbench.query") == tag or
                (j.get("graftbench.query") is None and p["start"] <= j["start"] <= p["end"])]
        mine_ids = {j["id"] for j in mine}
        st = [s for sid, s in stages.items() if owner.get(sid, {}).get("id") in mine_ids]
        per_q[p["query"]] = (p, mine, st)
    out = {}
    for q, (p, mine, _) in per_q.items():
        out[f"board.{q}.wall_s"] = (p["end"] - p["start"]) / 1000.0
        out[f"board.{q}.jobs"] = len(mine)
    for mod, qs in MODULES.items():
        rows = [per_q[q] for q in qs if q in per_q]
        wall = sum(p["end"] - p["start"] for p, _, _ in rows)
        gap = sum(M.driver_gap(p["start"], p["end"],
                               [(j["start"], j["end"] or j["start"]) for j in mine])
                  for p, mine, _ in rows)
        st = [s for _, _, sts in rows for s in sts]
        heavy = max(st, key=lambda s: s["run_ms"], default=None)
        out.update({
            f"queries.{mod}.wall_s": wall / 1000.0,
            f"queries.{mod}.build_s": sum(p["built"] - p["start"] for p, _, _ in rows) / 1000.0,
            f"queries.{mod}.jobs": sum(len(mine) for _, mine, _ in rows),
            f"queries.{mod}.job_s": (wall - gap) / 1000.0,
            f"queries.{mod}.driver_gap_s": gap / 1000.0,
            f"queries.{mod}.shuffle_mb": sum(s["shuffle_write"] for s in st) / 1e6,
            f"queries.{mod}.spill_mb": sum(s["spill"] for s in st) / 1e6,
            f"queries.{mod}.task_skew": M.skew(heavy["task_ms"]) if heavy else 1.0,
        })
    return out


# ---- metric catalogue and output ------------------------------------------

def catalogue():
    with open(ROOT / "BENCHMARK.json") as f:
        b = json.load(f)
    return b["end_to_end"], b["per_layer"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")
    try:
        classes = build.build()
        e2e_cat, layer_cat = catalogue()
    except (build.BuildError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: cannot build or read the benchmark: {e}", file=sys.stderr)
        return 2
    n_cpus = cpus()
    load_start, ticks_start = loadavg1(), cpu_ticks()
    t_setup = time.time() * 1000.0
    work = build.BUILD / "work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    RESULTS.mkdir(parents=True, exist_ok=True)
    spec = {"workload": a.workload, "trace": bool(a.trace), "cpus": n_cpus, "work_dir": str(work)}
    fn = {"jdbc_wordcount_rate": jdbc_wordcount_rate, "topic_ksql_backlog": topic_ksql_backlog,
          "board": board}[a.workload]
    try:
        raw, e2e, layers, attempted, failed, problems, info, spans_of = fn(a, classes, work, spec)
    except BenchError as e:
        print(f"perfbench: {a.workload} failed: {e}", file=sys.stderr)
        return 1
    e2e["setup_s"] = (raw["first_timed_ms"] - t_setup) / 1000.0
    e2e["peak_rss_mb"] = raw["vm_hwm_kb"] / 1024.0

    tag = f"{a.workload}-seed{a.seed}"
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "cpus": n_cpus, "revision": revision(), "source_sha256": build.source_key(),
        "java_version": raw["java_version"],
        "spark_version": raw["spark_version"], "jvm_heap": JVM_HEAP,
        "params": {"rate_rows_per_s": RATE, "tick_ms": TICK_MS, "trigger_ms": TRIGGER_MS,
                   "warmup_s": WARMUP_S,
                   "feeder_late_p99_limit_ms": FEEDER_LATE_P99_MS,
                   "backlog_records": BACKLOG_PER_S * a.seconds,
                   "max_offsets_per_trigger": MAX_OFFSETS, "ksql": KSQL,
                   "topic_warmup_records": WARMUP_RECORDS,
                   "board_sf": BOARD_SF, "board_queries": BOARD_QUERIES},
        "loadavg_start": load_start, "loadavg_end": loadavg1(),
        "cpu_steal_frac": steal_frac(ticks_start, cpu_ticks()),
        "correct": not problems, "problems": problems,
        "attempted": attempted, "failed": failed, "failed_frac": failed / attempted,
        "info": info, "end_to_end": e2e,
    }
    if a.trace:
        spans = spans_of(raw)
        span_file = RESULTS / f"{tag}.spans.jsonl"
        span_file.write_text("".join(json.dumps(s) + "\n" for s in spans))
        record.update(per_layer=layers, span_file=str(span_file.relative_to(ROOT)),
                      self_time_by_span=self_time_by_name(spans))
        untraced = RESULTS / f"{tag}-trace0.json"
        base = json.loads(untraced.read_text()) if untraced.exists() else None
        same = ("seconds", "cpus", "source_sha256", "params")
        if base and all(base.get(k) == record[k] for k in same):
            record["tracing_overhead"] = {k: e2e[k] - base["end_to_end"][k] for k in e2e}
        else:
            record["tracing_overhead"] = "no untraced record of this workload, seed and code"
    (RESULTS / f"{tag}-trace{a.trace}.json").write_text(json.dumps(record, indent=1))
    if not problems:
        shutil.rmtree(work, ignore_errors=True)

    cat = layer_cat if a.trace else e2e_cat
    values = layers if a.trace else e2e
    out = {}
    for m in cat:
        v = values.get(m["name"], 0)
        out[m["name"]] = {"value": v, "unit": m["unit"]}
        print(f"{m['name']:<48} {v:.6g} {m['unit']}")
    for p in problems:
        print(f"problem: {p}")
    if a.trace:
        for name, st in record["self_time_by_span"].items():
            print(f"self time {name:<38} {st['self_ms'] / 1000:.3f} s over {st['count']} spans")
        overhead = record["tracing_overhead"]
        for k, v in (overhead.items() if isinstance(overhead, dict) else []):
            print(f"tracing overhead {k:<32} {v:+.6g}")
    print(f"failed_frac {failed / attempted:.6g} ({failed} of {attempted})")
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
