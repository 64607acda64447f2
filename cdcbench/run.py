"""Streaming CDC benchmark: catch-up throughput and below-saturation
freshness of the engine's file-stream CDC path.

    python3 cdcbench/run.py --workload route_fanout --seed 1 --seconds 30 --trace 0

Run from the repository root.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a separate
traced run.  The line before it carries the run's noise context (load
average before/after, generator lateness, files per tail batch).
See cdcbench/BENCHMARK.md for the workloads and metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checker  # noqa: E402
import gen  # noqa: E402
import probes  # noqa: E402
from spans import (  # noqa: E402
    Tracer, pct, progress_spans, self_times, trigger_start,
)

# Work per run is fixed here; --seconds does not scale it (see BENCHMARK.md).
WORKLOADS = {
    "route_fanout": {
        "gen": dict(snapshot_rows=1250, backlog_changes=40000,
                    tail_files=30, tail_lines=50, warmup_files=2,
                    file_lines=2000),
        "files_per_trigger": 8,
    },
    "upsert_churn": {
        "gen": dict(keys=3000, backlog_changes=5000, tail_files=12,
                    tail_lines=50, warmup_files=2, file_lines=1000,
                    hot_keys=150, hot_share=0.5),
        "files_per_trigger": 2,
    },
}
# each tail file lands this long after the batch holding the previous one
# committed, so the pipeline is idle when a tail file arrives
TAIL_GAP_S = 0.3
SELFCHECK_TOL = 0.05  # see BENCHMARK.md, "Self-check of the traced run"
PROBE_SAMPLE = 40000  # backlog lines in the cached envelope/route probe
# vector dedup probe: 64-d, tau 0.9, 8 tables x 8 planes = 256 buckets per
# table, so a bucket holds ~0.4% of the rows; planted copies sit at cosine
# ~0.97 and random pairs below ~0.6, so no pair lies near tau
VEC = dict(n=4800, dims=64, planted=480, noise=0.03, batches=3,
           tau=0.9, n_planes=8, n_tables=8)


def loadavg() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, all CPUs: steal is time the
    host ran something else while this machine's CPUs wanted to run."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


# --------------------------------------------------------------- inputs


def build_stream(workload: str, seed: int) -> gen.Stream:
    cfg = WORKLOADS[workload]["gen"]
    if workload == "route_fanout":
        return gen.route_fanout(seed, **cfg)
    return gen.upsert_churn(seed, **cfg)


def write_files(files: list[list[dict]], d: str, prefix: str,
                lines: dict[int, str]) -> list[str]:
    """Render each file's events to ``d/prefix#####.json``; record every
    rendered line by event sequence number."""
    os.makedirs(d, exist_ok=True)
    names = []
    for i, evs in enumerate(files):
        rendered = [gen.render(e) for e in evs]
        for e, ln in zip(evs, rendered):
            lines[e["seq"]] = ln
        name = f"{prefix}{i:05d}.json"
        tmp = os.path.join(d, "." + name)
        with open(tmp, "w") as f:
            f.write("\n".join(rendered) + "\n")
        os.rename(tmp, os.path.join(d, name))
        names.append(name)
    return names


# --------------------------------------------------------------- engine


def start_session(work: str, master: str | None = None):
    """The engine's session (session.get_spark) with every scratch path
    inside the work directory."""
    from flink_cdc_msk_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    spark = get_spark(
        app_name="cdcbench",
        master=master,
        extra_conf={
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_rss_peak_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024
    return float("nan")


class Pipeline:
    """One streaming query of a workload: file stream -> route_mysql_cdc
    -> foreachBatch sink.  The wrapper records when each batch's sink
    call ended; with tracing on it also records spans."""

    def __init__(self, spark, workload: str, root: str, tracer: Tracer,
                 files_per_trigger: int | None):
        from flink_cdc_msk_spark.config import TableRouting
        from flink_cdc_msk_spark.streaming.pipeline import (
            route_stream_from_directory,
        )

        self.workload, self.tracer = workload, tracer
        self.src = os.path.join(root, "src")
        self.out = os.path.join(root, "out")
        self.ck = os.path.join(root, "ck")
        self.sink_end: dict[int, float] = {}
        self.buckets: dict[int, dict] = {}
        os.makedirs(self.src, exist_ok=True)
        if workload == "route_fanout":
            routed = route_stream_from_directory(
                spark, self.src, TableRouting.parse(json.dumps(
                    gen.ROUTE_RULES)),
                max_files_per_trigger=files_per_trigger,
                topic_prefix=gen.TOPIC_PREFIX,
                num_partitions=gen.NUM_PARTITIONS)
        else:
            from flink_cdc_msk_spark.streaming.compaction import (
                ParquetUpsertSink,
            )

            routed = route_stream_from_directory(
                spark, self.src, TableRouting.parse(json.dumps(
                    gen.UPSERT_RULES)),
                max_files_per_trigger=files_per_trigger)
            self.upsert = ParquetUpsertSink(self.out, ["item_id"],
                                            num_buckets=8)
        self.routed = routed

    def sink(self, batch, batch_id: int) -> None:
        tr = self.tracer
        with tr.span("foreachBatch", batch_id, parent="addBatch"):
            if self.workload == "route_fanout":
                from flink_cdc_msk_spark.sinks.kafka import to_kafka_columns

                with tr.span("sinks.write", batch_id, parent="foreachBatch"):
                    to_kafka_columns(batch).write.mode("overwrite").parquet(
                        f"{self.out}/batch_id={batch_id}")
            else:
                before = probes.bucket_dirs(self.out) if tr.on else None
                with tr.span("compaction.merge", batch_id,
                             parent="foreachBatch"):
                    self.upsert(batch, batch_id)
                if tr.on:
                    t = time.time()
                    self.buckets[batch_id] = probes.touched(
                        before, probes.bucket_dirs(self.out))
                    tr.cost_s += time.time() - t
        self.sink_end[batch_id] = time.time()

    def start(self):
        return (self.routed.writeStream.foreachBatch(self.sink)
                .option("checkpointLocation", self.ck).start())


def source_log(ck: str) -> dict[str, int]:
    """file name -> file-source log batch id, from the query checkpoint."""
    d = os.path.join(ck, "sources", "0")
    out = {}
    for name in os.listdir(d):
        if name.startswith("."):
            continue
        with open(os.path.join(d, name)) as f:
            for ln in f:
                ln = ln.strip()
                if ln.startswith("{"):
                    e = json.loads(ln)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def files_by_batch(progress: list[dict], ck: str) -> dict[int, list[str]]:
    """query batch id -> the files it read, mapping the file-source log
    offsets each trigger consumed (startOffset, endOffset]."""
    log = source_log(ck)
    by_log: dict[int, list[str]] = {}
    for name, lb in log.items():
        by_log.setdefault(lb, []).append(name)
    out = {}
    for p in progress:
        s = p["sources"][0]
        lo, hi = offset(s.get("startOffset")), offset(s["endOffset"])
        out[p["batchId"]] = [n for lb in range(lo + 1, hi + 1)
                             for n in by_log.get(lb, [])]
    return out


def offset(o) -> int:
    """File-source log offset of a progress start/end offset."""
    if o is None:
        return -1
    if isinstance(o, str):
        o = json.loads(o)
    return o["logOffset"]


def data_progress(q) -> list[dict]:
    """Progress of every trigger that processed rows, in batch order."""
    seen = {}
    for p in q.recentProgress:
        d = json.loads(p.json)
        if d["numInputRows"] > 0:
            seen[d["batchId"]] = d
    return [seen[k] for k in sorted(seen)]


def warmup(spark, workload: str, root: str, warm_files) -> float:
    """The warm-up: the same pipeline as a query of its own over a small
    separate input, one file per micro-batch; the first batch pays the
    cold start (JIT, codegen, Python workers)."""
    write_files(warm_files, os.path.join(root, "src"), "w", {})
    t0 = time.perf_counter()
    pipe = Pipeline(spark, workload, root, Tracer(False), 1)
    q = pipe.start()
    q.processAllAvailable()
    q.stop()
    return time.perf_counter() - t0


# --------------------------------------------------------------- run


def drain(spark, workload: str, root: str, tracer: Tracer,
          backlog_names: list[str]):
    """Start the query on the pre-landed backlog and wait until it is
    read.  Returns (pipeline, query, drain_s, last backlog batch id):
    drain_s runs from query start to the end of the sink call of the
    last backlog batch."""
    pipe = Pipeline(spark, workload, root, tracer,
                    WORKLOADS[workload]["files_per_trigger"])
    tq = time.time()
    q = pipe.start()
    q.processAllAvailable()
    fb = files_by_batch(data_progress(q), pipe.ck)
    last = max(b for b, names in fb.items() if set(names) & set(backlog_names))
    return pipe, q, pipe.sink_end[last] - tq, last


def run(args) -> dict:
    work = os.path.abspath(os.path.join(".cdcbench_work", args.workload))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    # every scratch file of the JVM and its Python workers stays in `work`
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.makedirs(os.environ["TMPDIR"])
    ctx = {"loadavg_1m_before": loadavg(), "seconds_arg": args.seconds}
    ticks = cpu_ticks()
    clock = time.perf_counter()
    phases = ctx["phase_s"] = {}

    def phase(name):
        nonlocal clock
        now = time.perf_counter()
        phases[name] = round(now - clock, 3)
        clock = now

    tracer = Tracer(bool(args.trace))

    stream = build_stream(args.workload, args.seed)
    main_root = os.path.join(work, "main")
    lines: dict[int, str] = {}
    backlog_names = write_files(stream.backlog,
                                os.path.join(main_root, "src"), "b", lines)
    n_backlog = sum(len(f) for f in stream.backlog)

    phase("generate")
    t0 = time.perf_counter()
    spark = start_session(work)
    try:
        start_s = time.perf_counter() - t0
        res = {"start_s": start_s,
               "warmup_s": warmup(spark, args.workload,
                                  os.path.join(work, "warm"), stream.warmup)}
        phase("setup")

        pipe, q, drain_s, last = drain(spark, args.workload, main_root,
                                       tracer, backlog_names)
        res["drain_rps"] = n_backlog / drain_s
        res["drain_trace_cost_s"] = tracer.cost_s
        phase("drain")

        # tail: one file at a time into the idle query (see lander.py)
        time.sleep(1.0)
        stage = os.path.join(work, "stage")
        tail_names = write_files(stream.tail, stage, "t", lines)
        lander_log = os.path.join(work, "lander.json")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "lander.py"), stage,
             pipe.src, os.path.join(pipe.ck, "commits"), str(last + 1),
             repr(TAIL_GAP_S), lander_log],
            check=True)
        q.processAllAvailable()
        q.stop()
        phase("tail")
        if args.trace:
            res["jvm_rss_peak_mb"] = jvm_rss_peak_mb()

        prog = data_progress(q)
        fb = files_by_batch(prog, pipe.ck)
        with open(lander_log) as f:
            landed = json.load(f)
        batch_of = {n: b for b, ns in fb.items() for n in ns}
        tail_batches = sorted({batch_of[n] for n in tail_names})
        lat = [(pipe.sink_end[batch_of[e["name"]]] - e["due"]) * 1e3
               for e in landed]
        res["latency_p50_ms"] = pct(lat, 50)
        res["latency_p90_ms"] = pct(lat, 90)
        res["tail_files"] = len(landed)
        ctx["latency_max_ms"] = max(lat)
        ctx["files_per_batch_max"] = max(len([n for n in fb[b]
                                              if n in tail_names])
                                         for b in tail_batches)
        ctx["late_ms_max"] = max((e["landed"] - e["due"]) * 1e3
                                 for e in landed)

        events = stream.all_events()
        if args.workload == "route_fanout":
            att, bad, detail = checker.check_route(
                events, lines, pipe.out, gen.ROUTE_RULES, gen.TOPIC_PREFIX,
                gen.NUM_PARTITIONS)
        else:
            att, bad, detail = checker.check_upsert(
                events, pipe.out, "item_id", gen.UPSERT_TRUNC)
        res.update(attempted=att, failed=bad, check=detail)
        phase("check")

        if args.trace:
            res["layers"] = layer_metrics(
                spark, args, stream, prog, fb, landed, tail_batches, pipe,
                tracer, drain_s, work, res, ctx)
            tracer.dump(os.path.join(work, "spans.json"))
            phase("layers")
            # the same drain on local[1]: a new context in the same JVM
            spark.stop()
            spark = start_session(work, "local[1]")
            root = os.path.join(work, "local1")
            warmup(spark, args.workload, os.path.join(root, "warm"),
                   stream.warmup)
            os.makedirs(os.path.join(root, "main"))
            shutil.copytree(os.path.join(main_root, "src"),
                            os.path.join(root, "main", "src"),
                            ignore=shutil.ignore_patterns("t*"))
            _, q1, d1, _ = drain(spark, args.workload,
                                 os.path.join(root, "main"), Tracer(False),
                                 backlog_names)
            q1.stop()
            res["layers"]["session.drain_rps_local1"] = n_backlog / d1
            phase("local1")
    finally:
        stop_session(spark)
    phase("stop")
    ctx["loadavg_1m_after"] = loadavg()
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    ctx["cpu_steal_frac"] = steal / max(1, total)
    res["context"] = ctx
    return res


# --------------------------------------------------------------- layers


def layer_metrics(spark, args, stream, prog, fb, landed, tail_batches, pipe,
                  tracer, drain_s, work, res, ctx) -> dict:
    tail_prog = [p for p in prog if p["batchId"] in set(tail_batches)]
    drain_prog = [p for p in prog if p["batchId"] not in set(tail_batches)]

    def dur(name, ps):
        return [p["durationMs"].get(name, 0) for p in ps]

    m = {
        "session.start_s": res["start_s"],
        "session.warmup_s": res["warmup_s"],
        "session.jvm_rss_peak_mb": res["jvm_rss_peak_mb"],
        "sources.latest_offset_ms_p50": pct(dur("latestOffset", tail_prog),
                                            50),
        "sources.get_batch_ms_p50": pct(dur("getBatch", tail_prog), 50),
        "sources.backlog_files_max": backlog_files_max(tail_prog, landed, fb),
        "streaming.trigger_ms_p50": pct(dur("triggerExecution", tail_prog),
                                        50),
        "streaming.trigger_ms_p90": pct(dur("triggerExecution", tail_prog),
                                        90),
        "streaming.query_planning_ms_p50": pct(dur("queryPlanning",
                                                   tail_prog), 50),
        "streaming.wal_commit_ms_p50": pct(dur("walCommit", tail_prog), 50),
        "streaming.commit_offsets_ms_p50": pct(dur("commitOffsets",
                                                   tail_prog), 50),
        "streaming.rows_per_batch_p50": pct([p["numInputRows"]
                                             for p in drain_prog], 50),
        "streaming.files_per_batch_max": ctx["files_per_batch_max"],
        "gen.late_ms_max": ctx["late_ms_max"],
        "trace.overhead_frac": res["drain_trace_cost_s"] / drain_s,
    }
    # self-check: along each tail trigger, the self times of the laid-out
    # durationMs phases and the benchmark's own spans add up to the
    # trigger's triggerExecution; a child span that overflows its parent
    # shows up as a negative self time and breaks the sum
    errs, selfs = [], {}
    for p in tail_prog:
        spans = progress_spans(p) + [s for s in tracer.spans
                                     if s["batch_id"] == p["batchId"]]
        st = self_times(spans)
        for name, v in st.items():
            selfs.setdefault(name, []).append(v * 1e3)
        total = p["durationMs"]["triggerExecution"] / 1e3
        err = sum(max(v, 0.0) for v in st.values()) - total
        errs.append(abs(err) / total)
    m["trace.selfcheck_err_max"] = max(errs)
    res["selfcheck_ok"] = max(errs) <= SELFCHECK_TOL
    ctx["tail_self_ms_p50"] = {k: round(pct(v, 50), 1)
                               for k, v in selfs.items()}

    own = [s for s in tracer.spans if s["batch_id"] in set(tail_batches)]
    sample_events = [e for f in stream.backlog for e in f][:PROBE_SAMPLE]
    sample = [gen.render(e) for e in sample_events]
    m.update(probes.route_layers(spark, args.workload, sample,
                                 sample_events, work))
    att = bad = 0
    if args.workload == "route_fanout":
        writes = [s["end"] - s["start"] for s in own
                  if s["name"] == "sinks.write"]
        m["sinks.write_ms_p50"] = pct(writes, 50) * 1e3
        m["sinks.bytes_per_rec"] = dir_bytes(pipe.out) / res["attempted"]
        cm, a, b = probes.compaction_probe(spark, args.seed, work)
        m.update(cm)
        att, bad = att + a, bad + b
    else:
        merges = [(s["end"] - s["start"]) * 1e3 for s in own
                  if s["name"] == "compaction.merge"]
        changed = keys_changed(stream, fb, tail_batches)
        m.update(probes.compaction_summary(
            merges, [pipe.buckets[b] for b in tail_batches], changed,
            pipe.out))
        sm, a, b = probes.sink_probe(spark, args.seed, work)
        m.update(sm)
        att, bad = att + a, bad + b
    dm, a, b = probes.dedup_probe(spark, args.seed, work, VEC)
    m.update(dm)
    att, bad = att + a, bad + b
    res["probe_attempted"], res["probe_failed"] = att, bad
    return m


def backlog_files_max(tail_prog, landed, fb) -> int:
    """Most tail files landed but not yet read when a tail trigger began."""
    consumed = 0
    names = {e["name"] for e in landed}
    worst = 0
    for p in tail_prog:
        t0 = trigger_start(p)
        arrived = sum(1 for e in landed if e["landed"] <= t0)
        worst = max(worst, arrived - consumed)
        consumed += len([n for n in fb[p["batchId"]] if n in names])
    return worst


def keys_changed(stream, fb, tail_batches) -> list[int]:
    """Distinct keys changed by each tail batch, from the generator."""
    per_file = {f"t{i:05d}.json": {(e["after"] or e["before"])["item_id"]
                                   for e in evs}
                for i, evs in enumerate(stream.tail)}
    return [len(set().union(*[per_file[n] for n in fb[b] if n in per_file]))
            for b in tail_batches]


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, fs in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in fs
                     if f.endswith(".parquet"))
    return total


# --------------------------------------------------------------- main


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        import flink_cdc_msk_spark  # noqa: F401
    except ImportError as e:
        print(f"cdcbench: engine not importable from {os.getcwd()}: {e}",
              file=sys.stderr)
        return 2
    res = run(args)
    print(json.dumps({"context": res["context"], "check": res["check"],
                      "tail_files": res["tail_files"]}))
    if args.trace:
        correct = (res["failed"] == 0 and res["probe_failed"] == 0
                   and res["selfcheck_ok"])
        metrics = {k: {"value": v, "unit": UNITS[k]}
                   for k, v in res["layers"].items()}
        attempted = res["attempted"] + res["probe_attempted"]
        failed = res["failed"] + res["probe_failed"]
    else:
        correct = res["failed"] == 0
        metrics = {
            "setup_s": {"value": res["start_s"] + res["warmup_s"],
                        "unit": "s"},
            "drain_rps": {"value": res["drain_rps"], "unit": "1/s"},
            "latency_p50_ms": {"value": res["latency_p50_ms"], "unit": "ms"},
            "latency_p90_ms": {"value": res["latency_p90_ms"], "unit": "ms"},
        }
        attempted, failed = res["attempted"], res["failed"]
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


UNITS = {
    "session.start_s": "s", "session.warmup_s": "s",
    "session.jvm_rss_peak_mb": "MB", "session.drain_rps_local1": "1/s",
    "sources.latest_offset_ms_p50": "ms", "sources.get_batch_ms_p50": "ms",
    "sources.backlog_files_max": "count",
    "streaming.trigger_ms_p50": "ms", "streaming.trigger_ms_p90": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.rows_per_batch_p50": "count",
    "streaming.files_per_batch_max": "count",
    "envelope.parse_us_per_rec": "us", "route.chain_us_per_rec": "us",
    "route.truncate_us_per_rec": "us", "route.truncate_useful_ratio": "ratio",
    "java_hash.partition_us_per_rec": "us",
    "sinks.write_ms_p50": "ms", "sinks.bytes_per_rec": "B",
    "compaction.merge_ms_p50": "ms", "compaction.merge_ms_p90": "ms",
    "compaction.touched_buckets_p50": "count",
    "compaction.rewrite_amplification": "ratio",
    "compaction.state_rows_end": "count", "compaction.state_bytes_end": "B",
    "dedup_stream.filter_ms_p50": "ms", "dedup_stream.admit_ratio": "ratio",
    "dedup_stream.store_rows_end": "count",
    "similarity.lsh_pairs_ms": "ms",
    "gen.late_ms_max": "ms",
    "trace.overhead_frac": "ratio", "trace.selfcheck_err_max": "ratio",
}

if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    sys.exit(main())
