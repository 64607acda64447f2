"""Per-layer probes for the traced run.

Each probe calls one layer's public entry point on a fixed input and
times only that call:

* ``route_layers``: a cached sample of the workload's backlog through
  plans that stop after successive layers, into a ``noop`` sink; a
  layer's cost is its plan's time minus the previous plan's;
* ``compaction_probe`` / ``sink_probe``: the sink layer a workload does not
  itself use, on a small fixed batch sequence from the other workload's
  generator, so every traced run reports every layer;
* ``dedup_probe``: ``StreamingVectorNearDupFilter`` on a seeded vector
  corpus with planted near-copies, and ``lsh_near_dup_pairs`` on a fixed
  part of it.

Probes that produce outputs are checked by the independent checker.
"""

from __future__ import annotations

import json
import os
import statistics
import time

import checker
import gen
from spans import pct

PROBE_REPS = 2


def _rules(workload: str) -> list[dict]:
    return gen.ROUTE_RULES if workload == "route_fanout" else gen.UPSERT_RULES


def _route_kwargs(workload: str) -> dict:
    return ({"topic_prefix": gen.TOPIC_PREFIX}
            if workload == "route_fanout" else {})


def _write_lines(path: str, lines: list[str]) -> str:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return path


def route_layers(spark, workload: str, sample: list[str],
                 sample_events: list[dict], work: str) -> dict:
    from pyspark.sql import functions as F

    from flink_cdc_msk_spark.config import TableRouting
    from flink_cdc_msk_spark.envelope import MYSQL_ENVELOPE_ROUTE_SCHEMA
    from flink_cdc_msk_spark.operators.route import route_mysql_cdc

    path = _write_lines(os.path.join(work, "probe_sample.json"), sample)
    par = spark.sparkContext.defaultParallelism
    base = spark.read.text(path).repartition(par).cache()
    n = base.count()
    rules = _rules(workload)
    routing = TableRouting.parse(json.dumps(rules))
    no_trunc = TableRouting.parse(json.dumps(
        [{k: v for k, v in r.items() if k != "column_max_length"}
         for r in rules]))
    kw = _route_kwargs(workload)
    env = F.from_json("value", MYSQL_ENVELOPE_ROUTE_SCHEMA).alias("e")
    plans = {
        "scan": base,
        "envelope": base.select(env).select(
            "e.source.db", "e.source.table", "e.op", "e.before", "e.after"),
        "chain": route_mysql_cdc(base, no_trunc, **kw),
        "truncate": route_mysql_cdc(base, routing, **kw),
        "partition": route_mysql_cdc(base, routing,
                                     num_partitions=gen.NUM_PARTITIONS, **kw),
    }
    times = {k: [] for k in plans}
    for _ in range(PROBE_REPS + 1):  # first round warms codegen, dropped
        for k, df in plans.items():
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            times[k].append(time.perf_counter() - t)
    med = {k: statistics.median(v[1:]) for k, v in times.items()}
    base.unpersist()

    def us(a, b):
        return (med[a] - med[b]) / n * 1e6

    limits = {}
    for r in rules:
        for pair in filter(None, r.get("column_max_length", "").split("|")):
            c, v = pair.split("=")
            limits[c] = int(v)
    through = shortened = 0
    if limits:
        for e in sample_events:
            if e["op"] == "x":
                continue
            through += 1
            side = e["before"] if e["op"] == "d" else e["after"]
            shortened += any(len(side.get(c) or "") > m
                             for c, m in limits.items())
    return {
        "envelope.parse_us_per_rec": us("envelope", "scan"),
        "route.chain_us_per_rec": us("chain", "envelope"),
        "route.truncate_us_per_rec": us("truncate", "chain"),
        "route.truncate_useful_ratio": shortened / through if through else 0.0,
        "java_hash.partition_us_per_rec": us("partition", "truncate"),
    }


def bucket_dirs(path: str) -> dict[str, tuple]:
    """bucket dir -> (inode, state rows) of a bucketed state table."""
    import pyarrow.parquet as pq

    out = {}
    if not os.path.isdir(path):
        return out
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if d.startswith("bucket=") and os.path.isdir(full):
            rows = sum(pq.ParquetFile(os.path.join(full, f)).metadata.num_rows
                       for f in os.listdir(full) if f.endswith(".parquet"))
            out[d] = (os.stat(full).st_ino, rows)
    return out


def touched(before: dict, after: dict) -> dict:
    """Buckets replaced by a merge, and the state rows they now hold."""
    t = [d for d in set(before) | set(after) if before.get(d, (None,))[0]
         != after.get(d, (None,))[0]]
    return {"touched": len(t), "rows": sum(after.get(d, (0, 0))[1]
                                           for d in t)}


def _render_files(files, d: str, prefix: str) -> list[str]:
    os.makedirs(d, exist_ok=True)
    return [_write_lines(os.path.join(d, f"{prefix}{i:05d}.json"),
                         [gen.render(e) for e in evs])
            for i, evs in enumerate(files)]


def compaction_summary(merges_ms: list[float], buckets: list[dict],
                       changed: list[int], state: str) -> dict:
    import pyarrow.dataset as ds

    rows = ds.dataset(state, format="parquet",
                      partitioning="hive").count_rows()
    size = sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(state) for f in fs
               if f.endswith(".parquet"))
    return {
        "compaction.merge_ms_p50": pct(merges_ms, 50),
        "compaction.merge_ms_p90": pct(merges_ms, 90),
        "compaction.touched_buckets_p50": pct(
            [b["touched"] for b in buckets], 50),
        "compaction.rewrite_amplification": sum(
            b["rows"] for b in buckets) / max(1, sum(changed)),
        "compaction.state_rows_end": rows,
        "compaction.state_bytes_end": size,
    }


def compaction_probe(spark, seed: int, work: str):
    """ParquetUpsertSink on a small upsert_churn batch sequence."""
    from flink_cdc_msk_spark.config import TableRouting
    from flink_cdc_msk_spark.operators.route import route_mysql_cdc
    from flink_cdc_msk_spark.streaming.compaction import ParquetUpsertSink

    s = gen.upsert_churn(seed, keys=2000, backlog_changes=0, tail_files=5,
                         tail_lines=250, warmup_files=0, file_lines=2000,
                         hot_keys=100, hot_share=0.5)
    d = os.path.join(work, "probe_compaction")
    files = _render_files(s.backlog + s.tail, os.path.join(d, "src"), "c")
    state = os.path.join(d, "state")
    sink = ParquetUpsertSink(state, ["item_id"], num_buckets=8)
    routing = TableRouting.parse(json.dumps(gen.UPSERT_RULES))
    merges, buckets, changed = [], [], []
    for i, path in enumerate(files):
        batch = route_mysql_cdc(spark.read.text(path), routing)
        before = bucket_dirs(state)
        t = time.perf_counter()
        sink(batch, i)
        dt = (time.perf_counter() - t) * 1e3
        if i >= len(s.backlog):  # the snapshot batch is set-up, not churn
            merges.append(dt)
            buckets.append(touched(before, bucket_dirs(state)))
            changed.append(len({(e["after"] or e["before"])["item_id"]
                                for e in s.tail[i - len(s.backlog)]}))
    att, bad, _ = checker.check_upsert(s.all_events(), state, "item_id",
                                       gen.UPSERT_TRUNC)
    return compaction_summary(merges, buckets, changed, state), att, bad


def sink_probe(spark, seed: int, work: str):
    """to_kafka_columns -> parquet on a small route_fanout batch sequence."""
    from flink_cdc_msk_spark.config import TableRouting
    from flink_cdc_msk_spark.operators.route import route_mysql_cdc
    from flink_cdc_msk_spark.sinks.kafka import to_kafka_columns

    s = gen.route_fanout(seed, snapshot_rows=50, backlog_changes=9600,
                         tail_files=0, tail_lines=50, warmup_files=0,
                         file_lines=2000)
    d = os.path.join(work, "probe_sink")
    files = _render_files(s.backlog, os.path.join(d, "src"), "s")
    out = os.path.join(d, "out")
    routing = TableRouting.parse(json.dumps(gen.ROUTE_RULES))
    writes = []
    for i, path in enumerate(files):
        routed = route_mysql_cdc(spark.read.text(path), routing,
                                 topic_prefix=gen.TOPIC_PREFIX,
                                 num_partitions=gen.NUM_PARTITIONS)
        t = time.perf_counter()
        to_kafka_columns(routed).write.mode("overwrite").parquet(
            f"{out}/batch_id={i}")
        writes.append((time.perf_counter() - t) * 1e3)
    lines = {e["seq"]: gen.render(e) for e in s.all_events()}
    att, bad, _ = checker.check_route(s.all_events(), lines, out,
                                      gen.ROUTE_RULES, gen.TOPIC_PREFIX,
                                      gen.NUM_PARTITIONS)
    size = sum(os.path.getsize(os.path.join(dd, f))
               for dd, _, fs in os.walk(out) for f in fs
               if f.endswith(".parquet"))
    return {"sinks.write_ms_p50": pct(writes[1:], 50),
            "sinks.bytes_per_rec": size / att}, att, bad


def dedup_probe(spark, seed: int, work: str, vec: dict):
    """StreamingVectorNearDupFilter over seeded batches, then
    lsh_near_dup_pairs on the first half of the corpus."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from flink_cdc_msk_spark.operators.similarity import lsh_near_dup_pairs
    from flink_cdc_msk_spark.streaming.dedup_stream import (
        StreamingVectorNearDupFilter,
    )

    ids, x, _ = gen.vectors(seed, vec["n"], vec["dims"], vec["planted"],
                            vec["noise"])
    d = os.path.join(work, "probe_dedup")
    os.makedirs(os.path.join(d, "src"))
    step = vec["n"] // vec["batches"]
    batches, files = [], []
    for b in range(vec["batches"]):
        part = ids[b * step:(b + 1) * step]
        batches.append(part)
        path = os.path.join(d, "src", f"v{b:03d}.parquet")
        flat = pa.array(x[part].reshape(-1), pa.float32())
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, (len(part) + 1) * vec["dims"],
                               vec["dims"], dtype=np.int32)), flat)
        pq.write_table(pa.table({"vec_id": pa.array(part, pa.int64()),
                                 "embedding": emb}), path)
        files.append(path)
    filt = StreamingVectorNearDupFilter(
        os.path.join(d, "store"), os.path.join(d, "out"),
        threshold=vec["tau"], n_planes=vec["n_planes"],
        n_tables=vec["n_tables"], dims=vec["dims"])
    ms = []
    for b, path in enumerate(files):
        df = spark.read.parquet(path)
        t = time.perf_counter()
        filt(df, b)
        ms.append((time.perf_counter() - t) * 1e3)
    got = ds.dataset(os.path.join(d, "out"), format="parquet",
                     partitioning="hive").to_table(
        columns=["vec_id"]).column("vec_id").to_pylist()
    store_rows = ds.dataset(os.path.join(d, "store"), format="parquet",
                            partitioning="hive").count_rows()
    bk = checker.lsh_buckets(x, vec["n_planes"], vec["n_tables"])
    want = checker.expected_admitted(x, batches, bk, vec["tau"])
    att, bad, _ = checker.check_set(want, got)

    half = files[:len(files) // 2]
    corpus = spark.read.parquet(*half)
    t = time.perf_counter()
    pairs = lsh_near_dup_pairs(
        corpus, vec["tau"], n_planes=vec["n_planes"],
        n_tables=vec["n_tables"], portable_dims=vec["dims"]).collect()
    lsh_ms = (time.perf_counter() - t) * 1e3
    want_pairs = checker.expected_pairs(
        x, [i for b in batches[:len(half)] for i in b], bk, vec["tau"])
    a2, b2, _ = checker.check_set(
        want_pairs, [(min(r.id1, r.id2), max(r.id1, r.id2)) for r in pairs])
    return {
        "dedup_stream.filter_ms_p50": pct(ms, 50),
        "dedup_stream.admit_ratio": len(got) / vec["n"],
        "dedup_stream.store_rows_end": store_rows,
        "similarity.lsh_pairs_ms": lsh_ms,
    }, att + a2, bad + b2
