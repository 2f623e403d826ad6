"""The three workloads, each in an untraced and a traced form.

Every workload is a sequence of operations. On the shipper workloads
an operation is one landed file, done when the call that committed it
returns; on ``query_mix`` it is one query, done when its action
returns. On the closed loops (``ship_backlog``, ``query_mix``) every
operation of a pass is due when the pass starts; on the open loop
(``ship_trickle``) a file is due at its scheduled landing. The
end-to-end metrics are defined over operations, so every workload
reports all of them:

- ``freshness_p50_s`` / ``freshness_p90_s``: done minus due;
- ``query_p50_s`` / ``query_p80_s``: wall time of the call that served
  the operation (``run_batch``, one drain, one query);
- ``query_mix_s``: wall time of one pass over the workload's fixed
  set of operations (one ``run_batch``; first due to last done of the
  trickle; the whole query list);
- ``events_per_s``: shipper events per second of shipper calls (the
  ``ingest_pipeline*`` queries over the fixture matrix on
  ``query_mix``);
- ``cpu_s``: user+sys CPU of the process tree per pass;
- ``peak_rss_mb``: the tree's largest resident memory while timing,
  as summed PSS (shared pages counted once).

Outputs are checked after timing; each failed check counts one
failed operation.
"""

from __future__ import annotations

import glob
import itertools
import math
import os
import random
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from kinesis_s3_data_shipper_spark import shipper
from kinesis_s3_data_shipper_spark.ingest import pipeline, sink, splitter
from kinesis_s3_data_shipper_spark.ingest import tracking, transport
from kinesis_s3_data_shipper_spark.ingest.fixture import ground_truth_events

import corpus as corpus_mod
import procstat
import queries as query_list
import tablegen
from receiver import Receiver
from sparktrace import JobGroups, PHASES, ProgressLog

#: Sizes per ``--size``. ``full`` is what the benchmark measures;
#: ``tiny`` is the smoke test's.
SIZES = {
    "full": {"backlog_files_per_s": 20, "events_per_file": 4000,
             "trickle_interval_s": 0.1, "trickle_events": 400,
             "sf": 0.01},
    "tiny": {"backlog_files_per_s": 4, "events_per_file": 40,
             "trickle_interval_s": 0.25, "trickle_events": 40,
             "sf": 0.0005},
}


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    work: str
    size: dict
    trace: bool
    #: Failed checks, as messages; each is one failed operation.
    failures: list[str] = field(default_factory=list)
    #: Extra facts for the detail record.
    record: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, ok: bool, msg: str) -> None:
        if not ok:
            self.failures.append(msg)


def pct(values: list[float], q: int) -> float:
    """The q-th percentile, by nearest rank."""
    return sorted(values)[max(0, math.ceil(q / 100 * len(values)) - 1)]


def op_metrics(fresh: list[float], service: list[float],
               passes: list[float], events_per_s: float) -> dict:
    return {"freshness_p50_s": pct(fresh, 50),
            "freshness_p90_s": pct(fresh, 90),
            "query_p50_s": pct(service, 50),
            "query_p80_s": pct(service, 80),
            "query_mix_s": statistics.median(passes),
            "events_per_s": events_per_s}


def _parquet_rows(path: str, columns: list[str]) -> list[dict]:
    rows: list[dict] = []
    for f in glob.glob(os.path.join(path, "**", "*.parquet"),
                       recursive=True):
        rows.extend(pq.read_table(f, columns=columns).to_pylist())
    return rows


# ---------------------------------------------------------------- backlog

def _batch_ns(landing: str, out: str, processed: str, url: str):
    return shipper.build_parser().parse_args(
        ["--input", landing, "--output", out, "--payloads",
         "--post-url", url, "--processed-dir", processed])


def _stream_ns(landing: str, out: str, checkpoint: str):
    return shipper.build_parser().parse_args(
        ["--input", landing, "--output", out, "--stream",
         "--checkpoint", checkpoint])


def _preprocess(ctx: Ctx, corp: corpus_mod.Corpus, template: str) -> set[str]:
    """Record 10% of the regular files as already processed, through
    the program's own listing key format; returns their names."""
    from pyspark.sql import functions as F
    regular = sorted(n for n in corp.files if n.startswith("part-"))
    done = set(random.Random(ctx.seed).sample(regular, len(regular) // 10))
    listing = (ctx.spark.read.format("binaryFile").load(corp.landing)
               .select("path"))
    keys = listing.filter(F.element_at(F.split("path", "/"), -1)
                          .isin(sorted(done)))
    tracking.record_processed(template, keys)
    return done


def _check_backlog(ctx: Ctx, corp: corpus_mod.Corpus, todo: set[str],
                   out: str, processed: str, rx_stats: dict) -> None:
    tag = os.path.basename(out)
    events = _parquet_rows(out, ["file", "block_index", "event_id"])
    per_block: dict[tuple[str, int], int] = {}
    seen = set()
    for e in events:
        name = os.path.basename(e["file"])
        key = (name, e["block_index"], e["event_id"])
        ctx.check(key not in seen, f"{tag}: duplicate event {key}")
        seen.add(key)
        per_block[name, e["block_index"]] = (
            per_block.get((name, e["block_index"]), 0) + 1)
    want = {(n, b): k for n in todo
            for b, k in corp.files[n].blocks.items()}
    ctx.check(per_block == want,
              f"{tag}: events per (file, block) differ from ground truth "
              f"({sum(per_block.values())} vs {sum(want.values())} events)")
    hazard = {b for (n, b) in per_block if n == "hazard.dat"}
    ctx.check(hazard <= {0, 3}, f"{tag}: hazard blocks leaked: {hazard}")
    pays = _parquet_rows(out + "_payloads", ["payload"])
    keys = {sink.payload_key(p["payload"]) for p in pays}
    ctx.check(rx_stats["keys"] == dict.fromkeys(keys, 1),
              f"{tag}: {rx_stats['posts']} posts of "
              f"{len(rx_stats['keys'])} keys for {len(keys)} payloads")
    ctx.check(rx_stats["events"] == len(events),
              f"{tag}: receiver saw {rx_stats['events']} events, "
              f"output has {len(events)}")
    recorded = [os.path.basename(r["path"])
                for r in _parquet_rows(processed, ["path"])]
    ctx.check(sorted(recorded) == sorted(set(corp.files)),
              f"{tag}: processed record has {len(recorded)} keys for "
              f"{len(corp.files)} files")


def ship_backlog(ctx: Ctx) -> tuple[dict, int]:
    """One ``run_batch`` call over a backlog of ``backlog_files_per_s``
    x ``--seconds`` files, after an untimed warm-up call over a small
    backlog. The warm-up takes the Python workers' start and the
    JVM's first-use costs out of the timed call, so that call is
    mostly the splitter, payload build and POST over the data."""
    size = ctx.size
    with Receiver() as rx:
        warm = corpus_mod.write_backlog(ctx.path("warm-landing"),
                                        ctx.seed + 7, 10, 200)
        warm_processed = ctx.path("warm-processed")
        _preprocess(ctx, warm, warm_processed)
        shipper.run_batch(ctx.spark, _batch_ns(
            warm.landing, ctx.path("warm-out"), warm_processed, rx.url))
        rx.reset()

        corp = corpus_mod.write_backlog(
            ctx.path("landing"), ctx.seed,
            round(size["backlog_files_per_s"] * ctx.seconds),
            size["events_per_file"])
        template = ctx.path("processed-template")
        done = _preprocess(ctx, corp, template)
        todo = set(corp.files) - done
        shipped = sum(corp.files[n].events for n in todo)
        ctx.record["corpus"] = {
            "files": len(corp.files), "events": corp.events,
            "mb": corp.nbytes / 2**20, "preprocessed_files": len(done),
            "shipped_files": len(todo), "shipped_events": shipped}
        out, processed = ctx.path("out"), ctx.path("processed")
        shutil.copytree(template, processed)
        ns = _batch_ns(corp.landing, out, processed, rx.url)
        if ctx.trace:
            m = _trace_backlog(ctx, rx, corp, template, todo, ns)
        else:
            rss = procstat.PeakRss().start()
            cpu0, t0 = procstat.tree_cpu_s(), time.perf_counter()
            shipper.run_batch(ctx.spark, ns)
            wall = time.perf_counter() - t0
            m = op_metrics(fresh=[wall], service=[wall], passes=[wall],
                           events_per_s=shipped / wall)
            m["cpu_s"] = procstat.tree_cpu_s() - cpu0
            m["peak_rss_mb"] = rss.stop()
            ctx.record["peak_rss_parts_mb"] = rss.parts()
            _check_backlog(ctx, corp, todo, out, processed, rx.snapshot())
    return m, len(todo)


def _trace_backlog(ctx: Ctx, rx: Receiver, corp, template: str,
                   todo: set[str], ns) -> dict:
    """Per-layer profile: the workload's run_batch call under one
    job group, then each layer's public function under its own group
    with its output persisted for the next layer."""
    from pyspark.sql import functions as F
    spark, jg = ctx.spark, JobGroups(ctx.spark)
    run: dict = {}
    with jg.group(run):
        shipper.run_batch(spark, ns)
    _check_backlog(ctx, corp, todo, ns.output, ns.processed_dir,
                   rx.snapshot())
    m = {f"shipper.run_batch.{k}": run.get(k, 0.0)
         for k in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s")}
    m["sources.read_amplification"] = (
        run.get("binary_input_mb", 0.0) * 2**20 / corp.nbytes)

    processed = ctx.path("staged", "proc")
    shutil.copytree(template, processed)
    raw = (spark.read.format("binaryFile").option("recursiveFileLookup",
                                                  "true")
           .load(corp.landing).select("path", "content"))
    st: dict[str, dict] = {k: {} for k in (
        "list", "filter", "split", "flatten", "build", "send", "record")}
    with jg.group(st["list"]):
        listing = spark.createDataFrame(
            raw.select("path").collect(), "path string")
    with jg.group(st["filter"]):
        work = tracking.filter_unprocessed(
            listing, spark.read.parquet(processed), key_col="path")
        work = spark.createDataFrame(work.collect(), "path string")
    with jg.group(st["split"]):
        blocks = splitter.split_blocks(
            raw.join(F.broadcast(work), "path", "left_semi")).persist()
        n_blocks = blocks.count()
    parsed = pipeline.parse_blocks(blocks)
    quarantined = parsed.filter(F.col("_corrupt").isNotNull()).count()
    with jg.group(st["flatten"]):
        events = pipeline.flatten_events(parsed).persist()
        events.count()
    with jg.group(st["build"]):
        pay = pipeline.build_payloads(events, 5000).persist()
        pay.count()
    rx.reset()
    with jg.group(st["send"]):
        sink.send_payloads(pay, transport.http_transport_factory(rx.url))
    rx_stats = rx.snapshot()
    with jg.group(st["record"]):
        tracking.record_processed(processed, work, key_col="path")
    for df in (pay, events, blocks):
        df.unpersist()
    bad = sum(corp.files[n].quarantined for n in todo)
    ctx.check(n_blocks == sum(len(corp.files[n].blocks) for n in todo) + bad,
              f"staged: {n_blocks} blocks")
    ctx.check(quarantined == bad, f"staged: {quarantined} quarantined blocks")
    ctx.check(rx_stats["posts"] == len(rx_stats["keys"]),
              f"staged: {rx_stats['posts']} posts of "
              f"{len(rx_stats['keys'])} keys")

    t0 = time.perf_counter()
    kernel_blocks = 0
    for name in sorted(corp.files):
        with open(os.path.join(corp.landing, name), "rb") as fh:
            data = splitter.gunzip_recursive(fh.read())
        kernel_blocks += len(splitter.split_marker_blocks(data))
    kernel_s = time.perf_counter() - t0

    m.update({
        "sources.list.wall_s": st["list"]["wall_s"],
        "ingest.tracking.filter_unprocessed.wall_s": st["filter"]["wall_s"],
        "ingest.tracking.record_processed.wall_s": st["record"]["wall_s"],
        "ingest.splitter.kernel_mb_per_s": corp.nbytes / 2**20 / kernel_s,
        "ingest.splitter.blocks": n_blocks,
        "ingest.pipeline.quarantined_blocks": quarantined,
        "ingest.pipeline.build_payloads.shuffle_mb":
            st["build"].get("shuffle_mb", 0.0),
        "ingest.pipeline.build_payloads.spill_mb":
            st["build"].get("spill_mb", 0.0),
        "ingest.sink.posts": rx_stats["posts"],
        "ingest.sink.useful_ratio":
            len(rx_stats["keys"]) / max(1, rx_stats["posts"]),
        "ingest.transport.connections": rx_stats["ports"],
    })
    for key, s in (("ingest.splitter.split_blocks", st["split"]),
                   ("ingest.pipeline.flatten_events", st["flatten"]),
                   ("ingest.pipeline.build_payloads", st["build"]),
                   ("ingest.sink.send_payloads", st["send"])):
        for k in ("wall_s", "task_s", "cpu_s", "tasks"):
            m[f"{key}.{k}"] = s.get(k, 0.0)
    m["trace.overhead_s"] = jg.overhead_s
    ctx.record["kernel_blocks"] = kernel_blocks
    ctx.record["run_batch_traced"] = run
    # Wall of each data-dependent layer, run on its own, as a share of
    # the workload's run_batch call; the rest of that call is fixed
    # per-call cost and the layers' overlap.
    ctx.record["staged_share_of_run_batch"] = {
        k: st[k]["wall_s"] / run["wall_s"]
        for k in ("split", "flatten", "build", "send")}
    return m


# ---------------------------------------------------------------- trickle

class _Lander(threading.Thread):
    """Lands prebuilt trickle files, one every ``interval`` seconds,
    on schedule."""

    def __init__(self, landing: str,
                 files: list[tuple[bytes, corpus_mod.FileTruth]],
                 interval: float) -> None:
        super().__init__(daemon=True)
        self.landing, self.files, self.interval = landing, files, interval
        self.truth: dict[str, corpus_mod.FileTruth] = {}
        self.due: dict[str, float] = {}
        self.max_late_s = 0.0
        self.error: Exception | None = None
        self.t0 = 0.0

    def run(self) -> None:
        try:
            self.t0 = time.perf_counter() + 0.05
            for i, (data, truth) in enumerate(self.files):
                due = self.t0 + i * self.interval
                time.sleep(max(0.0, due - time.perf_counter()))
                corpus_mod.land(self.landing, truth.name, data)
                self.max_late_s = max(self.max_late_s,
                                      time.perf_counter() - due)
                self.truth[truth.name] = truth
                self.due[truth.name] = due
        except Exception as e:  # noqa: BLE001 (re-raised by the caller)
            self.error = e


def _committed(out: str, seen_epochs: set[str]) -> dict[str, int]:
    """Files (and event counts) in epoch partitions not seen before."""
    new: dict[str, int] = {}
    for d in sorted(glob.glob(os.path.join(out, "_epoch=*"))):
        if d in seen_epochs:
            continue
        seen_epochs.add(d)
        for r in _parquet_rows(d, ["file"]):
            name = os.path.basename(r["file"])
            new[name] = new.get(name, 0) + 1
    return new


def ship_trickle(ctx: Ctx) -> tuple[dict, int]:
    size = ctx.size
    interval = size["trickle_interval_s"]
    n_files = max(4, round(ctx.seconds / interval))
    warm_landing = ctx.path("warm-landing")
    os.makedirs(warm_landing)
    for i in range(4):
        data, truth = corpus_mod.trickle_file(ctx.seed + 7, i, 40)
        corpus_mod.land(warm_landing, truth.name, data)
    shipper.run_stream(ctx.spark, _stream_ns(
        warm_landing, ctx.path("warm-out"), ctx.path("warm-ckpt")))

    landing, out = ctx.path("landing"), ctx.path("out")
    os.makedirs(landing)
    ns = _stream_ns(landing, out, ctx.path("checkpoint"))
    # Built before timing starts, so the timed window holds only
    # landing and draining.
    files = [corpus_mod.trickle_file(ctx.seed, i, size["trickle_events"])
             for i in range(n_files)]
    lander = _Lander(landing, files, interval)
    progress = ProgressLog() if ctx.trace else None
    bus = ctx.spark.sparkContext._jsc.sc().listenerBus()
    trace_s = 0.0
    seen_epochs: set[str] = set()
    fresh: dict[str, float] = {}
    service: dict[str, float] = {}
    committed: dict[str, list[int]] = {}
    drains: list[dict] = []
    if progress is not None:
        ctx.spark.streams.addListener(progress)
    rss = procstat.PeakRss().start()
    cpu0 = procstat.tree_cpu_s()
    lander.start()
    deadline = time.perf_counter() + ctx.seconds + 60
    while time.perf_counter() < deadline and lander.error is None:
        finished = not lander.is_alive()
        t0 = time.perf_counter()
        shipper.run_stream(ctx.spark, ns)
        t1 = time.perf_counter()
        drain = {"wall_s": t1 - t0}
        if progress is not None:
            n_batches = len(progress.batches)
            bus.waitUntilEmpty()
            drain["batches"] = progress.batches[n_batches:]
            trace_s += time.perf_counter() - t1
        new = _committed(out, seen_epochs)
        drain["files"] = len(new)
        drains.append(drain)
        for name, n in new.items():
            committed.setdefault(name, []).append(n)
            fresh[name] = t1 - lander.due[name]
            service[name] = t1 - t0
        if finished and len(committed) >= len(lander.truth):
            break
    cpu = procstat.tree_cpu_s() - cpu0
    peak = rss.stop()
    ctx.record["peak_rss_parts_mb"] = rss.parts()
    if progress is not None:
        ctx.spark.streams.removeListener(progress)
    lander.join()
    if lander.error is not None:
        raise lander.error

    for name, truth in lander.truth.items():
        ctx.check(committed.get(name) == [truth.events],
                  f"trickle: {name} committed as {committed.get(name)}, "
                  f"want [{truth.events}]")
    ctx.check(set(committed) <= set(lander.truth),
              "trickle: unknown files committed")
    busy = sum(d["wall_s"] for d in drains)
    shipped = sum(sum(v) for v in committed.values())
    last_done = max(lander.due[n] + f for n, f in fresh.items())
    ctx.record.update({"files": len(lander.truth), "drains": len(drains),
                       "generator_max_late_s": lander.max_late_s,
                       "busy_s": busy})
    if ctx.trace:
        return _trace_trickle(drains, trace_s), len(lander.truth)
    metrics = op_metrics(fresh=list(fresh.values()),
                         service=list(service.values()),
                         passes=[last_done - lander.t0],
                         events_per_s=shipped / busy)
    metrics["cpu_s"] = cpu
    metrics["peak_rss_mb"] = peak
    return metrics, len(lander.truth)


def _trace_trickle(drains: list[dict], trace_s: float) -> dict:
    batches = [b for d in drains for b in d["batches"] if b["rows"]]
    m = {"streaming.jobs.streaming_ingest.drain_s":
         statistics.median(d["wall_s"] for d in drains),
         "streaming.jobs.streaming_ingest.files_per_drain":
         statistics.mean(d["files"] for d in drains),
         "streaming.jobs.streaming_ingest.startup_s": statistics.median(
             d["wall_s"] - sum(b["triggerExecution"] for b in d["batches"])
             for d in drains),
         "streaming.progress.batches_per_drain": statistics.mean(
             len(d["batches"]) for d in drains),
         "trace.overhead_s": trace_s}
    for phase in PHASES[:-1]:
        m[f"streaming.progress.{phase}_s"] = (
            statistics.median(b[phase] for b in batches) if batches else 0.0)
    return m


# ---------------------------------------------------------------- queries

def _run_pass(ctx: Ctx, fns: dict, sf_dir: str, jg: JobGroups | None,
              results: dict | None) -> tuple[list[dict], float]:
    """One pass over the query list; returns per-query samples and the
    pass's peak memory. Each result is persisted, hashed in full (the
    timed action), then fetched from the cache for the check."""
    samples = []
    rss = procstat.PeakRss().start()
    for name in query_list.QUERIES:
        ctx.spark.catalog.clearCache()
        stats: dict = {"name": name}
        cpu0 = procstat.tree_cpu_s()
        try:
            if jg is None:
                t0 = time.perf_counter()
                df = query_list.timed_action(fns[name], ctx.spark, sf_dir)
                stats["wall_s"] = time.perf_counter() - t0
            else:
                with jg.group(stats):
                    df = query_list.timed_action(fns[name], ctx.spark,
                                                 sf_dir)
        except Exception as e:  # noqa: BLE001 (a failed operation)
            ctx.check(False, f"{name}: {type(e).__name__}: {e}"[:300])
            continue
        stats["cpu_s_tree"] = procstat.tree_cpu_s() - cpu0
        if results is not None:
            results[name] = df.toPandas()
        df.unpersist()
        samples.append(stats)
    peak = rss.stop()
    ctx.record["peak_rss_parts_mb"] = rss.parts()
    return samples, peak


def _check_queries(ctx: Ctx, sf_dir: str, results: dict) -> None:
    from kinesis_s3_data_shipper_spark.plans import all_oracles
    from tests.oracle_harness import compare_pdfs, duckdb_connection
    oracles = all_oracles()
    con = duckdb_connection(sf_dir)
    n_truth = len(ground_truth_events())
    for name, got in results.items():
        try:
            if name in oracles:
                compare_pdfs(got, con.sql(oracles[name]).df(), name)
            else:
                assert len(got) == n_truth, (
                    f"{name}: {len(got)} rows, want {n_truth}")
        except AssertionError as e:
            ctx.check(False, str(e)[:300])


def query_mix(ctx: Ctx) -> tuple[dict, int]:
    from kinesis_s3_data_shipper_spark.plans import all_queries
    sf_dir = ctx.path("sf")
    ctx.record["tables"] = tablegen.write(sf_dir, ctx.size["sf"], ctx.seed)
    fns = all_queries()
    missing = [q for q in query_list.QUERIES if q not in fns]
    if missing:
        raise SystemExit(f"queries not registered: {missing}")
    spark = ctx.spark
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for name in query_list.WARMUP:
        query_list.timed_action(fns[name], spark, sf_dir).unpersist()
    jg = JobGroups(spark) if ctx.trace else None
    passes: list[list[dict]] = []
    peaks: list[float] = []
    results: dict = {}
    t_start = time.perf_counter()
    while not passes or (not ctx.trace
                         and time.perf_counter() - t_start < ctx.seconds):
        samples, peak = _run_pass(ctx, fns, sf_dir, jg,
                                  results if not passes else None)
        passes.append(samples)
        peaks.append(peak)
    ctx.record["passes"] = len(passes)
    ctx.record["query_s"] = {s["name"]: s["wall_s"] for s in passes[0]}
    _check_queries(ctx, sf_dir, results)
    if jg is not None:
        return (_trace_queries(passes[0], fns, jg.overhead_s),
                len(passes[0]))
    walls = [[s["wall_s"] for s in p] for p in passes]
    ingest = [s["wall_s"] for p in passes for s in p
              if s["name"] in query_list.INGEST]
    metrics = op_metrics(
        fresh=[t for w in walls for t in itertools.accumulate(w)],
        service=[t for w in walls for t in w],
        passes=[sum(w) for w in walls],
        events_per_s=len(ground_truth_events()) * len(ingest) / sum(ingest))
    metrics["cpu_s"] = statistics.median(
        sum(s["cpu_s_tree"] for s in p) for p in passes)
    metrics["peak_rss_mb"] = max(peaks)
    return metrics, sum(len(p) for p in passes)


def _trace_queries(traced: list[dict], fns: dict, trace_s: float) -> dict:
    m = {f"plans.{mod}.{k}": 0.0 for mod in query_list.MODULES
         for k in ("s", "task_s", "cpu_s", "shuffle_mb", "jobs")}
    for s in traced:
        mod = fns[s["name"]].__module__.rsplit(".", 1)[-1]
        m[f"plans.{mod}.s"] += s["wall_s"]
        for k in ("task_s", "cpu_s", "shuffle_mb", "jobs"):
            m[f"plans.{mod}.{k}"] += s.get(k, 0.0)
    m["trace.overhead_s"] = trace_s
    return m


WORKLOADS = {"ship_backlog": ship_backlog, "ship_trickle": ship_trickle,
             "query_mix": query_mix}
