"""The benchmark's workloads, each a closed loop with one client.

Every workload drives the program only through its public API
(``start_pipeline``, ``audit_sink_output``, ``start_ingest_pipeline``,
``build_dedup_index``, ``read_ingest_packs``). The loop feeds one pre-written
input file into the stream's source directory, waits until Spark commits that
epoch, then feeds the next, until ``--seconds`` have passed (at least one
epoch). Inputs come from ``gen.py`` before any timed region.

A run returns a ``Result``: the end-to-end metrics (tracing off) or the
per-layer metrics (tracing on), and the output checks, which run after the
timed region.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.spark_stats import peak_rss_mb, read_store, union_length, window_counters
from perfbench.tracer import Tracer

SETUP_REPEATS = 3
AUDIT_REPEATS = 3  # timed read-backs
# untimed read-backs come first until this much time is spent: the ingest's
# read path kept getting faster over its first three or four calls
AUDIT_WARMUP_S = 2.5
REPEAT_BUDGET_S = 4.0  # stop repeating a timed call once it has cost this
EPOCH_TIMEOUT_S = 170.0


@dataclass
class Context:
    spark: object
    work: str  # scratch directory of this run, inside the checkout
    inputs: str  # per-seed input cache, inside the checkout
    seed: int
    seconds: float
    scale: str
    cores: int
    session_s: float  # SparkSession start, measured by the caller
    tracer: Tracer | None = None


@dataclass
class Result:
    metrics: dict  # name -> value
    attempted: int
    failed: int
    problems: list = field(default_factory=list)  # failed output checks
    record: dict = field(default_factory=dict)  # extra run-record fields


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples):
    """The highest percentile that still has at least ten samples beyond it:
    (percentile, value), or (None, max) when there are fewer than eleven."""
    xs = sorted(samples)
    n = len(xs)
    if n < 11:
        return None, (xs[-1] if xs else 0.0)
    idx = n - 11  # ten samples lie above index n-11
    return 100.0 * (idx + 1) / n, xs[idx]


def _repeat(fn):
    """Call ``fn`` untimed until AUDIT_WARMUP_S have passed (JIT and plan
    cache warm-up, at least one call), then AUDIT_REPEATS times timed.
    Returns (wall times, the last result)."""
    t0 = time.perf_counter()
    out = fn()
    while time.perf_counter() - t0 < AUDIT_WARMUP_S:
        out = fn()
    times = []
    for _ in range(AUDIT_REPEATS):
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    return times, out


class _Phases:
    """Wall time of each phase of a run, for the run record."""

    def __init__(self):
        self.spent: dict = {}
        self._t = time.perf_counter()

    def mark(self, name: str) -> None:
        now = time.perf_counter()
        self.spent[name] = round(now - self._t, 3)
        self._t = now


def _inputs_dir(ctx: Context, name: str) -> str:
    """Cache directory of this (input set, seed, scale, generator source).
    Caches of other keys of the same input set are dropped first: a sink
    backlog is ~100 MB, and a sweep over many seeds would otherwise fill the
    checkout's disk."""
    key = f"{name}-{ctx.seed}-{ctx.scale}-{gen.source_digest()}"
    os.makedirs(ctx.inputs, exist_ok=True)
    for other in os.listdir(ctx.inputs):
        if other.startswith(f"{name}-") and other != key:
            shutil.rmtree(os.path.join(ctx.inputs, other), ignore_errors=True)
    return os.path.join(ctx.inputs, key)


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


class ClosedLoop:
    """Feeds backlog files into a stream's source directory one at a time;
    the next file goes in only after the previous epoch commits."""

    def __init__(self, files: list[str], src_dir: str):
        self.files = files
        self.src_dir = src_dir
        self.fed = 0

    def feed(self) -> None:
        path = self.files[self.fed]
        dst = os.path.join(self.src_dir, f"f{self.fed:05d}.parquet")
        # hard link: instant, keeps the cached input, and the rename-free
        # link is atomic, so the file source never lists a partial file
        os.link(path, dst)
        now = time.time()
        os.utime(dst, (now, now))
        self.fed += 1

    @staticmethod
    def wait_commit(query, batch_id: int) -> dict:
        deadline = time.time() + EPOCH_TIMEOUT_S
        while True:
            p = query.lastProgress
            if p and p["batchId"] >= batch_id and p["numInputRows"] > 0:
                return p
            if not query.isActive:
                raise RuntimeError(f"query stopped: {query.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"epoch {batch_id} did not commit")
            time.sleep(0.005)

    def run(self, query, seconds: float):
        """Drain until ``seconds`` elapsed (at least one epoch) or the backlog
        is exhausted. Returns (wall seconds, per-epoch progress dicts)."""
        t0 = time.time()
        while self.fed < len(self.files) and (self.fed == 0 or time.time() - t0 < seconds):
            self.feed()
            self.wait_commit(query, self.fed - 1)
        wall = time.time() - t0
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        return wall, progress


def _stream(spark, schema, src_dir):
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("maxFileAge", "3650d")
        .parquet(src_dir)
    )


def _failed_epochs(progress, stages) -> int:
    """Epochs whose trigger window holds a stage with failed tasks."""
    bad = 0
    for p in progress:
        lo = _progress_start(p)
        hi = lo + p["durationMs"]["triggerExecution"] / 1000.0
        if any(s.failed_tasks and lo <= s.start < hi for s in stages):
            bad += 1
    return bad


def _progress_start(p) -> float:
    from datetime import datetime

    return datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def _epoch_stats(progress) -> dict:
    trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
    add = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in progress]
    pct, tail = tail_percentile(trig)
    return {
        "trigger": trig,
        "add": add,
        "tail_pct": pct,
        "tail": tail,
    }


# -- sink workloads ------------------------------------------------------------


def _sink_config(kind: str, checkpoint: str):
    from kafka_connector_s3_sink_spark.config import (
        CompressionType,
        EngineConfig,
        FieldEncoding,
        FormatType,
        OutputField,
    )

    if kind == "drain":
        # the reference's defaults (CSV + gzip + topic/partition/start-offset
        # names, base64 values), chunked so every partition rotates objects
        return EngineConfig(
            output_fields=(
                OutputField.KEY, OutputField.OFFSET, OutputField.TIMESTAMP,
                OutputField.VALUE,
            ),
            file_max_records=100,
            checkpoint_location=checkpoint,
            flush_interval_ms=0,
        )
    # compacted-topic snapshot: one object per key, later epochs overwrite
    return EngineConfig(
        file_name_template="{{key}}",
        file_max_records=1,
        format_type=FormatType.JSONL,
        file_compression=CompressionType.NONE,
        output_fields=(OutputField.KEY, OutputField.OFFSET, OutputField.VALUE),
        value_encoding=FieldEncoding.NONE,
        checkpoint_location=checkpoint,
        flush_interval_ms=0,
    )


def run_sink(ctx: Context, kind: str) -> Result:
    from kafka_connector_s3_sink_spark.records import KAFKA_RECORD_SCHEMA
    from kafka_connector_s3_sink_spark.sources.audit import audit_sink_output
    from kafka_connector_s3_sink_spark.streaming import start_pipeline

    spark, tr = ctx.spark, ctx.tracer
    phases = _Phases()
    scale = gen.SINK_SCALES[(kind, ctx.scale)]
    inputs = gen.sink_backlog(_inputs_dir(ctx, f"sink_{kind}"), kind, ctx.seed, scale)
    backlog = sorted(
        os.path.join(inputs, "backlog", f)
        for f in os.listdir(os.path.join(inputs, "backlog"))
    )
    audit_file = os.path.join(inputs, "audit", "a.parquet")

    phases.mark("inputs")
    # set-up: start the sink query SETUP_REPEATS times on fresh checkpoints.
    # The first repetition also drains the epoch-sized audit file (a topic of
    # its own): that warms the JVM and the Python workers for the timed drain,
    # and its destination is the fixed-size object set the audit is timed on
    starts, audit_dest = [], None
    for r in range(SETUP_REPEATS):
        base = _fresh(os.path.join(ctx.work, f"setup{r}"))
        src = _fresh(os.path.join(base, "src"))
        t = time.perf_counter()
        q = start_pipeline(
            _stream(spark, KAFKA_RECORD_SCHEMA, src),
            _sink_config(kind, os.path.join(base, "ckpt")),
            os.path.join(base, "dest"),
            query_name=f"setup-{r}",
        )
        starts.append(time.perf_counter() - t)
        try:
            if r == 0:
                ClosedLoop([audit_file], src).run(q, 0)
                audit_dest = os.path.join(base, "dest")
        finally:
            q.stop()

    phases.mark("setup")
    base = _fresh(os.path.join(ctx.work, "drain"))
    src = _fresh(os.path.join(base, "src"))
    dest = os.path.join(base, "dest")
    cfg = _sink_config(kind, os.path.join(base, "ckpt"))
    query = start_pipeline(_stream(spark, KAFKA_RECORD_SCHEMA, src), cfg, dest)
    loop = ClosedLoop(backlog, src)
    if tr is not None:
        _wrap_sink_layers(tr)
    try:
        if tr is not None:
            with tr.span("bench.drain", trace_id="drain"):
                wall, progress = loop.run(query, ctx.seconds)
        else:
            wall, progress = loop.run(query, ctx.seconds)
    finally:
        query.stop()
        if tr is not None:
            tr.unwrap_all()
    records = loop.fed * scale.records_per_file
    ep = _epoch_stats(progress)
    phases.mark("drain")

    # the audit is timed on the set-up destination, whose size does not
    # depend on how many epochs the drain managed
    audit_times, audit_rows = _repeat(
        lambda: audit_sink_output(spark, audit_dest, cfg).collect()
    )

    phases.mark("audit")
    stages, jobs = read_store(spark)
    failed = _failed_epochs(progress, stages)
    check = check_drain if kind == "drain" else check_fanout
    problems = (
        check(dest, backlog[: loop.fed], None)
        + check(audit_dest, [audit_file], audit_rows)
    )
    phases.mark("checks")
    record = {
        "epochs": len(progress),
        "records": records,
        "epoch_tail_percentile": ep["tail_pct"],
        "epoch_samples": len(ep["trigger"]),
        "epoch_trigger_s": ep["trigger"],
        "setup_query_start_s": starts,
        "audit_s": audit_times,
        "phase_s": phases.spent,
    }
    if tr is None:
        metrics = {
            "setup_s": ctx.session_s + _median(starts),
            "records_per_s": records / wall,
            "epoch_p50_s": _median(ep["trigger"]),
            "audit_s": _median(audit_times),
        }
    else:
        metrics = _sink_layer_metrics(
            ctx, cfg, dest, audit_dest, audit_file, progress, records, audit_times
        )
    return Result(metrics, attempted=len(progress), failed=failed,
                  problems=problems, record=record)


def _wrap_sink_layers(tr: Tracer) -> None:
    from kafka_connector_s3_sink_spark.streaming import pipeline

    counter = iter(range(1 << 30))
    tr.wrap(pipeline, "write_batch", "writer.write_batch",
            trace_id=lambda a, k: f"epoch-{next(counter)}")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(tr: Tracer, name: str, fn, repeats: int = 3):
    """Median wall time of ``fn`` over up to ``repeats`` calls, each in a
    span; repeating stops once the calls have cost REPEAT_BUDGET_S."""
    times = []
    while len(times) < repeats and sum(times) < REPEAT_BUDGET_S:
        with tr.span(name, trace_id="probe") as sp:
            fn()
        times.append(sp.end - sp.start)
    return _median(times)


def _span_counters(ctx, stages, jobs, spans):
    """Window counters summed over ``spans``."""
    out: dict = {}
    for sp in spans:
        for k, v in window_counters(stages, jobs, sp.start, sp.end, ctx.cores).items():
            out[k] = out.get(k, 0) + v
    return out


def _zero_layer_metrics() -> dict:
    return {name: 0.0 for name in PER_LAYER_NAMES}


def _objects(root):
    """(relative name, bytes) of every object under ``root``, skipping the
    sink's hidden and ``_``-prefixed bookkeeping files."""
    out = []
    for dirpath, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(dirpath, f)
                with open(p, "rb") as fh:
                    out.append((os.path.relpath(p, root), fh.read()))
    return out


def _sink_layer_metrics(ctx, cfg, dest, audit_dest, audit_file, progress,
                        records, audit_times) -> dict:
    """Traced run: counters of the drain, then one-layer probes on the
    epoch-sized audit file (each probe executes exactly one layer's public
    call)."""
    from kafka_connector_s3_sink_spark.formats.compression import (
        compress_bytes,
        decompress_bytes,
    )
    from kafka_connector_s3_sink_spark.formats.render import record_line_column
    from kafka_connector_s3_sink_spark.records import KAFKA_RECORD_SCHEMA
    from kafka_connector_s3_sink_spark.sinks.storage import ObjectStorage
    from kafka_connector_s3_sink_spark.sinks.writer import (
        prepare_with_filenames,
        write_batch,
    )
    from kafka_connector_s3_sink_spark.sources.objects import read_sink_objects

    spark, tr = ctx.spark, ctx.tracer
    m = _zero_layer_metrics()
    drain_span = tr.named("bench.drain")[0]
    epoch_spans = tr.named("writer.write_batch")

    df = spark.read.schema(KAFKA_RECORD_SCHEMA).parquet(audit_file)
    probe_dest = _fresh(os.path.join(ctx.work, "probe"))
    m["grouping.prepare_s"] = _timed(
        tr, "grouping.prepare", lambda: _noop(prepare_with_filenames(df, cfg))
    )
    m["render.render_s"] = _timed(
        tr, "render.render",
        lambda: _noop(df.select(record_line_column(cfg, df.schema))),
    )
    m["writer.write_s"] = _timed(
        tr, "writer.write",
        lambda: write_batch(df, cfg, _fresh(os.path.join(probe_dest, "w"))),
    )

    written = _objects(os.path.join(probe_dest, "w"))
    raw = [decompress_bytes(b, cfg.file_compression) for _, b in written]

    def compress_all():
        return sum(len(compress_bytes(r, cfg.file_compression)) for r in raw)

    m["compression.compress_s"] = _timed(tr, "compression.compress", compress_all)
    m["compression.ratio"] = sum(len(r) for r in raw) / max(compress_all(), 1)

    def commit_all():
        store = ObjectStorage(_fresh(os.path.join(probe_dest, "c")))
        for name, body in written:
            with store.open_output(name) as out:
                out.write(body)

    m["storage.commit_s"] = _timed(tr, "storage.commit", commit_all)

    audited = _parquet_rows(audit_file)
    read_s = _timed(
        tr, "readback.read",
        lambda: _noop(read_sink_objects(spark, audit_dest, cfg, parse_names=True)),
    )
    m["readback.read_s"] = read_s
    m["readback.records_per_s"] = audited / read_s
    m["audit.aggregate_s"] = max(_median(audit_times) - read_s, 0.0)

    n_obj = n_bytes = 0
    for dirpath, dirs, files in os.walk(dest):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for f in files:
            if not f.startswith((".", "_")):
                n_obj += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
    m["storage.objects"] = n_obj
    m["storage.bytes"] = n_bytes
    m["storage.bytes_per_record"] = n_bytes / max(records, 1)

    stages, jobs = read_store(spark)
    m.update(window_counters(stages, jobs, drain_span.start, drain_span.end, ctx.cores))
    grp = _span_counters(ctx, stages, jobs, tr.named("grouping.prepare"))
    m["grouping.shuffle_bytes"] = (
        grp.get("spark.shuffle_write_bytes", 0) / len(tr.named("grouping.prepare"))
    )
    wr_spans = tr.named("writer.write")
    wr = _span_counters(ctx, stages, jobs, wr_spans)
    wr_wall = sum(s.end - s.start for s in wr_spans)
    m["writer.core_busy_share"] = wr.get("spark.task_s", 0) / (wr_wall * ctx.cores)
    m["writer.tasks_max"] = max(
        (s.tasks for s in stages
         if any(w.start <= s.start < w.end for w in wr_spans)),
        default=0,
    )
    _pipeline_metrics(m, progress)
    m["writer.epoch_write_s"] = _median([s.end - s.start for s in epoch_spans])
    _trace_metrics(m, tr, drain_span, epoch_spans, progress)
    m.update(peak_rss_mb(spark))
    return m


def _pipeline_metrics(m: dict, progress) -> None:
    ep = _epoch_stats(progress)
    m["pipeline.epochs"] = len(progress)
    m["pipeline.add_batch_s"] = _median(ep["add"])
    m["pipeline.epoch_overhead_s"] = _median(
        [t - a for t, a in zip(ep["trigger"], ep["add"])]
    )
    m["pipeline.epoch_tail_s"] = ep["tail"]


def _trace_metrics(m: dict, tr: Tracer, region, epoch_spans, progress,
                   excluded_s: float = 0.0) -> None:
    """Reconciliation and overhead. The blocking path of an epoch is the
    tracer's span around the program's per-epoch call (``epoch_spans``)
    plus the trigger time Spark spends outside ``addBatch`` (planning,
    offsets, commit log). ``trace.covered_share`` is the time that path
    accounts for over the untraced part of the measured region; what is
    left is the closed loop's feed-and-detect gap and the ``foreachBatch``
    hand-off. ``trace.overhead_s`` is, per epoch, the tracer's own
    bookkeeping plus ``excluded_s`` (probe actions the tracer adds)."""
    ep = _epoch_stats(progress)
    n = max(len(epoch_spans), 1)
    spanned = sum(s.end - s.start for s in epoch_spans) - excluded_s
    outside_add = sum(t - a for t, a in zip(ep["trigger"], ep["add"]))
    wall = (region.end - region.start) - excluded_s
    m["trace.covered_share"] = (spanned + outside_add) / wall
    m["trace.overhead_s"] = (tr.overhead_s + excluded_s) / n


# -- sink output checks ----------------------------------------------------------


def _columns(path, names):
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=names)
    return zip(*(t.column(n).to_pylist() for n in names))


def check_drain(dest, fed_files, audit_rows) -> list[str]:
    """Every fed (topic, partition, offset) read back exactly once with its
    value, and each object's name carries its first offset. Objects are
    parsed here directly from the destination (gzip CSV of base64 key,
    offset, timestamp, base64 value), independently of the program's reader,
    and compared record by record with the input. ``audit_rows``, when
    given, add contiguity (``gap_after``), decoding and manifest counts as
    the program's audit reports them."""
    import base64
    import gzip

    want = {}
    for f in fed_files:
        for topic, part, off, value in _columns(f, ["topic", "partition", "offset", "value"]):
            want[(topic, part, off)] = value
    seen, twice, wrong, problems = set(), 0, 0, []
    for name in os.listdir(dest):
        if name.startswith((".", "_")):
            continue
        topic, part, start = name[: -len(".gz")].rsplit("-", 2)
        with open(os.path.join(dest, name), "rb") as fh:
            lines = gzip.decompress(fh.read()).decode().splitlines()
        offsets = []
        for line in lines:
            _, off, _, value = line.split(",")
            key = (topic, int(part), int(off))
            offsets.append(key[2])
            twice += key in seen
            seen.add(key)
            wrong += want.get(key) != base64.b64decode(value).decode()
        if offsets and min(offsets) != int(start):
            problems.append(f"drain: {name} starts at offset {min(offsets)}")
    if twice:
        problems.append(f"drain: {twice} offsets read back twice")
    missing = want.keys() - seen
    if missing:
        problems.append(f"drain: {len(missing)} offsets missing, e.g. {min(missing)}")
    if wrong:
        problems.append(f"drain: {wrong} records read back with another value "
                        "or at an offset never fed")
    if audit_rows is not None:
        gaps = [r["gap_after"] for r in audit_rows if r["gap_after"] not in (None, 0)]
        if gaps:
            problems.append(f"drain: {len(gaps)} objects with gap_after != 0")
        bad = [r["object_name"] for r in audit_rows
               if r["decode_error"] is not None or r["manifest_ok"] is False]
        if bad:
            problems.append(f"drain: {len(bad)} objects fail decode/manifest, e.g. {bad[0]}")
        if sum(r["records"] for r in audit_rows) != len(want):
            problems.append("drain: audit record count differs from the input")
    return problems


def check_fanout(dest, fed_files, audit_rows) -> list[str]:
    """Read-back equals the last value per key over the whole drained
    backlog, one object per key. Objects are parsed here directly from the
    destination (one JSON line each), independently of the program's reader;
    ``audit_rows``, when given, must count one record per object."""
    import json

    expected: dict = {}
    for f in fed_files:
        for key, off, value in _columns(f, ["key", "offset", "value"]):
            cur = expected.get(key)
            if cur is None or off > cur[0]:
                expected[key] = (off, json.loads(value))
    problems, seen = [], {}
    for name in os.listdir(dest):
        if name.startswith((".", "_")):
            continue
        with open(os.path.join(dest, name)) as fh:
            lines = fh.read().splitlines()
        if len(lines) != 1:
            problems.append(f"fanout: object {name} holds {len(lines)} records")
            continue
        rec = json.loads(lines[0])
        seen[rec["key"]] = (rec["offset"], rec["value"])
    if seen != expected:
        wrong = sum(1 for k in expected.keys() | seen.keys()
                    if expected.get(k) != seen.get(k))
        problems.append(f"fanout: {wrong} of {len(expected)} keys differ "
                        "from the last value per key")
    if audit_rows is not None:
        multi = [r["object_name"] for r in audit_rows if r["records"] != 1]
        if multi or len(audit_rows) != len(expected):
            problems.append(f"fanout: audit saw {len(audit_rows)} objects for "
                            f"{len(expected)} keys, {len(multi)} not of one record")
    return problems


# -- corpus ingest -----------------------------------------------------------------

MIN_QUALITY = 0.5
DOC_SCHEMA = "doc_id long, text string"


def _ingest_config(base: str, prefix: str, index_location: str):
    from kafka_connector_s3_sink_spark.streaming.ingest import IngestConfig

    return IngestConfig(
        index_prefix=prefix,
        index_location=index_location,
        dest_dir=os.path.join(base, "dest"),
        checkpoint_location=os.path.join(base, "ckpt"),
        min_quality=MIN_QUALITY,
        pack_shards=4,
    )


def run_ingest(ctx: Context) -> Result:
    from kafka_connector_s3_sink_spark.operators.incremental import build_dedup_index
    from kafka_connector_s3_sink_spark.streaming.ingest import (
        read_ingest_packs,
        start_ingest_pipeline,
    )

    spark, tr = ctx.spark, ctx.tracer
    phases = _Phases()
    scale = gen.CORPUS_SCALES[ctx.scale]
    inputs = gen.corpus_inputs(_inputs_dir(ctx, "corpus"), ctx.seed, scale)
    phases.mark("inputs")
    crawl = sorted(
        os.path.join(inputs, "crawl", f)
        for f in os.listdir(os.path.join(inputs, "crawl"))
    )
    base = _fresh(os.path.join(ctx.work, "ingest"))
    index_location = os.path.join(base, "index")

    # set-up: build the dedup index over the accepted corpus; the last
    # repetition's index is the one the stream classifies against
    builds = []
    for r in range(SETUP_REPEATS):
        t = time.perf_counter()
        build_dedup_index(
            spark.read.parquet(os.path.join(inputs, "base.parquet")),
            f"bench{r}", index_location,
        )
        builds.append(time.perf_counter() - t)
    prefix = f"bench{SETUP_REPEATS - 1}"
    phases.mark("setup")

    cfg = _ingest_config(base, prefix, index_location)
    src = _fresh(os.path.join(base, "src"))
    query = start_ingest_pipeline(
        _stream(spark, DOC_SCHEMA, src), cfg, trigger={"processingTime": "0 seconds"}
    )
    loop = ClosedLoop(crawl, src)
    if tr is not None:
        probes = _wrap_ingest_layers(tr)
    try:
        if tr is not None:
            with tr.span("bench.ingest", trace_id="ingest"):
                wall, progress = loop.run(query, ctx.seconds)
        else:
            wall, progress = loop.run(query, ctx.seconds)
    finally:
        query.stop()
        if tr is not None:
            tr.unwrap_all()
    n_docs = sum(_parquet_rows(f) for f in crawl[: loop.fed])
    phases.mark("drain")

    reads, _ = _repeat(lambda: read_ingest_packs(spark, cfg.dest_dir, verify=True))

    phases.mark("audit")
    stages, jobs = read_store(spark)
    failed = _failed_epochs(progress, stages)
    problems, quality = check_ingest(spark, inputs, cfg, loop.fed)
    phases.mark("checks")
    ep = _epoch_stats(progress)
    record = {
        "epochs": len(progress),
        "docs": n_docs,
        "epoch_samples": len(ep["trigger"]),
        "setup_index_build_s": builds,
        "audit_s": reads,
        "phase_s": phases.spent,
        "near_dup_recall": quality["dedup.near_dup_recall"],
    }
    if tr is None:
        metrics = {
            "setup_s": ctx.session_s + _median(builds),
            "records_per_s": n_docs / wall,
            "epoch_p50_s": _median(ep["trigger"]),
            "audit_s": _median(reads),
        }
    else:
        metrics = _ingest_layer_metrics(ctx, progress, quality, probes,
                                        stages, jobs)
    return Result(metrics, attempted=len(progress), failed=failed,
                  problems=problems, record=record)


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


INGEST_STAGES = {
    "ingest.quality": ("ingest", "quality_score"),
    "ingest.cascade": ("dedup", "dedup_cascade"),
    "ingest.classify": ("incremental", "incremental_dedup"),
    "ingest.append": ("incremental", "append_to_index"),
    "ingest.split": ("sampling", "hash_split"),
    "ingest.pack": ("packing", "pack_sequences"),
}


def _wrap_ingest_layers(tr: Tracer) -> dict:
    """Wrap the ladder's calls. ``process_crawl_batch`` reaches every stage
    through a module attribute (or a name imported into ``ingest``), so the
    wrappers intercept the live calls. Returns the probe record the
    connected-components and candidate-pair wrappers fill in."""
    from kafka_connector_s3_sink_spark.operators import dedup, incremental, packing, sampling
    from kafka_connector_s3_sink_spark.streaming import ingest

    mods = {"ingest": ingest, "dedup": dedup, "incremental": incremental,
            "sampling": sampling, "packing": packing}
    probes = {"cc_rounds": [], "candidate_pairs": 0}
    tr.wrap(ingest, "process_crawl_batch", "ingest.epoch",
            trace_id=lambda a, k: f"epoch-{a[1]}")
    for name, (mod, attr) in INGEST_STAGES.items():
        tr.wrap(mods[mod], attr, name)

    orig_cc = dedup.connected_components

    def cc_with_stats(*args, **kwargs):
        stats = kwargs.get("stats")
        if stats is None:
            stats = kwargs["stats"] = {}
        out = orig_cc(*args, **kwargs)
        probes["cc_rounds"].append(stats.get("rounds", 0))
        return out

    tr.patch(dedup, "connected_components", cc_with_stats)
    tr.wrap(dedup, "connected_components", "dedup.connected_components")

    def count_pairs(sp, result):
        # an extra action, in its own span so layer self-times exclude it
        if any(s.name == "ingest.cascade" for s in _ancestors(tr, sp)):
            with tr.span("trace.probe"):
                probes["candidate_pairs"] += result.count()

    tr.wrap(dedup, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs", after=count_pairs)
    return probes


def _ancestors(tr: Tracer, sp):
    by_id = {s.span_id: s for s in tr.spans}
    while sp.parent is not None:
        sp = by_id[sp.parent]
        yield sp


def _less_probes(tr: Tracer, spans) -> float:
    """Summed duration of ``spans`` minus the probe actions inside them."""
    probes = [(p.start, p.end) for p in tr.named("trace.probe")]
    return sum(
        (s.end - s.start) - union_length(probes, s.start, s.end) for s in spans
    )


def _ingest_layer_metrics(ctx, progress, quality, probes, stages, jobs) -> dict:
    """Traced run. The candidate-pair count is an extra action the program
    does not run; its ``trace.probe`` spans are taken out of every time and
    Spark counter below and reported as tracing overhead instead."""
    spark, tr = ctx.spark, ctx.tracer
    m = _zero_layer_metrics()
    region = tr.named("bench.ingest")[0]
    epochs = tr.named("ingest.epoch")
    n = max(len(epochs), 1)
    probe_spans = tr.named("trace.probe")
    probe_s = sum(s.end - s.start for s in probe_spans)
    in_probes = _span_counters(ctx, stages, jobs, probe_spans)

    def less(counters):
        return {k: v - in_probes.get(k, 0) for k, v in counters.items()}

    m.update(less(window_counters(stages, jobs, region.start, region.end, ctx.cores)))
    wall = (region.end - region.start) - probe_s
    m["spark.core_busy_share"] = m["spark.task_s"] / (wall * ctx.cores)
    for name in INGEST_STAGES:
        m[f"{name}_s"] = _less_probes(tr, tr.named(name)) / n
    m["ingest.write_s"] = sum(tr.self_time(s) for s in epochs) / n
    per_epoch = less(_span_counters(ctx, stages, jobs, epochs))
    m["ingest.jobs_per_epoch"] = per_epoch.get("spark.jobs", 0) / n
    m["ingest.stages_per_epoch"] = per_epoch.get("spark.stages", 0) / n
    m["dedup.cc_rounds"] = max(probes["cc_rounds"], default=0)
    m["dedup.candidate_pairs"] = probes["candidate_pairs"] / n
    m.update(quality)
    _pipeline_metrics(m, progress)
    m["pipeline.add_batch_s"] -= probe_s / n
    m["pipeline.epoch_tail_s"] -= probe_s / n
    _trace_metrics(m, tr, region, epochs, progress, excluded_s=probe_s)
    m.update(peak_rss_mb(spark))
    return m


def check_ingest(spark, inputs, cfg, fed: int):
    """Every exact duplicate and junk document dropped, no original dropped.
    Near-dup recall is measured, not gated. Returns (problems, quality
    counters)."""
    import pyarrow.parquet as pq

    truth = pq.read_table(os.path.join(inputs, "truth.parquet")).to_pylist()
    truth = [t for t in truth if t["epoch"] < fed]
    kept = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(cfg.dest_dir, "documents"))
        .select("doc_id").collect()
    }
    problems = []
    by_kind: dict = {}
    for t in truth:
        by_kind.setdefault(t["kind"], []).append(t["doc_id"])
    for kind in ("original", "chain_head"):
        lost = [d for d in by_kind.get(kind, []) if d not in kept]
        if lost:
            problems.append(f"ingest: {len(lost)} {kind} docs dropped, e.g. {lost[0]}")
    for kind in ("hist_exact", "epoch_exact", "junk"):
        leaked = [d for d in by_kind.get(kind, []) if d in kept]
        if leaked:
            problems.append(f"ingest: {len(leaked)} {kind} docs kept, e.g. {leaked[0]}")
    exact = by_kind.get("hist_exact", []) + by_kind.get("epoch_exact", [])
    near = by_kind.get("hist_near", []) + by_kind.get("chain", [])
    metrics_rows = spark.read.parquet(os.path.join(cfg.dest_dir, "metrics")).collect()
    stats = spark.read.parquet(os.path.join(cfg.dest_dir, "pack_stats")).collect()
    packs = sum(r["n_packs"] for r in stats)
    tokens = sum(r["n_tokens"] for r in stats)
    quality = {
        "dedup.exact_dropped": sum(1 for d in exact if d not in kept),
        "dedup.near_dup_recall": (
            sum(1 for d in near if d not in kept) / len(near) if near else 1.0
        ),
        "incremental.history_hits": sum(r["n_exact_dup"] + r["n_near_dup"]
                                        for r in metrics_rows),
        "packing.packs": packs,
        "packing.fill_ratio": tokens / (packs * cfg.ctx_len) if packs else 0.0,
    }
    return problems, quality


# -- registry ----------------------------------------------------------------------

WORKLOADS = {
    "sink_drain": lambda ctx: run_sink(ctx, "drain"),
    "sink_fanout": lambda ctx: run_sink(ctx, "fanout"),
    "corpus_ingest": run_ingest,
}

END_TO_END = {
    "setup_s": "s",
    "records_per_s": "rec/s",
    "epoch_p50_s": "s",
    "audit_s": "s",
}

PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.core_busy_share": "ratio",
    "spark.driver_only_s": "s",
    "pipeline.epochs": "count",
    "pipeline.add_batch_s": "s",
    "pipeline.epoch_overhead_s": "s",
    "pipeline.epoch_tail_s": "s",
    "grouping.prepare_s": "s",
    "grouping.shuffle_bytes": "bytes",
    "render.render_s": "s",
    "compression.compress_s": "s",
    "compression.ratio": "ratio",
    "writer.write_s": "s",
    "writer.epoch_write_s": "s",
    "writer.tasks_max": "count",
    "writer.core_busy_share": "ratio",
    "storage.objects": "count",
    "storage.bytes": "bytes",
    "storage.bytes_per_record": "bytes",
    "storage.commit_s": "s",
    "readback.read_s": "s",
    "readback.records_per_s": "rec/s",
    "audit.aggregate_s": "s",
    "ingest.quality_s": "s",
    "ingest.cascade_s": "s",
    "ingest.classify_s": "s",
    "ingest.append_s": "s",
    "ingest.split_s": "s",
    "ingest.pack_s": "s",
    "ingest.write_s": "s",
    "ingest.jobs_per_epoch": "count",
    "ingest.stages_per_epoch": "count",
    "dedup.cc_rounds": "count",
    "dedup.candidate_pairs": "count",
    "dedup.exact_dropped": "count",
    "dedup.near_dup_recall": "ratio",
    "incremental.history_hits": "count",
    "packing.packs": "count",
    "packing.fill_ratio": "ratio",
    "memory.jvm_peak_rss_mb": "MB",
    "memory.python_peak_rss_mb": "MB",
    "trace.covered_share": "ratio",
    "trace.overhead_s": "s",
}
PER_LAYER_NAMES = tuple(PER_LAYER)
