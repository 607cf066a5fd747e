"""One benchmark run: inputs, set-up, the measured phase, oracle checks and
the metrics (end-to-end, or per layer when traced)."""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import gen
import harness
import workloads as W
from spans import Tracer


def run_workload(workload: str, seed: int, seconds: int, trace: bool, work: str,
                 out_dir: str) -> dict:
    nproc = len(os.sched_getaffinity(0))
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", nproc))
    load_start, cpu_start = harness.loadavg(), harness.cpu_times()
    inputs = W.make_inputs(workload, seed, seconds, nproc, work)
    events_by_file = dict(inputs.files)

    rss = harness.RssSampler().start()
    clock = harness.Clock()
    spark = harness.start_spark(work, cpus)
    session_s = clock()
    try:
        reload, live = harness.make_pipeline(
            spark, work, W.BUCKETS,
            ["updated_at"] if workload == "serve_during_stream" else None,
        )
        target = reload.target
        tracer = None
        if trace:
            tracer = Tracer(clock)
            tracer.install([reload, live], target)
        if workload == "upsert_zipf_json":
            # bootstrap = the mask-reload backfill over the Avro history
            t = clock()
            reload.run_batch(avro_frame(spark, inputs.boot_dir), epoch_id=-1)
            boot_s = clock() - t
            boot_events, boot_version = inputs.boot_events, target.current_version()
            epochs = W.EpochClock(live, clock, tracer)
            m = upsert(spark, live, inputs, epochs, clock, work, tracer)
        else:
            # bootstrap = the JSON history streamed as the query's first epoch
            epochs = W.EpochClock(live, clock, tracer)
            m = serve(spark, live, inputs, epochs, clock, work, seconds, tracer)
            boot_s = m.pop("boot_s")
            boot_events, boot_version = [], 0
            events_by_file[W.HISTORY_FILE] = inputs.boot_events
        m["setup_s"] = session_s + boot_s + m.pop("warmup_s")

        # --- oracle checks ----------------------------------------------------
        # a failed epoch, a read that raises or returns rows other than the
        # oracle's, and a final target row that differs are each a failed
        # operation; one failed operation makes the run incorrect
        attempted = len(epochs.epochs) + len(epochs.errors) + len(m["reads"])
        read_errors, wrong_reads = W.check_reads(m["reads"], boot_events, epochs.epochs,
                                                 events_by_file, boot_version)
        rows, wrong_rows = W.check_target(target, boot_events, epochs.epochs, events_by_file)
        attempted += rows
        failed = len(epochs.errors) + len(read_errors) + len(wrong_reads) + wrong_rows
        correct = failed == 0
        failures = epochs.errors + wrong_reads + read_errors
        if wrong_rows:
            failures.append(f"final target: {wrong_rows} rows differ from the oracle")
        m["failed_share"] = failed / attempted

        layers = {}
        if tracer is not None:
            layers = layer_metrics(tracer, m, epochs, inputs, target, workload, nproc)
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"trace-{workload}-{seed}.json"), "w") as f:
                json.dump([s.__dict__ for s in tracer.spans], f)
            tracer.uninstall()
            if workload == "upsert_zipf_json":
                layers.update(local1_baseline(spark, inputs, work))
            else:  # the single-threaded baseline is the drain's
                layers.update({"baseline.local1_epoch_p50_s": 0.0,
                               "baseline.local1_events_per_s": 0.0})
    finally:
        harness.stop_spark(spark)
    peak = rss.stop()

    metrics = {k: v for k, v in m.items() if isinstance(v, (int, float))}
    metrics["peak_rss_mib"] = peak
    metrics.update(layers)
    record = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "nproc": nproc,
        "spark_cpus": cpus,
        "loadavg_start": load_start,
        "loadavg_end": harness.loadavg(),
        "cpu_steal_share": harness.steal_share(cpu_start, harness.cpu_times()),
        "session_s": round(session_s, 3),
        "bootstrap_s": round(boot_s, 3),
        "boot_events": W.change_count(inputs.boot_events),
        "epochs_timed": m["epochs_timed"],
        "epoch_s": [round(e.commit - e.start, 3) for e in m["timed_epochs"]],
        "epochs_all": [(e.epoch_id, round(e.start, 2), round(e.commit, 2), len(e.files))
                       for e in sorted(m["all_epochs"], key=lambda e: e.epoch_id)],
        "failed": failed,
        "attempted": attempted,
        "failures": failures[:20],
        **m["tails"],
    }
    return {"metrics": metrics, "record": record, "attempted": attempted, "failed": failed,
            "correct": correct}


def avro_frame(spark, path: str):
    return spark.read.schema(harness.raw_schema(binary=True)).parquet(path)


def _lat(values: list[float], name: str, tails: dict, m: dict, with_tail: bool) -> None:
    m[f"{name}_p50_s"] = harness.percentile(values, 50)
    if with_tail:
        p, v = harness.tail(values)
        m[f"{name}_tail_s"] = v
        tails[f"{name}_tail"] = {"percentile": p, "samples": len(values)}
    else:
        tails[f"{name}_samples"] = len(values)


def read_metrics(reads: list, m: dict, tails: dict, prefix: str = "") -> None:
    """Latency of every read, a failed one too (until it raised)."""
    lat = {k: [r.latency for r in reads if r.kind == k] for k in ("eq", "range")}
    _lat(lat["eq"], prefix + "point_read", tails, m, not prefix)
    _lat(lat["range"], prefix + "range_read", tails, m, False)
    tails[prefix + "read_latency_s"] = {k: [round(x, 3) for x in v] for k, v in lat.items()}


def probe(target, inputs, clock, tracer) -> list:
    """The probe's reads, one after another, on the target once nothing
    writes to it; every other pair is traced."""
    return [W.do_read(target, plan, clock, tracer, traced=i % 4 >= 2)
            for i, plan in enumerate(inputs.probe)]


# --- upsert_zipf_json ----------------------------------------------------------


def upsert(spark, live, inputs, epochs, clock, work, tracer, n_files=None) -> dict:
    """Drain the backlog (its first ``n_files`` files, default all) one
    file per micro-batch; the first DRAIN_WARM epochs warm up, the rest
    are timed. Then probe the quiet target, unless ``n_files`` is given."""
    in_dir = os.path.join(work, "in")
    os.makedirs(in_dir)
    for name, _ in inputs.files[:n_files]:
        os.rename(os.path.join(work, "stage", name), os.path.join(in_dir, name))
    raw = (
        spark.readStream.schema(harness.raw_schema(binary=False))
        .option("maxFilesPerTrigger", 1)
        .json(in_dir)
    )
    # untimed reads warm the read path beside the warm-up epochs; the
    # first timed epoch waits for them
    warm_reads: list = []
    warm_end: list[float] = []
    warmed = threading.Event()

    def warm_reader():
        try:
            for plan in inputs.reads[: W.DRAIN_WARM_READS if n_files is None else 0]:
                warm_reads.append(W.do_read(live.target, plan, clock, tracer, pinned=True))
        finally:
            warm_end.append(clock())
            warmed.set()

    epochs.gate = lambda n: n < W.DRAIN_WARM or warmed.wait(60)
    reader = threading.Thread(target=warm_reader, name="warm-reader")
    t_query = clock()
    reader.start()
    try:
        q = live.start(raw, trigger_available_now=True)
        q.awaitTermination(150)
    finally:
        reader.join(60)
    progress = q.recentProgress
    q.stop()
    done = sorted(epochs.epochs, key=lambda e: e.epoch_id)
    if len(done) < W.DRAIN_WARM + 1:
        raise RuntimeError(f"drain committed {len(done)} epochs: {epochs.errors}")
    warm, timed = done[: W.DRAIN_WARM], done[W.DRAIN_WARM :]
    drain_start = max(warm[-1].commit, warm_end[0])
    drain_s = timed[-1].commit - drain_start
    events_by_file = dict(inputs.files)
    events = sum(W.change_count(events_by_file[f]) for e in timed for f in e.files)
    fresh = [e.commit - drain_start for e in timed for f in e.files
             for _ in range(W.change_count(events_by_file[f]))]
    m: dict = {"tails": {}}
    m["warmup_s"] = drain_start - t_query
    m["events_per_s"] = events / drain_s
    m["epoch_p50_s"] = statistics.median(e.commit - e.start for e in timed)
    m["epochs_timed"] = len(timed)
    _lat(fresh, "freshness", m["tails"], m, True)
    m["tails"]["freshness_p50_samples"] = len(fresh)

    t = clock()
    reads = probe(live.target, inputs, clock, tracer) if n_files is None else []
    m["tails"]["probe_s"] = round(clock() - t, 3)
    if reads:
        read_metrics(reads, m, m["tails"])
    m["reads"] = warm_reads + reads
    m["timed_epochs"] = timed
    m["all_epochs"] = list(epochs.epochs)
    m["progress"] = progress
    m["window"] = (drain_start, clock())
    m["backlog_max"] = len(timed)
    m["late"] = [0.0]
    return m


# --- serve_during_stream -------------------------------------------------------


def serve(spark, live, inputs, epochs, clock, work, seconds, tracer) -> dict:
    """Open-loop writer + closed-loop reader against a processing-time
    query whose first epoch is the history. Once it commits, the writer
    and the reader start; the first SERVE_WARM_EPOCHS epochs under them
    warm up, the next ``timed_epochs(seconds)`` are timed. The writer
    stops releasing when the epoch before the last timed one commits, the
    reader when the last one commits, and the query once every released
    file is committed. Then the quiet target is probed."""
    in_dir = os.path.join(work, "in")
    stage = os.path.join(work, "stage")
    os.makedirs(in_dir)
    os.rename(os.path.join(inputs.boot_dir, W.HISTORY_FILE), os.path.join(in_dir, W.HISTORY_FILE))
    raw = spark.readStream.schema(harness.raw_schema(binary=False)).json(in_dir)
    t_query = clock()
    q = live.start(raw, trigger_available_now=False)
    last = W.SERVE_WARM_EPOCHS + W.timed_epochs(seconds)  # index of the last timed epoch
    late: list[float] = []
    backlog: list[int] = []
    reads: list = []
    released: list[str] = []
    stop = threading.Event()
    due: dict[str, float] = {}

    def wait_for(cond, timeout: float) -> None:
        deadline = clock() + timeout
        while not cond() and clock() < deadline and q.exception() is None:
            time.sleep(0.02)

    def writer():
        for k, (name, _) in enumerate(inputs.files):
            wait = due[name] - clock()
            # the last timed epoch takes what arrived while the one before it
            # ran; nothing is released after that one commits
            if (wait > 0 and stop.wait(wait)) or len(epochs.epochs) >= last:
                return
            os.rename(os.path.join(stage, name), os.path.join(in_dir, name))
            released.append(name)
            late.append(clock() - due[name])
            # released but not yet committed (the history file is committed)
            backlog.append(len(released) + 1 - epochs.committed_files())

    def reader():
        i = 0
        while not stop.is_set():
            plan = inputs.reads[i % len(inputs.reads)]
            reads.append(W.do_read(live.target, plan, clock, tracer, traced=i % 4 >= 2,
                                    pinned=True))
            i += 1
            stop.wait(W.READ_THINK_S)

    threads = [threading.Thread(target=writer, name="writer"),
               threading.Thread(target=reader, name="reader")]
    try:
        wait_for(lambda: epochs.epochs, 150)
        if not epochs.epochs:
            raise RuntimeError(f"history epoch did not commit: {q.exception() or epochs.errors}")
        boot_s = epochs.epochs[0].commit - t_query
        t0 = clock()
        due.update({n: t0 + k * W.SERVE_INTERVAL_S for k, (n, _) in enumerate(inputs.files)})
        for t in threads:
            t.start()
        wait_for(lambda: len(epochs.epochs) > last, 150)
        stop.set()
        threads[0].join(10)
        wait_for(lambda: epochs.committed_files() >= len(released) + 1, 60)
    finally:
        stop.set()
        for t in threads:
            if t.is_alive() or t.ident is not None:
                t.join(120)
        progress = q.recentProgress
        q.stop()
    done = sorted(epochs.epochs, key=lambda e: e.epoch_id)
    if len(done) <= last:
        raise RuntimeError(f"stream committed {len(done)} epochs: {q.exception() or epochs.errors}")

    warm_end = done[W.SERVE_WARM_EPOCHS].commit
    timed = done[W.SERVE_WARM_EPOCHS + 1 : last + 1]
    events_by_file = dict(inputs.files)
    fresh = [e.commit - due[f] for e in timed for f in e.files
             for _ in range(W.change_count(events_by_file[f]))]
    m: dict = {"tails": {}, "boot_s": boot_s}
    m["warmup_s"] = warm_end - done[0].commit
    m["events_per_s"] = len(fresh) / (timed[-1].commit - warm_end)
    m["epoch_p50_s"] = statistics.median(e.commit - e.start for e in timed)
    m["epochs_timed"] = len(timed)
    _lat(fresh, "freshness", m["tails"], m, True)
    m["tails"]["freshness_p50_samples"] = len(fresh)
    # latency of the reads beside the stream is a per-layer figure; the
    # end-to-end read metrics come from the probe of the quiet target
    read_metrics([r for r in reads if warm_end <= r.start < timed[-1].commit], m, m["tails"],
                 prefix="stream_")
    t = clock()
    quiet = probe(live.target, inputs, clock, tracer)
    m["tails"]["probe_s"] = round(clock() - t, 3)
    read_metrics(quiet, m, m["tails"])
    m["reads"] = reads + quiet
    m["timed_epochs"] = timed
    m["all_epochs"] = done
    m["progress"] = progress
    m["window"] = (warm_end, timed[-1].commit)
    m["backlog_max"] = max(backlog, default=0)
    m["late"] = late
    return m


# --- per-layer metrics ------------------------------------------------------------


def _progress_rows(progress) -> list[tuple[int, int, dict, str]]:
    out = []
    for p in progress:
        d = p if isinstance(p, dict) else json.loads(p.json)
        out.append((d["batchId"], d.get("numInputRows", 0), d.get("durationMs", {}), d["timestamp"]))
    return out


def layer_metrics(tr: Tracer, m: dict, epochs, inputs, target, workload, nproc) -> dict:
    timed = m["timed_epochs"]
    traced = [e for e in timed if e.traced]
    untraced = [e for e in timed if not e.traced]
    ids = {e.epoch_id for e in traced}
    roots = [s for s in tr.spans if s.name == "epoch" and s.attrs.get("epoch") in ids]
    lo, hi = m["window"]
    n = max(len(roots), 1)
    self_t = tr.self_times(roots)
    spans = tr.descendants(roots)
    by = lambda name: [s for s in spans if s.name == name]
    per = lambda name: self_t.get(name, 0.0) / n
    out: dict = {}

    # streaming (progress of the timed batches)
    timed_ids = {e.epoch_id for e in timed}
    rows = [r for r in _progress_rows(m["progress"]) if r[0] in timed_ids]
    dur = lambda key: statistics.median(r[2].get(key, 0) / 1000 for r in rows) if rows else 0.0
    out["streaming.trigger_s"] = dur("triggerExecution")
    out["streaming.add_batch_s"] = dur("addBatch")
    out["streaming.planning_s"] = dur("queryPlanning")
    out["streaming.wal_commit_s"] = dur("walCommit")
    out["streaming.offsets_s"] = (
        statistics.median(
            sum(r[2].get(k, 0) for k in ("latestOffset", "getBatch", "commitOffsets")) / 1000
            for r in rows
        ) if rows else 0.0
    )
    busy = sum(r[2].get("triggerExecution", 0) / 1000 for r in rows)
    out["streaming.idle_share"] = max(0.0, 1.0 - busy / max(hi - lo, 1e-9))
    out["streaming.backlog_files"] = m["backlog_max"]

    # pipeline
    out["pipeline.merge_batch_s"] = per("pipeline.merge_batch")
    out["pipeline.transform_s"] = per("pipeline.transform")
    rb = [s for s in tr.spans if s.name == "pipeline.run_batch"]
    out["pipeline.run_batch_s"] = rb[0].dur if rb else 0.0
    out["pipeline.epochs"] = len(timed)
    merged_ids = {e.epoch_id for e in epochs.epochs}
    out["pipeline.epochs_replayed"] = sum(
        1 for r in _progress_rows(m["progress"]) if r[1] > 0 and r[0] not in merged_ids
    )

    # decode / cdc / masking
    dec = by("debezium.decode")
    out["debezium.decode_s"] = per("debezium.decode")
    out["debezium.rows_in"] = sum(s.rows_in or 0 for s in dec) / n
    in_bytes = sum(inputs.file_bytes.get(f, 0) for e in traced for f in e.files)
    out["debezium.bytes_in"] = in_bytes / max(len(traced), 1)
    out["avro_wire.decode_us_per_record"] = avro_kernel_us(inputs.boot_events)
    out["cdc.extract_s"] = per("cdc.extract")
    tf = by("pipeline.transform")
    out["cdc.tombstones_dropped"] = (
        sum(s.rows_in or 0 for s in tf) - sum(s.rows_in or 0 for s in dec)
    ) / n
    out["masking.apply_s"] = per("masking.apply")
    out["masking.hashed_cells"] = sum(s.attrs.get("hashed_cells", 0) for s in by("masking.apply")) / n

    # merge
    mg = by("merge")
    out["merge.s"] = per("merge")
    rin = sum(s.attrs.get("rows_in", 0) for s in mg)
    dd = sum(s.attrs.get("rows_after_dedupe", 0) for s in mg)
    out["merge.rows_in"] = rin / n
    out["merge.rows_after_dedupe"] = dd / n
    out["merge.dedupe_ratio"] = dd / rin if rin else 0.0
    out["merge.contested_keys"] = sum(s.attrs.get("contested_keys", 0) for s in mg) / n
    out["merge.rows_out"] = sum(s.rows_out or 0 for s in mg) / n

    # target write
    wr = by("target.write") + by("target.write_delta")
    out["target.read_buckets_s"] = per("target.read_buckets")
    out["target.write_s"] = per("target.write") + per("target.write_delta")
    touched = [s.attrs["buckets_touched"] for s in wr if "buckets_touched" in s.attrs]
    out["target.buckets_touched_share"] = (
        statistics.mean(touched) / W.BUCKETS if touched else 1.0
    )
    out["target.files_written"] = sum(s.attrs.get("files_written", 0) for s in wr) / n
    out["target.files_linked"] = sum(s.attrs.get("files_linked", 0) for s in wr) / n
    written = sum(s.attrs.get("bytes_written", 0) for s in wr)
    out["target.bytes_written_per_input_byte"] = written / in_bytes if in_bytes else 0.0
    out["target.files_per_version"] = (
        sum(s.attrs.get("files_written", 0) + s.attrs.get("files_linked", 0) for s in wr) / len(wr)
        if wr else 0.0
    )
    out["target.stored_mib"] = stored_bytes(target.path) / 2**20
    out["target.cas_conflicts"] = sum(s.attrs.get("cas_conflict", 0) for s in tr.spans)

    # target read (traced reads in the window)
    reads = [r for r in m["reads"] if r.traced and r.error is None and lo <= r.start < hi]
    rr = [s for s in tr.spans if s.name == "target.route_read"]
    rx = [s for s in tr.spans if s.name == "target.read_exec"]
    in_win = lambda s: lo <= s.start < hi
    rr = [s for s in rr if in_win(s)]
    rx = [s for s in rx if in_win(s)]
    out["target.route_read_s"] = statistics.mean(s.dur for s in rr) if rr else 0.0
    out["target.read_exec_s"] = statistics.mean(s.dur for s in rx) if rx else 0.0
    out["target.stream_point_read_p50_s"] = m.get("stream_point_read_p50_s", 0.0)
    out["target.stream_range_read_p50_s"] = m.get("stream_range_read_p50_s", 0.0)
    out["target.read_files_share"] = (
        statistics.mean(r.n_files / r.total_files for r in reads if r.total_files) if reads else 0.0
    )

    # checkpoint
    aqe = by("checkpoint.aqe_scope")
    out["checkpoint.aqe_scope_hold_s"] = sum(s.dur - s.attrs.get("wait_s", 0) for s in aqe) / n
    out["checkpoint.aqe_scope_wait_s"] = sum(s.attrs.get("wait_s", 0) for s in aqe) / n

    # generator
    out["generator.late_p50_s"] = harness.percentile(m["late"], 50)
    out["generator.late_max_s"] = max(m["late"])

    # trace accounting
    out["trace.epoch_s"] = sum(s.dur for s in roots) / n
    out["trace.unattributed_s"] = per("epoch")
    out["trace.bookkeeping_s"] = per("trace.bookkeeping")
    dur_of = lambda es: statistics.median(e.commit - e.start for e in es) if es else 0.0
    out["trace.overhead_s"] = dur_of(traced) - dur_of(untraced)
    out["failed_share"] = m["failed_share"]
    return out


def avro_kernel_us(events: list) -> float:
    """Single-core ``avro_wire.decode`` over the run's generated payloads
    (Confluent header stripped), µs per record."""
    from tipoca_stream_spark.sources import avro_wire

    msgs = [b for b in gen.avro_messages(events) if b]
    schema = avro_wire.parse_schema(json.dumps(gen.avro_envelope_schema()))
    bodies = [avro_wire.unframe(b)[1] for b in msgs]
    t = time.perf_counter()
    for body in bodies:
        avro_wire.decode(schema, body)
    return (time.perf_counter() - t) / len(bodies) * 1e6


def stored_bytes(path: str) -> int:
    """Bytes under ``path``, counting each hard-linked inode once."""
    seen, total = set(), 0
    for base, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(base, f))
            if st.st_ino not in seen:
                seen.add(st.st_ino)
                total += st.st_size
    return total


def local1_baseline(spark, inputs, work) -> dict:
    """The same job at ``local[1]``: a fresh session in the same JVM, the
    bootstrap, DRAIN_WARM warm-up epochs, then one timed epoch. The JVM
    has already run the main job, so its JIT is warmer than during the
    main run's timed epochs: this compares a warm local[1] with a still
    warming local[N], not parallelism alone."""
    base = os.path.join(work, "local1")
    os.makedirs(os.path.join(base, "stage"))
    n_files = W.DRAIN_WARM + 1
    for name, events in inputs.files[:n_files]:
        gen.write_json_file(os.path.join(base, "stage", name), events,
                            mtime=os.stat(os.path.join(work, "in", name)).st_mtime)
    spark.stop()
    one = harness.start_spark(base, 1)
    try:
        reload, live = harness.make_pipeline(one, base, W.BUCKETS, None)
        reload.run_batch(avro_frame(one, inputs.boot_dir), epoch_id=-1)
        clock = harness.Clock()
        epochs = W.EpochClock(live, clock)
        m = upsert(one, live, inputs, epochs, clock, base, None, n_files=n_files)
    finally:
        one.stop()
    return {"baseline.local1_epoch_p50_s": m["epoch_p50_s"],
            "baseline.local1_events_per_s": m["events_per_s"]}
