"""The benchmark's workloads over the CDC product path.

Both workloads bootstrap an empty, masked, catalog-bucketed, offset-aware
target with ``CdcPipeline.run_batch`` over a topic history, then run the
live Debezium-JSON stream into it through ``CdcPipeline.start``:

- ``upsert_zipf_json``: the history is Confluent-framed Avro, one parquet
  file per topic partition — the mask-reload backfill. Then a backlog of
  pre-generated files is drained one file per micro-batch
  (``maxFilesPerTrigger=1``, ``availableNow``), and after the drain a
  closed-loop reader probes the quiet target;
- ``serve_during_stream``: the history is Debezium JSON. An open-loop
  writer releases small files on a fixed schedule into a processing-time
  trigger query over a zone-mapped target, while one closed-loop reader
  alternates bucket-routed point reads and zone-routed range reads.

Every run ends by checking the target, and every read, against the oracle.
"""

from __future__ import annotations

import os
import random
import threading
from dataclasses import dataclass, field

import gen
import harness
from oracle import Replay, diff_rows

BUCKETS = 4
BOOT_KEYS = 2000  # rows created by the topic history
BOOT_CHANGES = 1000  # Zipf changes on top of them in the same history
ZIPF_S = 1.1
# upsert_zipf_json: backlog files of DRAIN_FILE_EVENTS change events each,
# one per micro-batch; DRAIN_WARM of them warm up, timed_epochs() follow
DRAIN_FILE_EVENTS = 500
DRAIN_WARM = 1
# serve_during_stream: the open-loop rate (100 change events/s), as files
# of SERVE_FILE_EVENTS released every SERVE_INTERVAL_S seconds
SERVE_FILE_EVENTS = 50
SERVE_INTERVAL_S = 0.5
# reads: point reads by a Zipf key; range reads over the updated_at window
# of RANGE_ROWS consecutive bootstrap rows, starting at a Zipf key's row.
# The reader waits READ_THINK_S between a reply and its next request.
RANGE_ROWS = 40
READ_THINK_S = 0.1
# timed reads on the quiet target after the stream, a range read after
# every two point reads: 40 point reads leave ten above their p75, the
# reported tail, and the range median is taken over 20
PROBE_POINT_READS = 40
PROBE_EVERY = 3
# upsert_zipf_json: untimed reads beside its warm-up epochs warm the read
# path (its drain runs no reads)
DRAIN_WARM_READS = 8
# serve_during_stream: epochs after the history that run under the writer
# and the reader but are not timed. The first takes the one file released
# when the writer starts; the second takes a full batch. So each timed
# epoch takes a full batch, released while a full-size epoch ran
SERVE_WARM_EPOCHS = 2


HISTORY_FILE = "history.json"
MTIME0 = 1_600_000_000  # file k of a stream gets mtime MTIME0 + k: the source's order


def timed_epochs(seconds: int) -> int:
    """Timed micro-batches of a run: one per two requested seconds, plus
    two (a run is mostly set-up, so even a short one times three)."""
    return seconds // 2 + 2


@dataclass
class Inputs:
    boot_events: list
    boot_dir: str
    files: list[tuple[str, list]]  # (file name, events) in release order
    file_bytes: dict[str, int]
    reads: list[tuple]  # ("eq", key) | ("range", lo, hi), alternating
    probe: list[tuple]  # the quiet-target probe: eq, eq, eq, range, ...


def _read_plan(rng: random.Random, zipf: gen.Zipf, n: int, every: int) -> list[tuple]:
    """Point reads, with every ``every``-th read a range read."""
    step = gen.BOOTSTRAP_SPAN_MS // BOOT_KEYS
    plan = []
    for i in range(n):
        k = zipf.draw()
        if i % every != every - 1:
            plan.append(("eq", str(k)))
        else:
            lo = gen.BASE_MS - gen.BOOTSTRAP_SPAN_MS + k * step
            plan.append(("range", str(lo), str(lo + RANGE_ROWS * step)))
    return plan


def make_inputs(workload: str, seed: int, seconds: int, nproc: int, work: str) -> Inputs:
    """Generate every input file of one run from the seed."""
    rng = random.Random(f"{workload}:{seed}")
    model = gen.TableModel(rng, partitions=nproc)
    history = gen.bootstrap_events(model, BOOT_KEYS)
    stream = gen.ChangeStream(model, BOOT_KEYS, ZIPF_S)
    step = gen.BOOTSTRAP_SPAN_MS // 2 // BOOT_CHANGES
    for i in range(BOOT_CHANGES):
        history += stream.next(-gen.BOOTSTRAP_SPAN_MS // 2 + i * step)
    boot_dir = os.path.join(work, "history")
    if workload == "upsert_zipf_json":
        gen.write_avro_partitions(boot_dir, history, nproc)
    else:
        os.makedirs(boot_dir)
        gen.write_json_file(os.path.join(boot_dir, HISTORY_FILE), history, mtime=MTIME0 - 1)

    stage = os.path.join(work, "stage")
    os.makedirs(stage)
    files: list[tuple[str, list]] = []
    if workload == "upsert_zipf_json":
        # the backlog exists before the drain starts: every event is
        # scheduled at ts 0
        sizes = [DRAIN_FILE_EVENTS] * (DRAIN_WARM + timed_epochs(seconds))
        stamps = [0] * len(sizes)
    else:
        # enough files for the run at ~10 s per epoch; the writer stops
        # before the last timed epoch
        n = int(10 * (SERVE_WARM_EPOCHS + timed_epochs(seconds) + 1) / SERVE_INTERVAL_S)
        sizes = [SERVE_FILE_EVENTS] * n
        stamps = [int(k * SERVE_INTERVAL_S * 1000) for k in range(n)]
    file_bytes = {}
    for k, (size, ts) in enumerate(zip(sizes, stamps)):
        name = f"events-{k:05d}.json"
        events = stream.take(size, ts)
        file_bytes[name] = gen.write_json_file(os.path.join(stage, name), events, mtime=MTIME0 + k)
        files.append((name, events))
    reads = _read_plan(rng, stream.zipf, 4000, 2)
    n = PROBE_POINT_READS + PROBE_POINT_READS // (PROBE_EVERY - 1)
    probe = _read_plan(rng, stream.zipf, n, PROBE_EVERY)
    return Inputs(history, boot_dir, files, file_bytes, reads, probe)


def change_count(events: list) -> int:
    return sum(1 for e in events if e.op != "t")


# --- measurement hooks -------------------------------------------------------


@dataclass
class Epoch:
    epoch_id: int
    start: float
    commit: float
    version: int | None
    traced: bool
    files: list[str] = field(default_factory=list)


class EpochClock:
    """Outermost wrapper of the live pipeline's ``transform`` and
    ``merge_batch``: an epoch runs from foreachBatch entry (transform) to
    the commit returning (merge_batch). Records the target version each
    commit produced and the source files the epoch consumed. With a
    tracer, every other epoch is traced under an ``epoch`` root span."""

    def __init__(self, pipeline, clock, tracer=None):
        self.epochs: list[Epoch] = []
        self.errors: list[str] = []
        # called with the epoch's index before it starts; may block it
        self.gate = None
        self._clock = clock
        self._tracer = tracer
        self._local = threading.local()
        self._lock = threading.Lock()
        transform, merge_batch = pipeline.transform, pipeline.merge_batch
        ckpt = pipeline.config.checkpoint_dir
        target = pipeline.target

        def transform_hook(raw):
            if self.gate is not None:
                self.gate(len(self.epochs))
            self._local.start = clock()
            if tracer is not None:
                tracer.active = len(self.epochs) % 2 == 1
                self._local.root = tracer.open("epoch")
            return transform(raw)

        def merge_hook(batch, epoch_id):
            try:
                merge_batch(batch, epoch_id)
            except Exception as e:  # the epoch failed; the query reports it
                self.errors.append(f"epoch {epoch_id}: {type(e).__name__}: {e}")
                raise
            finally:
                if tracer is not None:
                    root = self._local.root
                    if root is not None:
                        root.attrs["epoch"] = epoch_id
                    tracer.close(root)
                    tracer.release()
            commit = clock()
            with self._lock:
                self.epochs.append(
                    Epoch(epoch_id, self._local.start, commit, target.current_version(),
                          tracer is not None and tracer.active,
                          harness.epoch_files(ckpt, epoch_id))
                )

        pipeline.transform = transform_hook
        pipeline.merge_batch = merge_hook

    def committed_files(self) -> int:
        with self._lock:
            return sum(len(e.files) for e in self.epochs)


@dataclass
class Read:
    kind: str
    params: tuple
    start: float
    latency: float
    v_lo: int | None
    v_hi: int | None
    route: str = ""
    n_files: int = 0
    total_files: int = 0
    rows: list | None = None
    error: str | None = None
    traced: bool = False


def do_read(target, plan: tuple, clock, tracer=None, traced=False, pinned=False) -> Read:
    """One reader-client request: route, then collect every row.

    ``pinned`` is for reads beside a writer: a range read then resolves
    the version once and reads the zone-qualifying files of that version
    (``read_range(..., version=v)``), because ``route_read(between=...)``
    resolves the current version twice and fails when a commit lands in
    between (see README.md). Point reads resolve it once either way."""
    if tracer is not None:
        tracer.active = traced
    start = clock()
    v_lo = target.current_version()
    try:
        if plan[0] == "eq":
            rr = target.route_read(eq=("id", plan[1]))
        elif pinned:
            rr = _pinned_range(target, v_lo, plan[1], plan[2], tracer)
        else:
            rr = target.route_read(between=("updated_at", plan[1], plan[2]))
        v_hi = v_lo if pinned and plan[0] == "range" else target.current_version()
        if tracer is not None:
            with tracer.span("target.read_exec"):
                rows = [r.asDict() for r in rr.df.collect()]
        else:
            rows = [r.asDict() for r in rr.df.collect()]
    except Exception as e:  # a failed read is counted, not fatal
        return Read(plan[0], plan[1:], start, clock() - start, v_lo, None,
                    error=f"{type(e).__name__}: {e}", traced=traced)
    return Read(plan[0], plan[1:], start, clock() - start, v_lo, v_hi, rr.route,
                rr.n_files, rr.total_files, rows, traced=traced)


def _pinned_range(target, v: int, lo: str, hi: str, tracer):
    """The zones route of ``route_read(between=...)`` at version ``v``."""
    from tipoca_stream_spark.sources.target import RoutedRead

    def route():
        df = target.read_range(lo, hi, "updated_at", version=v)
        total = len(target._version_files(target._vdir(v)))
        return RoutedRead(df, "zones@pinned", len(df.inputFiles()), total)

    if tracer is None:
        return route()
    with tracer.span("target.route_read") as s:
        rr = route()
    if s is not None:
        s.attrs.update(route=rr.route, n_files=rr.n_files, total_files=rr.total_files)
    return rr


# --- oracle checks -----------------------------------------------------------


def check_reads(reads: list[Read], boot_events: list, epochs: list[Epoch],
                events_by_file: dict[str, list], boot_version: int) -> tuple[list[str], list[str]]:
    """(reads that raised, reads that returned wrong rows), one line each.
    A read is right when its rows equal the oracle state at some version
    between the pointer before and after the route decision."""
    versions = [(boot_version, [])] + sorted(
        ((e.version, e.files) for e in epochs), key=lambda x: x[0]
    )
    errors = [f"read {r.kind} {r.params}: {r.error}" for r in reads if r.error is not None]
    wanted: dict[int, list[Read]] = {}
    for r in reads:
        if r.error is None:
            for v in range(r.v_lo, r.v_hi + 1):
                wanted.setdefault(v, []).append(r)
    ok: set[int] = set()
    expected_rows: dict[int, list[int]] = {}
    replay = Replay()
    replay.apply(boot_events)
    for v, files in versions:
        for name in files:
            replay.apply(events_by_file[name])
        for r in wanted.get(v, []):
            if id(r) in ok:
                continue
            if r.kind == "eq":
                expected = replay.point(r.params[0])
            else:
                expected = replay.range("updated_at", r.params[0], r.params[1])
            if diff_rows(r.rows, expected) == 0:
                ok.add(id(r))
            expected_rows.setdefault(id(r), []).append(len(expected))
    wrong = [
        f"read {r.kind} {r.params} via {r.route} at v{r.v_lo}..v{r.v_hi}: "
        f"{len(r.rows)} rows, oracle {expected_rows.get(id(r))}"
        for r in reads if r.error is None and id(r) not in ok
    ]
    return errors, wrong


def check_target(target, boot_events: list, epochs: list[Epoch],
                 events_by_file: dict[str, list]) -> tuple[int, int]:
    """(rows compared, rows wrong) of the final target against the replay
    of the bootstrap and every committed epoch, in commit order."""
    replay = Replay()
    replay.apply(boot_events)
    for e in sorted(epochs, key=lambda e: e.version):
        for name in e.files:
            replay.apply(events_by_file[name])
    expected = list(replay.rows().values())
    actual = [r.asDict() for r in target.read().collect()]
    return max(len(expected), len(actual)), diff_rows(actual, expected)
