"""Shared machinery: Spark session, pipeline construction, process-tree
RSS sampling, percentiles and the file-source checkpoint log."""

from __future__ import annotations

import json
import os
import subprocess
import threading
import time

# highest percentile with at least ten samples beyond it is the reported tail
TAIL_LADDER = (99.9, 99.5, 99.0, 98.0, 95.0, 90.0, 80.0, 75.0, 50.0)


def percentile(values: list[float], p: float) -> float:
    """Linear interpolation between closest ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = (len(xs) - 1) * p / 100.0
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest ladder percentile that leaves at
    least ten samples above it; the median when there are fewer than 20."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= 10:
            return p, percentile(values, p)
    return 50.0, percentile(values, 50.0)


def _state(pid: int) -> tuple[str, int] | None:
    """(state letter, parent pid) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    state, ppid = stat[stat.rindex(")") + 2 :].split()[:2]
    return state, int(ppid)


def descendants(root: int) -> list[int]:
    """Pids of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        st = _state(int(d)) if d.isdigit() else None
        if st is not None:
            children.setdefault(st[1], []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


class RssSampler:
    """Samples the summed resident memory of this process and all its
    descendants (the driver JVM and the Python workers it forks) every
    ``interval`` s. Each process counts its proportional set size (Pss), so
    pages the forked workers share are counted once, not once per worker."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _tree_rss(self) -> int:
        total = 0
        for pid in [os.getpid()] + descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                pass
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self._tree_rss())
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, self._tree_rss())
        return self.peak_bytes / 2**20


def cpu_times() -> list[int]:
    """The machine's cpu line of /proc/stat (user … steal …, in ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(start: list[int], end: list[int]) -> float:
    """Share of CPU time the hypervisor took (steal) between two samples."""
    d = [b - a for a, b in zip(start, end)]
    return round(d[7] / max(sum(d), 1), 4)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def start_spark(work: str, cpus: int):
    """SparkSession from the engine's own factory, with every scratch
    location inside ``work``."""
    from tipoca_stream_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir when set
    spark = get_spark(
        "cdcbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": local,
            # scratch files in the run's directory; no /tmp/hsperfdata file
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the driver JVM, and wait until it and every
    Python worker it started have exited."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    # workers outlive the JVM by a moment (they exit on its closed pipe)
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(
        (_state(p) or ("Z", 0))[0] != "Z" for p in started
    ):
        time.sleep(0.05)


def row_schema():
    from pyspark.sql import types as T

    from gen import COLUMNS

    types = {
        "int": T.IntegerType(),
        "string": T.StringType(),
        "date": T.DateType(),
        "decimal(10,4)": T.DecimalType(10, 4),
        "long": T.LongType(),
    }
    return T.StructType([T.StructField(n, types[s]) for n, s, _ in COLUMNS])


def raw_schema(binary: bool):
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("topic", T.StringType()),
            T.StructField("partition", T.IntegerType()),
            T.StructField("offset", T.LongType()),
            T.StructField("value", T.BinaryType() if binary else T.StringType()),
        ]
    )


def make_pipeline(spark, work: str, buckets: int, zone_cols: list[str] | None):
    """The product path under test: masked, offset-aware, catalog-bucketed
    CDC pipelines over the F1 customers table — the mask-reload one that
    backfills from Confluent-framed Avro, and the live Debezium-JSON one,
    both writing the same target."""
    from tipoca_stream_spark.functions.masking import MaskConfig
    from tipoca_stream_spark.sources.debezium import SchemaRegistry
    from tipoca_stream_spark.streaming.pipeline import CdcPipeline, CdcPipelineConfig

    from gen import AVRO_SCHEMA_ID, MASK_RULES, SALT, TABLE, avro_envelope_schema

    registry = SchemaRegistry()
    registry.register_avro(AVRO_SCHEMA_ID, json.dumps(avro_envelope_schema()))
    mask = MaskConfig.from_dict({"salt": SALT, "tables": {TABLE: MASK_RULES}})

    def config(fmt: str, name: str):
        return CdcPipelineConfig(
            table=TABLE,
            primary_keys=["id"],
            row_schema=row_schema(),
            target_root=os.path.join(work, "targets"),
            checkpoint_dir=os.path.join(work, f"ckpt_{name}"),
            mask_config=mask,
            envelope_format=fmt,
            schema_registry=registry if fmt == "avro" else None,
            catalog_buckets=buckets,
            zone_cols=zone_cols,
        )

    reload = CdcPipeline(spark, config("avro", "reload"))
    live = CdcPipeline(spark, config("json", "live"))
    live.target = reload.target
    return reload, live


def epoch_files(checkpoint_dir: str, epoch_id: int) -> list[str]:
    """Base names of the files the file stream source put in ``epoch_id``,
    from its metadata log (``sources/0/<id>``, or ``<id>.compact`` on a
    compaction batch)."""
    base = os.path.join(checkpoint_dir, "spark", "sources", "0")
    for name in (str(epoch_id), f"{epoch_id}.compact"):
        path = os.path.join(base, name)
        if os.path.exists(path):
            with open(path) as f:
                lines = f.read().splitlines()[1:]
            return [
                os.path.basename(e["path"])
                for e in map(json.loads, lines)
                if e.get("batchId") == epoch_id
            ]
    raise FileNotFoundError(f"no source log entry for epoch {epoch_id} in {base}")


class Clock:
    """Monotonic seconds since construction."""

    def __init__(self):
        self.t0 = time.monotonic()

    def __call__(self) -> float:
        return time.monotonic() - self.t0
