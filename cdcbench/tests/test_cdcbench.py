"""The benchmark's own tests. Run from the repository root:

    python3 -m pytest cdcbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import filecmp
import json
import os
import random
import subprocess
import sys

import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
import workloads as W  # noqa: E402
from oracle import Replay, diff_rows, mask_image  # noqa: E402


def _tree(path: str) -> list[str]:
    return sorted(os.path.relpath(os.path.join(b, f), path)
                  for b, _, fs in os.walk(path) for f in fs)


@pytest.mark.parametrize("workload", ["upsert_zipf_json", "serve_during_stream"])
def test_generator_is_deterministic(tmp_path, workload):
    a, b, c = (tmp_path / x for x in "abc")
    for d in (a, b, c):
        d.mkdir()
    W.make_inputs(workload, 7, 4, 3, str(a))
    W.make_inputs(workload, 7, 4, 3, str(b))
    W.make_inputs(workload, 8, 4, 3, str(c))
    files = _tree(str(a))
    assert files == _tree(str(b)) and len(files) > 3
    _, mismatch, errors = filecmp.cmpfiles(a, b, files, shallow=False)
    assert mismatch == [] and errors == []
    _, mismatch, _ = filecmp.cmpfiles(a, c, files, shallow=False)
    assert mismatch, "another seed must give other inputs"


def test_change_stream_mix_and_tombstones():
    model = gen.TableModel(random.Random(1), partitions=4)
    gen.bootstrap_events(model, 500)
    events = gen.ChangeStream(model, 500, W.ZIPF_S).take(4000, 0)
    ops = [e.op for e in events]
    changes = len(ops) - ops.count("t")
    assert changes == 4000
    assert 0.65 < ops.count("u") / changes < 0.75
    assert ops.count("t") == ops.count("d")
    # per key, offsets grow: a key always lands in the same partition
    last: dict[int, int] = {}
    for e in events:
        assert e.partition == e.key % 4
        assert e.offset > last.get(e.key, -1)
        last[e.key] = e.offset


def test_mask_image_golden_values():
    row = mask_image(
        {"id": 275402, "first_name": "Batman", "last_name": "Wayne", "email": "b@example.com",
         "mobile_number": "9876543210", "dob": "1986-01-02", "score": "1.5000",
         "notes": "  ", "favourite_quote": "Time flies", "favourite_food": None,
         "created_at": 1, "updated_at": 2},
        offset=9,
    )
    # FIXTURES.md F1 goldens (salt testhash)
    assert row["first_name"] == "9ba53e85b996f6278aa647d8da8f355aafd16149"
    assert row["id"] == "275402"
    assert row["email"] == "b@example.com"  # conditional unmask %example.com
    assert row["email_length"] == 13
    assert row["mobile_number_init5"] == "98765"
    assert row["dob_1986born"] is True and row["dob_1988born"] is False
    assert row["favourite_quote_has_philosphy"] is True
    assert row["favourite_food_has_pizza"] is False
    assert row["notes"] is None  # whitespace-only → NULL
    assert row["kafkaoffset"] == 9


def test_probe_point_reads_have_a_tail(tmp_path):
    import harness

    inputs = W.make_inputs("upsert_zipf_json", 1, 2, 2, str(tmp_path))
    kinds = [p[0] for p in inputs.probe]
    assert kinds.count("eq") == W.PROBE_POINT_READS and "range" in kinds
    # ten samples above the reported tail, which is therefore not the median
    assert harness.tail([float(i) for i in range(W.PROBE_POINT_READS)])[0] == 75.0


def test_failed_read_counts_and_keeps_its_latency():
    import drive

    reads = [W.Read("eq", ("1",), 0.0, 0.2, 1, 1, rows=[]),
             W.Read("eq", ("2",), 0.3, 0.9, 1, None, error="IllegalArgumentException: x"),
             W.Read("range", ("0", "9"), 1.2, 0.4, 1, 1, rows=[])]
    errors, wrong = W.check_reads(reads, [], [], {}, 1)
    assert len(errors) == 1 and wrong == []  # the empty table has no rows
    m: dict = {}
    drive.read_metrics(reads, m, {})
    assert m["point_read_p50_s"] == pytest.approx(0.55)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    import harness

    work = str(tmp_path_factory.mktemp("spark"))
    s = harness.start_spark(work, int(os.environ["SPARK_GRAFT_CPUS"]))
    yield s
    s.stop()


def test_oracle_agrees_with_pipeline(spark, tmp_path):
    """Tiny mixed create/update/delete stream, one epoch replayed: the
    pipeline's target equals the oracle replay, row for row."""
    import harness

    model = gen.TableModel(random.Random(3), partitions=2)
    boot = gen.bootstrap_events(model, 30)
    stream = gen.ChangeStream(model, 30, W.ZIPF_S)
    batches = [stream.take(25, 0) for _ in range(3)]
    assert {e.op for b in batches for e in b} >= {"c", "u", "d", "t"}

    reload, live = harness.make_pipeline(spark, str(tmp_path), 4, ["updated_at"])
    src = tmp_path / "src"
    src.mkdir()
    gen.write_avro_partitions(str(src / "history"), boot, 2)
    reload.run_batch(spark.read.schema(harness.raw_schema(binary=True)).parquet(str(src / "history")), -1)

    def frame(events, name):
        path = str(src / name)
        gen.write_json_file(path, events)
        return spark.read.schema(harness.raw_schema(binary=False)).json(path)

    for i, events in enumerate(batches):
        live.merge_batch(live.transform(frame(events, f"b{i}.json")), i)
        if i == 0:
            v0 = live.target.current_version()
        if i == 1:  # replay of an already merged epoch is skipped
            version = live.target.current_version()
            live.merge_batch(live.transform(frame(events, "b1_again.json")), 1)
            assert live.target.current_version() == version

    replay = Replay()
    replay.apply(boot)
    for events in batches:
        replay.apply(events)
    actual = [r.asDict() for r in live.target.read().collect()]
    assert len(actual) == len(replay.rows())
    assert diff_rows(actual, list(replay.rows().values())) == 0
    # reads through the serving routes agree with the oracle too
    key = next(iter(replay.rows()))
    rr = live.target.route_read(eq=("id", key))
    assert rr.route == "bucket"
    assert diff_rows([r.asDict() for r in rr.df.collect()], replay.point(key)) == 0
    stamps = sorted(r["updated_at"] for r in replay.rows().values())
    lo, hi = stamps[len(stamps) // 4], stamps[3 * len(stamps) // 4]
    rr = live.target.route_read(between=("updated_at", lo, hi))
    assert diff_rows([r.asDict() for r in rr.df.collect()], replay.range("updated_at", lo, hi)) == 0
    # a pinned range read keeps reading its version after later commits
    at_v0 = Replay()
    at_v0.apply(boot + batches[0])
    read = W.do_read(live.target, ("range", lo, hi), harness.Clock(), pinned=True)
    assert read.error is None and read.v_lo == read.v_hi == live.target.current_version()
    rr = W._pinned_range(live.target, v0, lo, hi, None)
    assert rr.n_files <= rr.total_files
    assert diff_rows([r.asDict() for r in rr.df.collect()], at_v0.range("updated_at", lo, hi)) == 0


def _run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join("cdcbench", "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("trace", [0, 1])
def test_metric_names_match_benchmark_json(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer" if trace else "end_to_end"]
    out = _run("upsert_zipf_json", trace)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    assert list(out["metrics"]) == [m["name"] for m in want]
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]


def test_refuses_to_run_without_the_engine(tmp_path):
    bench = tmp_path / "cdcbench"
    bench.mkdir()
    for f in os.listdir(BENCH):
        if f.endswith(".py"):
            (bench / f).write_bytes(open(os.path.join(BENCH, f), "rb").read())
    (tmp_path / "BENCHMARK.json").write_bytes(open(os.path.join(ROOT, "BENCHMARK.json"), "rb").read())
    proc = subprocess.run(
        [sys.executable, "cdcbench/run.py", "--workload", "upsert_zipf_json", "--seed", "1",
         "--seconds", "2", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0 and proc.stdout == ""
