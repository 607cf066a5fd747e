"""Span tracing around the engine's public entry points.

Tracing is installed only by a traced run (``--trace 1``). It wraps, from
outside the package, the names ``streaming.pipeline`` calls:

- module functions ``decode_envelope``, ``extract_row_image``,
  ``apply_mask``, ``merge_with_offsets`` and ``cdc_merge`` (rebound in
  ``tipoca_stream_spark.streaming.pipeline``) and ``aqe_disabled`` (in
  ``tipoca_stream_spark.operators.checkpoint``, imported at call time);
- the pipeline instances' ``transform``/``merge_batch``/``run_batch`` and
  the target instance's ``read_buckets``/``write``/``write_bucket_delta``/
  ``route_read``.

A wrapper that returns a DataFrame forces it (persist + count) inside its
span, so each stage's work lands in its own span instead of in whichever
later action happens to run it. Spans are kept in memory and summarised
when the run ends; self time is a span's duration minus its children's.

Tracing can be switched off per thread (``Tracer.active``): traced runs
alternate traced and untraced epochs, and the difference of their medians
is the reported tracing overhead.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time
import types
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    rows_in: int | None = None
    rows_out: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, clock=time.monotonic):
        self.clock = clock
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._persisted: list = []
        self._restore: list = []

    # --- span bookkeeping ----------------------------------------------------

    @property
    def active(self) -> bool:
        return getattr(self._local, "active", True)

    @active.setter
    def active(self, on: bool) -> None:
        self._local.active = on

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **attrs) -> Span | None:
        if not self.active:
            return None
        stack = self._stack()
        with self._lock:
            span = Span(len(self.spans), name, self.clock(),
                        stack[-1].sid if stack else None, attrs=attrs)
            self.spans.append(span)
        stack.append(span)
        return span

    def close(self, span: Span | None) -> None:
        if span is None:
            return
        span.end = self.clock()
        stack = self._stack()
        if stack and stack[-1] is span:
            stack.pop()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def force(self, df, span: Span | None):
        """Persist + count ``df`` (inside the caller's span)."""
        if span is None:
            return df
        df = df.persist()
        self._persisted.append(df)
        span.rows_out = df.count()
        return df

    def release(self) -> None:
        """Unpersist everything forced so far (called after each epoch)."""
        for df in self._persisted:
            df.unpersist()
        self._persisted.clear()

    # --- installation --------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper) -> None:
        # a module attribute is restored to its old value; an instance
        # attribute is deleted, which uncovers the class method again
        orig = getattr(owner, attr) if isinstance(owner, types.ModuleType) else None
        self._restore.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            if orig is None:
                vars(owner).pop(attr, None)
            else:
                setattr(owner, attr, orig)
        self._restore.clear()

    def install(self, pipelines: list, target) -> None:
        import tipoca_stream_spark.operators.checkpoint as ckpt_mod
        import tipoca_stream_spark.streaming.pipeline as pipe_mod
        from tipoca_stream_spark.sources.target import ConcurrentWriteError

        tr = self

        def frame_stage(name, fn, count_input=False):
            def wrapped(df, *a, **kw):
                rows_in = None
                if count_input and tr.active:
                    with tr.span("trace.bookkeeping"):
                        rows_in = df.count()
                with tr.span(name) as s:
                    out = tr.force(fn(df, *a, **kw), s)
                    if s is not None:
                        s.rows_in = rows_in
                return out
            return wrapped

        self._patch(pipe_mod, "decode_envelope",
                    frame_stage("debezium.decode", pipe_mod.decode_envelope, count_input=True))
        self._patch(pipe_mod, "extract_row_image",
                    frame_stage("cdc.extract", pipe_mod.extract_row_image))
        apply_mask = pipe_mod.apply_mask

        def mask_wrapped(df, *a, **kw):
            with tr.span("masking.apply") as s:
                out = tr.force(apply_mask(df, *a, **kw), s)
            if s is not None:
                with tr.span("trace.bookkeeping"):
                    s.attrs["hashed_cells"] = _hashed_cells(out)
            return out

        self._patch(pipe_mod, "apply_mask", mask_wrapped)

        def merge_stage(fn):
            def wrapped(current, batch, keys, *a, **kw):
                stats = {}
                if tr.active:
                    from pyspark.sql import functions as F

                    bk = tr.open("trace.bookkeeping")
                    stats["rows_in"] = batch.count()
                    keyset = batch.select(*keys).distinct()
                    stats["rows_after_dedupe"] = keyset.count()
                    stats["contested_keys"] = current.join(F.broadcast(keyset), keys, "left_semi").count()
                    tr.close(bk)
                with tr.span("merge") as s:
                    out = tr.force(fn(current, batch, keys, *a, **kw), s)
                    if s is not None:
                        s.rows_in = stats["rows_in"]
                        s.attrs.update(stats)
                return out
            return wrapped

        self._patch(pipe_mod, "merge_with_offsets", merge_stage(pipe_mod.merge_with_offsets))
        self._patch(pipe_mod, "cdc_merge", merge_stage(pipe_mod.cdc_merge))

        aqe_disabled = ckpt_mod.aqe_disabled

        @contextlib.contextmanager
        def aqe_wrapped(spark):
            s = tr.open("checkpoint.aqe_scope")
            try:
                with aqe_disabled(spark):
                    if s is not None:
                        s.attrs["wait_s"] = tr.clock() - s.start
                    yield
            finally:
                tr.close(s)

        self._patch(ckpt_mod, "aqe_disabled", aqe_wrapped)

        read_buckets = target.read_buckets

        def read_buckets_wrapped(bucket_ids, *a, **kw):
            with tr.span("target.read_buckets", buckets=len(bucket_ids)) as s:
                return tr.force(read_buckets(bucket_ids, *a, **kw), s)

        self._patch(target, "read_buckets", read_buckets_wrapped)

        def write_stage(fn, name):
            def wrapped(df, *a, **kw):
                with tr.span(name) as s:
                    try:
                        v = fn(df, *a, **kw)
                    except ConcurrentWriteError:
                        if s is not None:
                            s.attrs["cas_conflict"] = 1
                        raise
                if s is not None:
                    with tr.span("trace.bookkeeping"):
                        s.attrs.update(_version_file_stats(target, v))
                    if a:
                        s.attrs["buckets_touched"] = len(a[0])
                return v
            return wrapped

        self._patch(target, "write", write_stage(target.write, "target.write"))
        self._patch(target, "write_bucket_delta",
                    write_stage(target.write_bucket_delta, "target.write_delta"))

        route_read = target.route_read

        def route_wrapped(*a, **kw):
            with tr.span("target.route_read") as s:
                rr = route_read(*a, **kw)
            if s is not None:
                s.attrs.update(route=rr.route, n_files=rr.n_files, total_files=rr.total_files)
            return rr

        self._patch(target, "route_read", route_wrapped)

        for p in pipelines:
            self._patch(p, "transform", frame_stage("pipeline.transform", p.transform, count_input=True))
            merge_batch = p.merge_batch

            def mb_wrapped(batch, epoch_id, _mb=merge_batch):
                with tr.span("pipeline.merge_batch", epoch=epoch_id):
                    return _mb(batch, epoch_id)

            self._patch(p, "merge_batch", mb_wrapped)
            run_batch = p.run_batch

            def rb_wrapped(raw, epoch_id=0, _rb=run_batch):
                with tr.span("pipeline.run_batch"):
                    _rb(raw, epoch_id)
                tr.release()

            self._patch(p, "run_batch", rb_wrapped)

    # --- summaries -----------------------------------------------------------

    def _children(self) -> dict[int, list[Span]]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        return kids

    def descendants(self, roots: list[Span]) -> list[Span]:
        """``roots`` and every span below them."""
        kids, out, todo = self._children(), [], list(roots)
        while todo:
            s = todo.pop()
            out.append(s)
            todo += kids.get(s.sid, [])
        return out

    def self_times(self, roots: list[Span]) -> dict[str, float]:
        """Total self time per span name over the subtrees of ``roots``."""
        kids, out = self._children(), {}
        for s in self.descendants(roots):
            out[s.name] = out.get(s.name, 0.0) + s.dur - sum(c.dur for c in kids.get(s.sid, []))
        return out


def _hashed_cells(masked) -> int:
    """Cells of the masked frame that hold a salted sha1 digest."""
    from pyspark.sql import functions as F

    from gen import COLUMNS, MASK_RULES

    cols = [n for n, _, _ in COLUMNS if n not in MASK_RULES["non_pii_keys"]]
    digest = "^[0-9a-f]{40}$"
    row = masked.agg(
        *[F.count(F.when(F.col(c).rlike(digest), 1)).alias(c) for c in cols]
    ).collect()[0]
    return int(sum(row[c] for c in cols))


def _version_file_stats(target, version: int) -> dict:
    """Files of a freshly committed version: written (one link) vs
    hard-linked from the previous version, and bytes written."""
    vdir = os.path.join(target.path, f"v={version}")
    written = linked = 0
    bytes_written = 0
    for f in os.listdir(vdir):
        if not f.endswith(".parquet"):
            continue
        st = os.stat(os.path.join(vdir, f))
        if st.st_nlink > 1:
            linked += 1
        else:
            written += 1
            bytes_written += st.st_size
    return {"files_written": written, "files_linked": linked, "bytes_written": bytes_written}
