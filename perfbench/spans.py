"""Span tracing from outside the engine: the public functions of each
orc_format_spark module are replaced by wrappers that record a span
(name, start, end, parent, attributes) around every call.

The driver keeps its spans in memory for the whole run. A Spark Python
worker keeps the spans of one top-level call (one stripe, one bloom batch)
in memory and appends them as one JSON line to ``<trace_dir>/w<pid>.jsonl``
when that call returns: workers end through ``os._exit``, so there is no
later moment at which they could write.

Workers get the wrappers through ``perfbench/tracehook/sitecustomize.py``,
which installs :class:`PatchFinder` so each engine module is wrapped as it
is imported. Which op a worker span belongs to, and whether tracing is on
for that op, travel as Spark local properties (``perfbench.op``,
``perfbench.trace``) that the driver sets before each op.
"""

from __future__ import annotations

import functools
import importlib.abc
import json
import os
import sys
import time

OP_PROPERTY = "perfbench.op"
TRACE_PROPERTY = "perfbench.trace"

# module -> public functions that do the module's work. Scalar helpers
# (varint.encode_unsigned, bitpack.bits_needed, ...) are left out: they are
# called per value or per run and are attributed to their caller.
TRACED = {
    "orc_format_spark.codecs.rle_v2": ("encode", "decode"),
    "orc_format_spark.codecs.fsst": ("build_table", "encode", "decode"),
    "orc_format_spark.codecs.strings": ("encode_direct", "decode_direct",
                                        "encode_dict", "decode_dict"),
    "orc_format_spark.codecs.deflate": ("compress", "decompress"),
    "orc_format_spark.codecs.boolean_rle": ("encode_bools", "decode_bools",
                                            "encode_bytes", "decode_bytes"),
    "orc_format_spark.codecs.bitpack": ("pack", "unpack"),
    "orc_format_spark.codecs.varint": (
        "encode_unsigned_array", "decode_unsigned_array",
        "encode_signed_array", "decode_signed_array",
        "zigzag_encode", "zigzag_decode"),
    "orc_format_spark.selector": ("encode_ints", "decode_ints",
                                  "encode_strings", "decode_strings",
                                  "encode_floats", "try_float_shuffle",
                                  "maybe_zlib"),
    "orc_format_spark.stripe": ("encode_stripe_arrow", "encode_column",
                                "stripe_rows_to_batch", "decode_stripe_arrow",
                                "decode_column"),
    "orc_format_spark.bloom": ("build", "might_contain_many"),
    "orc_format_spark.pipeline": (
        "encode_job", "decode_job", "decode_job_clustered",
        "encode_dataframe", "decode_dataframe", "commit", "build_manifest",
        "read_manifest", "read_stripes", "infer_schema_from_manifest",
        "completed_stripes", "has_compactions"),
    "orc_format_spark.session": ("get_spark",),
}


def span_name(module: str, fn: str) -> str:
    """``orc_format_spark.codecs.fsst`` + ``build_table`` ->
    ``codecs.fsst.build_table``; the first component is the layer."""
    return module.removeprefix("orc_format_spark.") + "." + fn


def layer_of(name: str) -> str:
    return name.split(".", 1)[0]


# result -> span attributes, for the calls whose outcome a layer metric needs
def _zlib_attrs(args, kwargs, res):
    return {"kept": res[0] == "zlib"}


def _strings_attrs(args, kwargs, res):
    return {"codec": res["codec"]}


def _probe_attrs(args, kwargs, res):
    return {"n": len(args[0]), "hits": int(res.sum())}


def _encode_stripe_attrs(args, kwargs, res):
    return {"enc": {r["col_name"]: int(r["enc_bytes"]) for r in res}}


ANNOTATE = {
    "selector.maybe_zlib": _zlib_attrs,
    "selector.encode_strings": _strings_attrs,
    "bloom.might_contain_many": _probe_attrs,
    "stripe.encode_stripe_arrow": _encode_stripe_attrs,
}


class Tracer:
    """In-memory span recorder. A span is ``[name, t0_ns, t1_ns, parent,
    attrs]`` with times from ``time.perf_counter_ns`` (CLOCK_MONOTONIC, the
    same clock in every process) and ``parent`` the index of the enclosing
    span or -1. ``epoch_offset_ns`` converts to wall-clock time, which the
    Spark event log uses."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.epoch_offset_ns = time.time_ns() - time.perf_counter_ns()

    def active(self) -> bool:
        return self.enabled

    def open(self, name: str) -> int:
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter_ns(), 0, parent, None])
        self._stack.append(idx)
        return idx

    def close(self, idx: int, attrs: dict | None = None) -> None:
        span = self.spans[idx]
        span[2] = time.perf_counter_ns()
        if attrs is not None:
            span[4] = attrs
        self._stack.pop()

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, fn, name: str):
        annotate = ANNOTATE.get(name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.active():
                return fn(*args, **kwargs)
            idx = self.open(name)
            attrs = None
            try:
                res = fn(*args, **kwargs)
                if annotate is not None:
                    attrs = annotate(args, kwargs, res)
            finally:
                self.close(idx, attrs)
            return res

        traced.__perfbench_wrapped__ = fn
        return traced

    def patch(self, module) -> None:
        """Replace the traced functions of an imported engine module."""
        for fn_name in TRACED.get(module.__name__, ()):
            fn = getattr(module, fn_name, None)
            if fn is None or hasattr(fn, "__perfbench_wrapped__"):
                continue
            setattr(module, fn_name,
                    self.wrap(fn, span_name(module.__name__, fn_name)))

    def patch_loaded(self) -> None:
        for mod_name in TRACED:
            __import__(mod_name)
            self.patch(sys.modules[mod_name])


class _Span:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name = tracer, name
        self.idx = -1

    def __enter__(self):
        if self.tracer.active():
            self.idx = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc):
        if self.idx >= 0:
            self.tracer.close(self.idx)
        return False


class WorkerTracer(Tracer):
    """Tracer of one Spark Python worker process. Whether a top-level call
    is traced, and for which op, is read from the task's local properties;
    its finished span tree is appended to this process's JSONL file."""

    def __init__(self, trace_dir: str) -> None:
        super().__init__()
        self.trace_dir = trace_dir
        self._tree_ctx: dict | None = None

    def active(self) -> bool:
        if self._stack:
            return self._tree_ctx is not None
        from pyspark import TaskContext
        tc = TaskContext.get()
        if tc is None or tc.getLocalProperty(TRACE_PROPERTY) != "1":
            self._tree_ctx = None
            return False
        self._tree_ctx = {"op": tc.getLocalProperty(OP_PROPERTY),
                          "stage": tc.stageId(),
                          "task": tc.taskAttemptId()}
        return True

    def close(self, idx: int, attrs: dict | None = None) -> None:
        super().close(idx, attrs)
        if self._stack:
            return
        line = dict(self._tree_ctx, pid=os.getpid(),
                    off=self.epoch_offset_ns, spans=self.spans)
        path = os.path.join(self.trace_dir, f"w{os.getpid()}.jsonl")
        with open(path, "a") as f:
            f.write(json.dumps(line) + "\n")
        self.spans = []


class _PatchingLoader(importlib.abc.Loader):
    def __init__(self, inner, tracer: Tracer) -> None:
        self.inner, self.tracer = inner, tracer

    def create_module(self, spec):
        return self.inner.create_module(spec)

    def exec_module(self, module) -> None:
        self.inner.exec_module(module)
        self.tracer.patch(module)


class PatchFinder(importlib.abc.MetaPathFinder):
    """Meta-path finder that wraps the traced engine modules as they are
    imported (the import itself is done by the remaining finders)."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer

    def find_spec(self, name, path, target=None):
        if name not in TRACED:
            return None
        for finder in sys.meta_path:
            if finder is self or not hasattr(finder, "find_spec"):
                continue
            spec = finder.find_spec(name, path, target)
            if spec is not None:
                spec.loader = _PatchingLoader(spec.loader, self.tracer)
                return spec
        return None


def read_worker_spans(trace_dir: str) -> list[dict]:
    """Every span tree the workers wrote, in no particular order."""
    trees = []
    for fn in sorted(os.listdir(trace_dir)):
        if fn.startswith("w") and fn.endswith(".jsonl"):
            with open(os.path.join(trace_dir, fn)) as f:
                trees.extend(json.loads(line) for line in f if line.strip())
    return trees
