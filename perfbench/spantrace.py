"""Span recorder for the traced run.

The traced run times calls into the engine's public functions from
outside the package: :func:`install` replaces each function listed in
:data:`HOOKS` with a timing wrapper, both on its defining module and on
every engine module that imported it by name, so every caller finds
the wrapper at the name it looks up. The engine's two per-task kernel
factories (``_make_encode_fn`` / ``_make_decode_fn``) are wrapped so
the kernel each returns is timed as well: the kernel span covers the
time spent inside the kernel generator, and the time it spends pulling
its input batches (the parquet read or the Arrow relay) is a child
span named ``<kernel>.input``.

Spans are recorded in the Python worker processes. :mod:`trace_daemon`
installs them in the Spark worker daemon, so every forked worker
inherits them. A worker records a span only while the task's
``perfbench.trace`` local property is ``"1"``, and links it to the
driver operation through the task's job group. Each worker keeps its
spans in memory and appends them to its own file under
``$PERFBENCH_TRACE_DIR`` when the outermost span closes.

A span line is a JSON list: ``[seq, parent_seq, name, op, pid,
partition, dur_ns, self_ns, bytes_in, bytes_out]``. ``self_ns`` is
kept by exclusive-time accounting (a parent's clock pauses while a
child runs), independently of the durations, so the benchmark can
check that children plus self add up to the parent.
"""

from __future__ import annotations

import functools
import importlib
import json
import os
import time

TRACE_DIR_ENV = "PERFBENCH_TRACE_DIR"
TRACE_PROPERTY = "perfbench.trace"
OP_PROPERTY = "spark.jobGroup.id"

# (module, function) pairs timed by the traced run; the bytes_in /
# bytes_out of a call come from the size function named in the third
# field ("" = time and count only)
HOOKS = [
    ("br_archive_spark.operators.chunk", "encode_column", ""),
    ("br_archive_spark.operators.chunk", "decode_column", ""),
    ("br_archive_spark.codecs.cost", "int_chunk_stats", ""),
    ("br_archive_spark.codecs.cost", "choose_int_codec", ""),
    ("br_archive_spark.codecs.cost", "encode_int_auto", ""),
    ("br_archive_spark.codecs.cost", "encode_str_auto", ""),
    ("br_archive_spark.codecs.intcodecs", "encode_int", ""),
    ("br_archive_spark.codecs.intcodecs", "decode_int", ""),
    ("br_archive_spark.codecs.intcodecs", "zstd_compress", "bytes"),
    ("br_archive_spark.codecs.intcodecs", "zstd_decompress", "bytes"),
    ("br_archive_spark.codecs.strcodecs", "encode_str", ""),
    ("br_archive_spark.codecs.strcodecs", "decode_str", ""),
    ("br_archive_spark.codecs.floatcodecs", "encode_float_auto", ""),
    ("br_archive_spark.codecs.floatcodecs", "decode_float", ""),
    ("br_archive_spark.integrity.crc", "chunk_checksum", "parts"),
    ("br_archive_spark.operators.bloom", "build_bloom", ""),
    ("br_archive_spark.operators.fsutil", "open_parquet", ""),
    ("br_archive_spark.operators.fsutil", "read_parquet", "table_out"),
    ("br_archive_spark.operators.fsutil", "write_parquet_atomic",
     "table_in"),
]
KERNELS = [
    ("br_archive_spark.operators.encode", "_make_encode_fn",
     "encode.kernel"),
    ("br_archive_spark.operators.decode", "_make_decode_fn",
     "decode.kernel"),
]


def _short(module: str, name: str) -> str:
    # "br_archive_spark.codecs.cost" + "encode_int_auto"
    #   -> "codecs.cost.encode_int_auto"
    return f"{module.split('.', 1)[1]}.{name}"


def _sizes(kind: str, args, result) -> tuple[int, int]:
    if kind == "bytes":
        return len(args[0]), len(result)
    if kind == "parts":
        n = sum(len(p) for p in args)
        return n, n
    if kind == "table_out":
        return 0, result.nbytes
    if kind == "table_in":
        return args[0].nbytes, 0
    return 0, 0


class Recorder:
    """Per-process span stack and buffer (one per worker process)."""

    def __init__(self, trace_dir: str):
        self.trace_dir = trace_dir
        self.pid = os.getpid()
        self.stack: list[list] = []
        self.buf: list[str] = []
        self.seq = 0

    def task(self):
        """(op id, partition) of the running task when tracing is on
        for it, else None."""
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is None or ctx.getLocalProperty(TRACE_PROPERTY) != "1":
            return None
        return ctx.getLocalProperty(OP_PROPERTY) or "", ctx.partitionId()

    def open(self, name: str, task) -> list:
        now = time.perf_counter_ns()
        parent = 0
        if self.stack:
            top = self.stack[-1]
            top[3] += now - top[4]          # pause the parent's clock
            parent = top[0]
        self.seq += 1
        # [seq, parent, name, self_ns, mark, start, task]
        frame = [self.seq, parent, name, 0, now, now, task]
        self.stack.append(frame)
        return frame

    def close(self, frame: list, bytes_in: int = 0,
              bytes_out: int = 0) -> None:
        now = time.perf_counter_ns()
        self.stack.pop()
        seq, parent, name, self_ns, mark, start, task = frame
        self_ns += now - mark
        self.buf.append(json.dumps(
            [seq, parent, name, task[0], self.pid, task[1],
             now - start, self_ns, bytes_in, bytes_out]))
        if self.stack:
            self.stack[-1][4] = now         # resume the parent's clock
        else:
            self.flush()

    def flush(self) -> None:
        if not self.buf:
            return
        path = os.path.join(self.trace_dir, f"spans-{self.pid}.jsonl")
        with open(path, "a", encoding="utf-8") as fh:
            fh.write("\n".join(self.buf) + "\n")
        self.buf.clear()


_RECORDER: Recorder | None = None


def recorder() -> Recorder | None:
    """The recorder of this process, created after a fork."""
    global _RECORDER
    trace_dir = os.environ.get(TRACE_DIR_ENV)
    if not trace_dir:
        return None
    if _RECORDER is None or _RECORDER.pid != os.getpid():
        _RECORDER = Recorder(trace_dir)
    return _RECORDER


def _timed(fn, name: str, size_kind: str):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        rec = recorder()
        task = rec.task() if rec is not None else None
        if task is None:
            return fn(*args, **kwargs)
        frame = rec.open(name, task)
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            rec.close(frame)
            raise
        rec.close(frame, *_sizes(size_kind, args, result))
        return result

    wrapper.__perfbench_wrapped__ = fn
    return wrapper


class _TimedInput:
    """Iterator over a kernel's input batches; each pull is a span."""

    def __init__(self, batches, name: str, task):
        self.batches = iter(batches)
        self.name = name
        self.task = task

    def __iter__(self):
        return self

    def __next__(self):
        rec = recorder()
        frame = rec.open(self.name, self.task)
        try:
            return next(self.batches)
        finally:
            rec.close(frame)


class TimedKernel:
    """Wraps a kernel ``fn(batches) -> batches``; every resumption of
    the kernel generator is one span named ``name`` (their sum is the
    kernel wall), with its input pulls as ``<name>.input`` children.
    Pickled by reference, so workers use their own recorder."""

    def __init__(self, fn, name: str):
        self.fn = fn
        self.name = name

    def __call__(self, batches):
        rec = recorder()
        task = rec.task() if rec is not None else None
        if task is None:
            yield from self.fn(batches)
            return
        out = self.fn(_TimedInput(batches, self.name + ".input", task))
        while True:
            frame = rec.open(self.name, task)
            try:
                batch = next(out)
            except StopIteration:
                rec.close(frame)
                return
            except BaseException:
                rec.close(frame)
                raise
            rec.close(frame)
            yield batch


def _kernel_factory(factory, name: str):
    @functools.wraps(factory)
    def wrapper(*args, **kwargs):
        return TimedKernel(factory(*args, **kwargs), name)

    wrapper.__perfbench_wrapped__ = factory
    return wrapper


def install() -> None:
    """Wrap every hooked function at its defining module and at every
    engine module that bound it by name. Idempotent."""
    import sys

    # bind every engine module first, so _rebind sees each importer
    importlib.import_module("br_archive_spark.operators")
    for module, name, size_kind in HOOKS:
        mod = importlib.import_module(module)
        orig = getattr(mod, name)
        if hasattr(orig, "__perfbench_wrapped__"):
            continue
        _rebind(sys.modules, orig, _timed(orig, _short(module, name),
                                           size_kind))
    for module, name, span in KERNELS:
        mod = importlib.import_module(module)
        orig = getattr(mod, name)
        if hasattr(orig, "__perfbench_wrapped__"):
            continue
        _rebind(sys.modules, orig, _kernel_factory(orig, span))


def _rebind(modules: dict, orig, wrapper) -> None:
    for mname, mod in list(modules.items()):
        if not mname.startswith("br_archive_spark") or mod is None:
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, wrapper)


def read_spans(trace_dir: str) -> list[list]:
    """Every span line the workers wrote under ``trace_dir``."""
    spans = []
    for fname in sorted(os.listdir(trace_dir)):
        if not fname.startswith("spans-"):
            continue
        with open(os.path.join(trace_dir, fname), encoding="utf-8") as fh:
            spans.extend(json.loads(line) for line in fh if line.strip())
    return spans
