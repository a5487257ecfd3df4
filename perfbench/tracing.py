"""Spans, counts and Spark event-log totals for the traced benchmark run.

Nothing here reaches inside the engine's source: kernel layers are traced
by swapping module attributes for recording wrappers while the benchmark
replays the encode and decode groups in its own process, and Spark-side
layers are read back from the event log of the run's application.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    t0: float
    t1: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """In-memory span recorder; spans nest by call order (one thread)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), parent, name, time.perf_counter(), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.t1 = time.perf_counter()
            self._stack.pop()

    def wrap(self, fn, name: str, attrs_of=None, out_of=None):
        """``fn`` recording a span per call; ``attrs_of(args, kwargs)`` and
        ``out_of(result)`` give small attributes (never the payloads)."""
        tracer = self

        def wrapper(*args, **kwargs):
            attrs = attrs_of(args, kwargs) if attrs_of else {}
            with tracer.span(name, **attrs) as s:
                out = fn(*args, **kwargs)
                if out_of:
                    s.attrs.update(out_of(out))
                return out

        wrapper.__wrapped__ = fn
        return wrapper

    def self_times(self) -> list[float]:
        """Per span: its duration minus the time its direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        return [s.dur - c for s, c in zip(self.spans, child)]


class _TracedZlib:
    """Stand-in for the ``zlib`` module inside ``gdelta_spark.blocks``."""

    def __init__(self, real, tracer: Tracer) -> None:
        self._real = real
        self.compress = tracer.wrap(real.compress, "blocks.zlib")
        self.decompress = tracer.wrap(real.decompress, "blocks.unzlib")

    def __getattr__(self, name):
        return getattr(self._real, name)


@contextmanager
def kernel_wrappers(tracer: Tracer):
    """Swap the kernel-layer module attributes for recording wrappers; the
    originals are restored on exit."""
    from gdelta_spark import blocks, chooser
    from gdelta_spark.codecs import core, delta, gdelta_codec, gdelta_group
    from gdelta_spark.pipeline import encode

    def codec_of_encode(args, kwargs):
        return {"codec": int(kwargs.get("codec_id", args[1] if len(args) > 1 else -1))}

    def codec_of_decode(args, kwargs):
        blob = args[0]
        return {"codec": blob[2] if len(blob) > 2 else -1}

    def rows_of(args, kwargs):
        return {"rows": len(args[0]), "bytes": sum(len(r) for r in args[0])}

    def block_rows_of(args, kwargs):
        return {"rows": len(args[0]), "codec_in": kwargs.get("codec_id")}

    def block_out(out):
        return {"codec": int(out[1]), "zlib": out[0][1] == blocks.BLOCK_VERSION_Z}

    plan = [
        (chooser, "choose_codec", "chooser", None, lambda out: {"pick": int(out[0])}),
        (chooser, "probe_similarity", "chooser.probe", None, None),
        (chooser, "_measure_fsst", "chooser.fsst_measure", None, None),
        (encode, "_cluster_rows", "encode.cluster", None,
         lambda out: {"firsts": [ix[0] for ix in out if len(ix) >= encode.MIN_CLUSTER_ROWS]}),
        (blocks, "encode_block_rows", "blocks.encode", block_rows_of, block_out),
        (blocks, "decode_block_rows", "blocks.decode", None, None),
        (gdelta_group, "gdelta_encode_group", "gdelta.encode_group", rows_of, None),
        (gdelta_codec, "precompute_base_index", "gdelta.base_index", None, None),
        (delta, "gdelta_encode", "gdelta.encode_row",
         lambda a, k: {"rows": 1, "bytes": len(a[0])}, None),
        (delta, "gdelta_decode", "gdelta.decode_row", None,
         lambda out: {"rows": 1, "bytes": len(out)}),
        (gdelta_codec, "gdelta_decode_batch", "gdelta.decode_batch", None,
         lambda out: {"rows": len(out), "bytes": sum(len(b) for b in out)}),
        (core, "encode_block", "codec.encode", codec_of_encode, None),
        (core, "decode_block", "codec.decode", codec_of_decode, None),
    ]
    saved = []
    try:
        for mod, attr, name, attrs_of, out_of in plan:
            saved.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, tracer.wrap(getattr(mod, attr), name, attrs_of, out_of))
        saved.append((blocks, "zlib", blocks.zlib))
        blocks.zlib = _TracedZlib(blocks.zlib, tracer)
        yield
    finally:
        for mod, attr, orig in reversed(saved):
            setattr(mod, attr, orig)


# -- Spark event log ---------------------------------------------------------


def clear_job_group(sc) -> None:
    """Untag later jobs of this thread (the counterpart of setJobGroup)."""
    for key in ("spark.jobGroup.id", "spark.job.description"):
        sc.setLocalProperty(key, None)


_SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"
_SHUFFLE_READ = (
    "internal.metrics.shuffle.read.remoteBytesRead",
    "internal.metrics.shuffle.read.localBytesRead",
)
_SPILL = "internal.metrics.diskBytesSpilled"


def read_event_log(log_dir: str, app_id: str) -> dict:
    """Per job group: job list (id, submit/end epoch seconds, stage ids) and
    per-stage task counts and shuffle/spill bytes, from a finished
    application's event log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if app_id in os.path.basename(p)]
    if not paths:
        raise FileNotFoundError(f"no event log for {app_id} under {log_dir}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "call_site": props.get("callSite.short", ""),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": list(ev.get("Stage IDs", [])),
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value") for a in info.get("Accumulables", [])}

                def num(name: str) -> int:
                    try:
                        return int(acc.get(name) or 0)
                    except (TypeError, ValueError):
                        return 0

                stages[info["Stage ID"]] = {
                    "tasks": int(info.get("Number of Tasks", 0)),
                    "run_ms": num("internal.metrics.executorRunTime"),
                    "shuffle_write": num(_SHUFFLE_WRITE),
                    "shuffle_read": sum(num(n) for n in _SHUFFLE_READ),
                    "spill": num(_SPILL),
                    "name": info.get("Stage Name", ""),
                }
    return {"jobs": jobs, "stages": stages}


def group_totals(log: dict, group: str) -> dict:
    """Jobs, executed stages, tasks and bytes of one job group."""
    jobs = [j for j in log["jobs"].values() if j["group"] == group]
    stage_ids = {s for j in jobs for s in j["stages"] if s in log["stages"]}
    st = [log["stages"][s] for s in stage_ids]
    return {
        "jobs": len(jobs),
        "stages": len(st),
        "tasks": sum(s["tasks"] for s in st),
        "shuffle_write": sum(s["shuffle_write"] for s in st),
        "shuffle_read": sum(s["shuffle_read"] for s in st),
        "spill": sum(s["spill"] for s in st),
        "run_ms": sum(s["run_ms"] for s in st),
    }
