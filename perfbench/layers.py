"""Span tracing of the library's layers, installed from outside the library.

A layer is a subpackage or module of ``kolang_spark``. Every public
function defined in a layer is replaced, in every module that holds a
reference to it (the package re-exports, ``from x import y`` bindings and
the registry module), by a wrapper that records one span per call:
name, layer, start, end, parent, and the Spark job-id counter and Hadoop
bytes-written counter at entry and exit. Spans stay in memory; a layer's
self time and eager jobs are its spans' totals minus those of their
direct children.
"""

from __future__ import annotations

import functools
import inspect
import sys
import time

LAYERS = ("functions", "operators", "llm", "sources", "streaming", "utils")


class Tracer:
    def __init__(self, job_counter, bytes_written):
        """``job_counter()`` gives the next Spark job id; ``bytes_written()``
        gives the JVM's Hadoop file-system bytes written so far."""
        self._jobs = job_counter
        self._written = bytes_written
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._patches: list[tuple] = []

    def install(self) -> int:
        """Wrap every public layer function and find every module reference
        to it, which :meth:`enable` swaps; return how many were wrapped."""
        wrappers = {}
        for mod_name, mod in list(sys.modules.items()):
            layer = _layer_of(mod_name)
            if layer is None:
                continue
            for name, fn in vars(mod).items():
                if (
                    inspect.isfunction(fn)
                    and not name.startswith("_")
                    and fn.__module__ == mod_name
                ):
                    wrappers[id(fn)] = self._wrap(fn, layer, f"{layer}.{name}")
        for mod_name, mod in list(sys.modules.items()):
            if not (mod_name == "kolang_spark" or mod_name.startswith("kolang_spark.")
                    or mod_name == "__spark_entry__"):
                continue
            for name, obj in list(vars(mod).items()):
                w = wrappers.get(id(obj)) if inspect.isfunction(obj) else None
                if w is not None:
                    self._patches.append((mod, name, obj, w))
        return len(wrappers)

    def enable(self, on: bool) -> None:
        for mod, name, orig, wrapper in self._patches:
            setattr(mod, name, wrapper if on else orig)

    def _wrap(self, fn, layer, qualname):
        spans, stack = self.spans, self._stack
        jobs, written = self._jobs, self._written
        track_bytes = layer == "sources"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            parent = stack[-1] if stack else -1
            idx = len(spans)
            # [name, layer, start, end, parent, jobs0, jobs1, bytes0, bytes1, error]
            span = [qualname, layer, 0.0, 0.0, parent, jobs(), 0, 0, 0, False]
            if track_bytes:
                span[7] = written()
            spans.append(span)
            stack.append(idx)
            span[2] = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            except BaseException:
                span[9] = True
                raise
            finally:
                span[3] = time.perf_counter()
                stack.pop()
                span[6] = jobs()
                if track_bytes:
                    span[8] = written()

        return traced

    def take(self) -> list[list]:
        """Return and forget the spans recorded so far."""
        out = self.spans[:]
        del self.spans[:]
        return out


def _layer_of(mod_name: str) -> str | None:
    parts = mod_name.split(".")
    if parts[0] == "kolang_spark" and len(parts) > 1 and parts[1] in LAYERS:
        return parts[1]
    return None


def summarize(spans: list[list]) -> dict[str, float]:
    """Per-layer totals of one pass's spans."""
    out = {}
    for layer in LAYERS:
        for k in ("calls", "self_s", "eager_jobs", "errors"):
            out[f"{layer}.{k}"] = 0
    child_s = [0.0] * len(spans)
    child_jobs = [0] * len(spans)
    for s in spans:
        if s[4] >= 0:
            child_s[s[4]] += s[3] - s[2]
            child_jobs[s[4]] += s[6] - s[5]
    # a span counts towards checkpoint time / bytes written only when no
    # enclosing span already counted it (parents precede their children)
    is_ckpt = [s[1] == "utils" and "checkpoint" in s[0] for s in spans]
    under_ckpt = [False] * len(spans)
    under_sources = [False] * len(spans)
    checkpoint_s = 0.0
    bytes_written = 0
    for i, s in enumerate(spans):
        name, layer, t0, t1, parent = s[:5]
        if parent >= 0:
            under_ckpt[i] = under_ckpt[parent] or is_ckpt[parent]
            under_sources[i] = under_sources[parent] or spans[parent][1] == "sources"
        out[f"{layer}.calls"] += 1
        out[f"{layer}.self_s"] += (t1 - t0) - child_s[i]
        out[f"{layer}.eager_jobs"] += (s[6] - s[5]) - child_jobs[i]
        out[f"{layer}.errors"] += int(s[9])
        if is_ckpt[i] and not under_ckpt[i]:
            checkpoint_s += t1 - t0
        if layer == "sources" and not under_sources[i]:
            bytes_written += s[8] - s[7]
    out["utils.checkpoint_s"] = checkpoint_s
    out["sources.bytes_written"] = bytes_written
    return out
