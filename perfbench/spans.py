"""Spans recorded around calls into the engine, from the benchmark's side.

A :class:`Tracer` wraps public methods on the objects the benchmark builds
(or, for objects the engine builds internally, on their class) and records
one span per call: name, layer, start, end, parent span and a tag naming
the query or drain it belongs to. Each span also sets a Spark job group
``pb:<span id>`` so status-store numbers attribute to it. Spans stay in
memory until the run ends. A disabled tracer patches nothing and its
``span`` context is a no-op.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time

_GROUP_KEYS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


def now_ms() -> float:
    return time.time() * 1000.0


class Tracer:
    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []  # open span ids, innermost last (any thread)
        self._lock = threading.Lock()
        self._patches: list[tuple] = []
        self.own_ms = 0.0  # time spent in the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, layer: str, tag: str | None = None):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        with self._lock:
            sid = len(self.spans)
            parent = self._open[-1] if self._open else None
            if tag is None and parent is not None:
                tag = self.spans[parent]["tag"]
            self.spans.append(
                {"id": sid, "name": name, "layer": layer, "parent": parent,
                 "tag": tag, "start": 0.0, "end": None}
            )
            self._open.append(sid)
        prev = [self.sc.getLocalProperty(k) for k in _GROUP_KEYS]
        self.sc.setJobGroup(f"pb:{sid}", name)
        self.own_ms += (time.perf_counter() - t_in) * 1000.0
        self.spans[sid]["start"] = now_ms()
        try:
            yield
        finally:
            end = now_ms()
            t_out = time.perf_counter()
            for k, v in zip(_GROUP_KEYS, prev):
                self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans[sid]["end"] = end
                self._open.remove(sid)
            self.own_ms += (time.perf_counter() - t_out) * 1000.0

    def _wrapper(self, fn, name: str, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def wrap(self, obj, attr: str, name: str, layer: str) -> None:
        """Trace ``obj.attr`` calls. ``obj`` may be an instance (only that
        object is traced) or a class (every instance, including ones the
        engine constructs internally)."""
        if not self.enabled:
            return
        had_own = attr in vars(obj)
        orig = vars(obj)[attr] if had_own else None
        setattr(obj, attr, self._wrapper(getattr(obj, attr), name, layer))
        self._patches.append((obj, attr, had_own, orig))

    def reset(self) -> None:
        """Forget the spans recorded so far (set-up), keeping the patches;
        called with no span open, right before the timed region."""
        self.spans.clear()
        self.own_ms = 0.0

    def restore(self) -> None:
        for obj, attr, had_own, orig in reversed(self._patches):
            if had_own:
                setattr(obj, attr, orig)
            else:
                delattr(obj, attr)
        self._patches.clear()

    # -- analysis --------------------------------------------------------------

    def closed(self) -> list[dict]:
        return [s for s in self.spans if s["end"] is not None]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed() if s["name"] == name]

    def self_ms_by_layer(self) -> dict[str, float]:
        """Per layer: the sum over its spans of duration minus the part of
        the span covered by its children."""
        spans = self.closed()
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            own = (s["end"] - s["start"]) - covered
            out[s["layer"]] = out.get(s["layer"], 0.0) + own
        return out

    def attribute(self, jobs: list[dict]) -> dict[int, int]:
        """job id -> span id. A job whose group names a span belongs to it;
        any other job (for example one submitted from the searcher's
        lookahead thread, which does not inherit the group) belongs to the
        innermost span open at its submission time."""
        spans = self.closed()
        depth: dict[int, int] = {}
        for s in spans:  # parents are always recorded before children
            depth[s["id"]] = 0 if s["parent"] is None else depth.get(s["parent"], 0) + 1
        out = {}
        for j in jobs:
            g = j.get("group") or ""
            if g.startswith("pb:"):
                out[j["id"]] = int(g[3:])
                continue
            best = None
            for s in spans:
                if s["start"] <= j["submit"] <= s["end"] and (
                    best is None or depth[s["id"]] > depth[best]
                ):
                    best = s["id"]
            if best is not None:
                out[j["id"]] = best
        return out
