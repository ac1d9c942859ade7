"""Spans and counters recorded from outside the program.

``Tracer`` keeps spans in memory.  It wraps the public functions listed
in ``WRAPPED`` in every loaded ``adlspark`` module that holds them, so a
call from any operator opens a span named ``<module>.<function>``.  Each
span sets the ``perfbench.span`` local property to its id, so the jobs
it submits can be attributed to it from the event log.
"""

from __future__ import annotations

import datetime
import functools
import importlib
import sys
import threading
import time
from contextlib import contextmanager

from reduce import SPAN_PROP

WRAPPED = {
    "adlspark.tables": ("load", "fast_count", "spread"),
    "adlspark.llm.dedup": (
        "quotient_token_sets", "prefix_filter_pairs", "prefix_df_median",
        "near_dup", "minhash_lsh_pairs",
    ),
    "adlspark.llm.similarity": ("kmeans_fit", "kmeans_cells", "pq_fit"),
    "adlspark.ops.asof": ("asof_join",),
    "adlspark.catalog": (
        "build_catalog", "files_metadata", "search_tokens", "append_entries",
        "latest_state",
    ),
    "adlspark.io.ingest": ("ingest", "ingest_evolving", "ingest_with_alerts", "record_alert"),
}


def replace_everywhere(original, replacement, prefix: str = "adlspark") -> None:
    """Point every module-level name bound to ``original`` at ``replacement``
    in the loaded modules under ``prefix``."""
    for mod in list(sys.modules.values()):
        if mod is None or not getattr(mod, "__name__", "").startswith(prefix):
            continue
        for attr, value in list(vars(mod).items()):
            if value is original:
                setattr(mod, attr, replacement)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self.plan_hashes: list[int] = []
        self.op = None
        self._local = threading.local()
        self._main = threading.get_ident()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[int]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        if self.op is None:
            yield
            return
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        rec = {"id": sid, "name": name, "parent": parent, "op": self.op, "start": time.time()}
        stack.append(sid)
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, str(stack[-1]) if stack else None)
            with self._lock:
                self.spans.append(rec)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for mod_name, fns in WRAPPED.items():
            mod = importlib.import_module(mod_name)
            short = mod_name.removeprefix("adlspark.")
            for fn_name in fns:
                original = getattr(mod, fn_name)
                traced = self.wrap(f"{short}.{fn_name}", original)
                if fn_name == "quotient_token_sets":
                    traced = self._hash_input(traced)
                replace_everywhere(original, traced)

    def _hash_input(self, fn):
        """Record the semantic hash of each quotient's input plan, so
        rebuilt work over an identical plan shows as a repeated hash."""

        @functools.wraps(fn)
        def hashed(d, *args, **kwargs):
            if self.op is not None:
                self.plan_hashes.append(d.semanticHash())
            return fn(d, *args, **kwargs)

        return hashed


def make_stream_listener(progress: list, starts: list):
    """A ``StreamingQueryListener`` that appends progress records and query
    start times (epoch seconds) to the given lists."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            starts.append(_epoch(event.timestamp))

        def onQueryProgress(self, event):
            p = event.progress
            progress.append({
                "timestamp": _epoch(p.timestamp),
                "batchId": p.batchId,
                "durationMs": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _epoch(iso: str) -> float:
    return datetime.datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()
