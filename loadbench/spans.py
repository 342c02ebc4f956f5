"""Spans around the benchmark's calls into the program's modules, plus the
Spark REST readings a traced run adds.

Tracing wraps public module attributes (``setattr(module, name, wrapper)``)
from the benchmark's side; the package itself is not edited. A call is seen
when the caller looks the function up on its module at call time -- the
benchmark's own calls, and package code written as ``module.fn(...)`` or
importing inside the function. Spans are kept in memory and written out as
JSON lines when the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
import urllib.request
from datetime import datetime, timezone


class Tracer:
    """Records spans when ``enabled``; otherwise :meth:`call` only calls."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op_id: int | None = None
        self.overhead_s = 0.0  # tracer bookkeeping time, summed
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span called ``name``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        t0 = time.perf_counter()
        stack = self._stack()
        span = {
            "id": next(self._ids),
            "name": name,
            "parent": stack[-1] if stack else None,
            "op": self.op_id,
        }
        stack.append(span["id"])
        span["start"] = time.perf_counter()
        self.overhead_s += span["start"] - t0
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            stack.pop()
            self.spans.append(span)
            self.overhead_s += time.perf_counter() - span["end"]

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a spanned wrapper until
        :meth:`unwrap_all`."""
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            return self.call(name, orig, *args, **kwargs)

        setattr(module, attr, wrapper)
        self._patched.append((module, attr, orig))

    def unwrap_all(self) -> None:
        for module, attr, orig in reversed(self._patched):
            setattr(module, attr, orig)
        self._patched.clear()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


# --- Spark REST API (enabled for traced runs only) ------------------------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def parse_time(s: str) -> float:
    """Spark REST timestamp (``2026-10-16T23:10:00.123GMT``) -> epoch s."""
    dt = datetime.strptime(s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def rest_snapshot(ui_url: str) -> dict:
    """Jobs, completed stages and SQL executions of the live application."""
    app = _get(f"{ui_url}/api/v1/applications")[0]["id"]
    base = f"{ui_url}/api/v1/applications/{app}"
    snap = {
        "jobs": _get(f"{base}/jobs"),
        "stages": _get(f"{base}/stages?status=complete"),
        "sql": [],
    }
    try:
        snap["sql"] = _get(f"{base}/sql?details=true&planDescription=false&length=100000")
    except OSError as e:  # older Spark builds have no SQL endpoint
        snap["sql_error"] = repr(e)
    return snap


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def parse_size(text: str) -> float:
    """Bytes in a Spark SQL size metric. The value is either ``12.3 KiB``
    or ``total (min, med, max ...)\\n12.3 KiB (...)``; the total comes first."""
    line = text.strip().splitlines()[-1] if "total" in text else text.strip()
    num, unit = line.split()[:2]
    return float(num.replace(",", "")) * _UNITS.get(unit, 1)


PYTHON_BYTE_METRICS = ("data sent to Python workers", "data returned from Python workers")


def sql_python_bytes(execution: dict) -> float:
    """Bytes exchanged with Python workers in one SQL execution."""
    total = 0.0
    for node in execution.get("nodes", []):
        for m in node.get("metrics", []):
            if m.get("name") in PYTHON_BYTE_METRICS:
                total += parse_size(m["value"])
    return total
