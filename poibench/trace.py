"""Spans and counters recorded from the benchmark's side of each layer call.

A span is (name, start, end, parent). Spans stay in memory; the benchmark
turns them into per-layer metrics when the run ends. Three counters are
read at span boundaries:

* py4j round trips: the gateway client's ``send_command`` is wrapped, so
  every JVM call the Python side makes during a span is counted;
* SQL executions: every Spark SQL execution that ran inside a span is
  read back from the session's SQL status store after the span, with the
  final (post-AQE) plan graph and its metric values, so operator rows,
  shuffle bytes, broadcast bytes and spill are those of the plan that ran;
* stderr WARN lines: the JVM's stderr goes to a log file, and the lines
  written during a span are scanned.
"""

from __future__ import annotations

import html
import re
import time
from contextlib import contextmanager

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_NODE = re.compile(r'label="(?:<br>)?<b>(.*?)</b><br><br>(.*?)" tooltip=')


def parse_metric(text: str) -> float | None:
    """A formatted SQL metric value (``1,234``, ``9.4 KiB``, ``76 ms``) as a
    number: counts as-is, sizes in bytes, times in seconds."""
    parts = text.replace(",", "").split()
    try:
        if len(parts) == 1:
            return float(parts[0])
        if len(parts) == 2 and parts[1] in _SIZE:
            return float(parts[0]) * _SIZE[parts[1]]
        if len(parts) == 2 and parts[1] in _TIME:
            return float(parts[0]) * _TIME[parts[1]]
    except ValueError:
        pass
    return None


def parse_plan_dot(dot: str) -> list[tuple[str, dict[str, float]]]:
    """[(node name, {metric: value})] from ``SparkPlanGraph.makeDotFile``."""
    nodes = []
    for name, body in _NODE.findall(dot):
        items = html.unescape(body).split("<br>")
        metrics: dict[str, float] = {}
        i = 0
        while i < len(items):
            item = items[i]
            if " total (min, med, max" in item and i + 1 < len(items):
                # aggregated form: "<name> total (min, med, max ...)" then
                # "<total> (<min>, <med>, <max> ...)" on the next line
                value = parse_metric(items[i + 1].split(" (")[0])
                key = item.split(" total (")[0]
                i += 2
            elif ": " in item:
                key, raw = item.split(": ", 1)
                value = parse_metric(raw)
                i += 1
            else:
                i += 1
                continue
            if value is not None:
                metrics[key] = value
        nodes.append((html.unescape(name), metrics))
    return nodes


class Tracer:
    """Collects spans, py4j counts, SQL plan metrics and WARN lines.

    ``enabled=False`` makes every method a no-op apart from running the
    wrapped code, so the untraced run pays nothing for it."""

    def __init__(self, spark=None, enabled: bool = False, stderr_log: str | None = None):
        self.enabled = enabled
        self.spark = spark
        self.stderr_log = stderr_log
        self.spans: list[dict] = []
        self.py4j_calls = 0
        self.pass_index = 0  # set by the runner; stamped on every span
        self._stack: list[dict] = []

    # -- setup ------------------------------------------------------------
    def attach(self, spark) -> None:
        """Start counting py4j round trips on ``spark``'s gateway."""
        self.spark = spark
        if not self.enabled:
            return
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counting_send(*args, **kwargs):
            self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counting_send

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str, sql: bool = False):
        """Time the block as span ``name``. With ``sql=True`` the SQL
        executions that ran inside it are attached as plan metrics."""
        if not self.enabled:
            yield None
            return
        rec = {
            "name": name,
            "parent": self._stack[-1]["name"] if self._stack else None,
            "pass": self.pass_index,
        }
        if sql:
            rec["eid0"] = self._max_execution_id()
        rec["py4j0"] = self.py4j_calls
        rec["warn0"] = self._stderr_size()
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["py4j_calls"] = self.py4j_calls - rec.pop("py4j0")
            rec["warn_lines"] = self._warn_lines(rec.pop("warn0"))
            if sql:
                rec["ops"] = self._execution_ops(rec.pop("eid0"))
            self.spans.append(rec)

    # -- SQL plan metrics ------------------------------------------------------
    def _store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def _max_execution_id(self) -> int:
        calls = self.py4j_calls
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        execs = self._store().executionsList()
        n = execs.size()
        last = execs.apply(n - 1).executionId() if n else -1
        self.py4j_calls = calls  # reading the store is not the layer's work
        return last

    def _execution_ops(self, after: int) -> list[tuple[str, dict]]:
        """Final plan nodes of every SQL execution with an id above ``after``."""
        last = self._max_execution_id()
        calls = self.py4j_calls
        store = self._store()
        ops = []
        for eid in range(after + 1, last + 1):
            if store.execution(eid).isEmpty():
                continue
            ops.extend(parse_plan_dot(store.planGraph(eid).makeDotFile(store.executionMetrics(eid))))
        self.py4j_calls = calls
        return ops

    # -- stderr ---------------------------------------------------------------
    def _stderr_size(self) -> int:
        if not self.stderr_log:
            return 0
        try:
            with open(self.stderr_log, "rb") as f:
                return f.seek(0, 2)
        except FileNotFoundError:
            return 0

    def _warn_lines(self, offset: int) -> int:
        if not self.stderr_log:
            return 0
        with open(self.stderr_log, "rb") as f:
            f.seek(offset)
            return sum(1 for line in f if b"trivially true" in line)


def op_sum(ops: list[tuple[str, dict]], metric: str, node_pred=lambda n: True) -> float:
    """Sum of ``metric`` over the plan nodes whose name satisfies ``node_pred``."""
    return sum(m.get(metric, 0.0) for n, m in ops if node_pred(n))


def op_count(ops: list[tuple[str, dict]], node_pred) -> int:
    return sum(1 for n, _ in ops if node_pred(n))


def is_join(name: str) -> bool:
    return name.endswith("Join") or "NestedLoopJoin" in name or name == "CartesianProduct"

