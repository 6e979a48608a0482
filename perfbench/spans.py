"""Span tracer installed from outside the program (trace runs only).

Wrappers are placed around public functions of each layer; every call
records a span (name, start, end, parent, request id). Spans stay in memory
and are written once when the run ends. A span's self time is its duration
minus the part of its interval that its child spans cover.

Layer spans:

- ``protocol.request``  the Flask app's WSGI entry (every HTTP request)
- ``protocol.encode``   ``protocol._arrow_b64`` (Arrow IPC + base64)
- ``result.normalize``  ``protocol.normalize``
- ``engine.execute``    ``Engine.execute``
- ``dialect.translate`` / ``dialect.split``  ``snowflake_to_spark`` /
  ``split_statements`` as the engine module looks them up
- ``spark.analyze``     ``SparkSession.sql``
- ``spark.execute``     ``DataFrame.toArrow`` / ``collect`` / ``count``
- ``spark.write``       ``DataFrameWriter`` saves
- ``iceberg.<method>``  ``IcebergTable`` DML, ``plan_files`` and ``read``
- ``queries.build``     a registry spec's ``spark`` builder

Py4J round trips are counted at ``send_command``.
"""

from __future__ import annotations

import functools
import json
import threading
import time

ICEBERG_METHODS = (
    "append",
    "delete_where",
    "update_where",
    "merge_apply",
    "upsert",
    "compact",
    "replace_contents",
    "plan_files",
    "read",
)


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.rid: str | None = None
        self.py4j_calls = 0
        self._local = threading.local()
        #: (owner, attribute, original or None when it was inherited)
        self._patches: list[tuple[object, str, object]] = []

    # -- recording -----------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int:
        st = self._stack()
        idx = len(self.spans)
        self.spans.append(
            {"name": name, "start": time.perf_counter(), "end": None,
             "parent": st[-1] if st else None, "rid": self.rid}
        )
        st.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx]["end"] = time.perf_counter()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        own = attr in getattr(owner, "__dict__", {})
        orig = owner.__dict__[attr] if own else getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                return orig(*args, **kwargs)
            finally:
                tracer.end(idx)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig if own else None))

    def _count_py4j(self, owner) -> None:
        orig = owner.send_command
        tracer = self

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            tracer.py4j_calls += 1
            return orig(*args, **kwargs)

        owner.send_command = counted
        self._patches.append((owner, "send_command", orig))

    # -- installation --------------------------------------------------------

    def install(self, app=None) -> None:
        """Wrap every layer boundary (call after the engine is set up)."""
        import py4j.clientserver
        import py4j.java_gateway
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameWriter
        from pyspark.sql.session import SparkSession

        from universql_spark import engine, protocol
        from universql_spark.iceberg_format import IcebergTable

        self._count_py4j(py4j.clientserver.ClientServerConnection)
        self._count_py4j(py4j.java_gateway.GatewayConnection)
        self.wrap(engine.Engine, "execute", "engine.execute")
        self.wrap(engine, "snowflake_to_spark", "dialect.translate")
        self.wrap(engine, "split_statements", "dialect.split")
        self.wrap(protocol, "normalize", "result.normalize")
        self.wrap(protocol, "_arrow_b64", "protocol.encode")
        self.wrap(SparkSession, "sql", "spark.analyze")
        for m in ("toArrow", "collect", "count"):
            self.wrap(DataFrame, m, "spark.execute")
        for m in ("save", "saveAsTable", "parquet", "insertInto"):
            self.wrap(DataFrameWriter, m, "spark.write")
        for m in ICEBERG_METHODS:
            self.wrap(IcebergTable, m, f"iceberg.{m}")
        if app is not None:
            self.wrap(app, "wsgi_app", "protocol.request")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)

    # -- analysis ------------------------------------------------------------

    def self_times(self, keep=lambda span: True) -> list[tuple[dict, float]]:
        """(span, self seconds) for every closed span that ``keep`` accepts."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["end"] is not None and s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = []
        for i, s in enumerate(self.spans):
            if s["end"] is None or not keep(s):
                continue
            lo, hi = s["start"], s["end"]
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(kids.get(i, []), key=lambda c: c["start"]):
                a, b = max(lo, c["start"]), min(hi, c["end"])
                if b <= a:
                    continue
                if cur_hi is None or a > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = a, b
                else:
                    cur_hi = max(cur_hi, b)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out.append((s, (hi - lo) - covered))
        return out

    def self_by_name(self, keep=lambda span: True) -> dict[str, float]:
        """Total self seconds per span name."""
        out: dict[str, float] = {}
        for s, t in self.self_times(keep):
            out[s["name"]] = out.get(s["name"], 0.0) + t
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
