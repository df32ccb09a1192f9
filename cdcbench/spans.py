"""Per-layer spans for the traced benchmark run.

``install`` wraps the public entry points of each engine module (and the
two runner steps that build plans or run maintenance) from the outside:
nothing in the package changes.  Every wrapped call becomes a span with a
name, start, end, parent span and the id of the tick it ran in.  Each span
also runs under its own ``sc.setJobGroup``, so after the run the Spark UI's
REST API (``SPARK_GRAFT_UI=true``) attributes every job, stage, task
second and scanned byte to the span that started it.

Spans are kept in memory and written as JSONL at exit.  ``per_layer``
turns spans plus the REST data into the per-layer metrics.
"""

from __future__ import annotations

import functools
import json
import re
import statistics
import sys
import time
import urllib.request
from contextlib import contextmanager


class NullTracer:
    """Tracing off: spans cost one attribute lookup and a no-op context."""

    enabled = False
    tick = None

    @contextmanager
    def span(self, name: str, **attrs):
        yield attrs


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.tick: str | None = None
        self.sc = None  # SparkContext, once it exists
        self.tick_info: dict[str, dict] = {}
        self.patched: list[tuple] = []  # (owner, attribute, original)

    def uninstall(self) -> None:
        """Put every wrapped function back.  The readStream source pickles
        the sources modules by value; a wrapper holding the tracer (and so
        the SparkContext) must not ride along."""
        for owner, attr, orig in reversed(self.patched):
            setattr(owner, attr, orig)
        self.patched.clear()

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "tick": self.tick,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if self._stack:
                    self.sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def _wrap(tracer: Tracer, owner, attr: str, name: str, attrs=None) -> None:
    orig = getattr(owner, attr)
    tracer.patched.append((owner, attr, orig))

    @functools.wraps(orig)
    def traced(*args, **kwargs):
        extra = attrs(*args, **kwargs) if attrs else {}
        with tracer.span(name, **extra):
            return orig(*args, **kwargs)

    setattr(owner, attr, traced)


def install(tracer: Tracer, pkg: str) -> None:
    """Wrap the engine's layer boundaries.  Functions a module imported by
    name are patched in the importing module, where the call resolves."""
    import importlib

    m = {k: importlib.import_module(f"{pkg}.{k}") for k in (
        "session", "sources.synapse", "operators.merge",
        "tables", "streaming.runner", "streaming.observability",
    )}
    runner = m["streaming.runner"]
    src = m["sources.synapse"].SynapseLinkSource
    table = m["tables"].VersionedTable
    _wrap(tracer, m["session"], "get_spark", "session.get_spark")
    _wrap(tracer, src, "pending", "sources.synapse.pending")
    _wrap(tracer, src, "read_folders", "sources.synapse.read_folders")
    _wrap(tracer, src, "entity_schema", "sources.synapse.entity_schema")
    _wrap(tracer, m["sources.synapse"], "paths_are_line_splittable", "sources.cdm.parity_probe")
    _wrap(tracer, m["sources.synapse"], "read_entity_csv", "sources.cdm.read_entity_csv")
    _wrap(tracer, runner.StreamRunner, "_prepare", "operators.prepare")
    _wrap(tracer, runner, "latest_by_version", "operators.dedup.latest_by_version")
    _wrap(tracer, m["operators.merge"], "latest_by_version", "operators.dedup.latest_by_version")
    _wrap(tracer, runner, "cdc_merge", "operators.merge.cdc_merge")
    _wrap(tracer, table, "read", "tables.read")
    _wrap(tracer, table, "commit", "tables.commit",
          lambda self, df, touched_buckets=None, **_: {
              "touched": None if touched_buckets is None else len(touched_buckets)})
    _wrap(tracer, table, "set_watermark", "tables.set_watermark")
    _wrap(tracer, runner.StreamRunner, "_maintenance", "tables.maintenance")
    _wrap(tracer, runner.StreamRunner, "run_once", "streaming.runner.run_once")
    _wrap(tracer, m["streaming.observability"].MetricsRecorder, "record",
          "streaming.observability.record")

    # the runner counts rows for its metrics record inside _merge_folder_batch
    # (df.count() as the record's argument): bill that job to the record
    from pyspark.sql.classic.dataframe import DataFrame

    merge_code = runner.StreamRunner._merge_folder_batch.__code__
    orig_count = DataFrame.count

    @functools.wraps(orig_count)
    def count(self):
        if sys._getframe(1).f_code is merge_code:
            with tracer.span("streaming.observability.record_count"):
                return orig_count(self)
        return orig_count(self)

    tracer.patched.append((DataFrame, "count", orig_count))
    DataFrame.count = count


# ---- Spark REST --------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _bytes(text: str) -> float:
    m = re.match(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)", text.strip())
    return float(m.group(1).replace(",", "")) * _SIZE[m.group(2)] if m else 0.0


def _ms(text: str) -> float:
    """``'87 ms'`` or the task-summary form ``'total (...)\\n87 ms (...)'``."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"([\d.,]+)\s*(ms|s|m|h)\b", line)
    if not m:
        return 0.0
    v = float(m.group(1).replace(",", ""))
    return v * {"ms": 1, "s": 1e3, "m": 6e4, "h": 3.6e6}[m.group(2)]


def fetch_rest(sc) -> dict:
    """Jobs, stages and SQL executions of the live application."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=60) as fh:
            return json.load(fh)

    return {
        "jobs": get("/jobs"),
        "stages": get("/stages?details=false"),
        "sql": get("/sql?details=true&planDescription=false&offset=0&length=100000"),
    }


def _metric(node: dict, name: str) -> str | None:
    for mt in node.get("metrics", []):
        if mt["name"] == name:
            return mt["value"]
    return None


class RestIndex:
    """REST data keyed by job group (= span id)."""

    def __init__(self, rest: dict):
        self.jobs_by_group: dict[str, list[dict]] = {}
        group_of_job = {}
        for j in rest["jobs"]:
            g = j.get("jobGroup")
            if g:
                self.jobs_by_group.setdefault(g, []).append(j)
                group_of_job[j["jobId"]] = g
        self.stage = {(s["stageId"]): s for s in rest["stages"] if s.get("attemptId", 0) == 0}
        # per group: parquet/text bytes scanned, scan-text codegen time
        self.scan: dict[str, dict[str, float]] = {}
        for ex in rest["sql"]:
            jobs = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            groups = {group_of_job[j] for j in jobs if j in group_of_job}
            if len(groups) != 1:
                continue
            agg = self.scan.setdefault(groups.pop(), {"parquet": 0.0, "text": 0.0, "parse_ms": 0.0})
            nodes = {n["nodeId"]: n for n in ex.get("nodes", [])}
            wscg = {}
            for n in nodes.values():
                m = re.match(r"WholeStageCodegen \((\d+)\)", n["nodeName"])
                if m:
                    wscg[int(m.group(1))] = _ms(_metric(n, "duration") or "0 ms")
            parents = {}
            for e in ex.get("edges", []):
                parents.setdefault(e["fromId"], []).append(e["toId"])
            for n in nodes.values():
                size = _metric(n, "size of files read")
                if size is None:
                    continue
                if n["nodeName"].startswith("Scan parquet"):
                    agg["parquet"] += _bytes(size)
                elif n["nodeName"].startswith("Scan text"):
                    agg["text"] += _bytes(size)
                    for p in parents.get(n["nodeId"], []):
                        cg = nodes.get(p, {}).get("wholeStageCodegenId")
                        if cg in wscg:
                            agg["parse_ms"] += wscg.pop(cg)

    def jobs(self, groups) -> list[dict]:
        return [j for g in groups for j in self.jobs_by_group.get(g, [])]

    def stages(self, groups) -> list[dict]:
        out = []
        for j in self.jobs(groups):
            for sid in j.get("stageIds", []):
                s = self.stage.get(sid)
                if s is not None and s.get("status") != "SKIPPED":
                    out.append(s)
        return out

    def scans(self, groups) -> dict[str, float]:
        tot = {"parquet": 0.0, "text": 0.0, "parse_ms": 0.0}
        for g in groups:
            for k, v in self.scan.get(g, {}).items():
                tot[k] += v
        return tot


# ---- per-layer metrics ---------------------------------------------------

def _dur(s: dict) -> float:
    return (s["end"] or s["start"]) - s["start"]


def _subtree(spans: list[dict], root: dict) -> list[dict]:
    kids: dict[str, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s["id"], ()))
    return out


def _covered(children: list[dict]) -> float:
    """Length of the union of the children's intervals."""
    total, end = 0.0, float("-inf")
    for s in sorted(children, key=lambda c: c["start"]):
        lo, hi = max(s["start"], end), s["end"] or s["start"]
        if hi > lo:
            total += hi - lo
        end = max(end, hi)
    return total


def tick_breakdown(spans: list[dict], tick: str) -> dict:
    """Direct children of the tick's ``run_once`` span and its self time:
    they add up to the tick's wall time."""
    root = next(s for s in spans if s["tick"] == tick and s["name"] == "streaming.runner.run_once")
    children = [s for s in spans if s["parent"] == root["id"]]
    out: dict[str, float] = {}
    for c in children:
        out[c["name"]] = out.get(c["name"], 0.0) + _dur(c)
    self_s = _dur(root) - _covered(children)
    return {"wall_s": _dur(root), "children_s": out, "self_s": self_s,
            "sum_s": sum(out.values()) + self_s}


def per_layer(tracer: Tracer, rest: RestIndex, timed_ticks: list[str], extra: dict) -> dict:
    """The per-layer metrics: medians over the timed ticks unless noted;
    ``extra["run"]`` adds the run-wide ones as given."""
    spans = tracer.spans
    per_tick: dict[str, list[float]] = {}

    def add(name: str, value: float) -> None:
        per_tick.setdefault(name, []).append(value)

    for tick in timed_ticks:
        root = next((s for s in spans if s["tick"] == tick
                     and s["name"] == "streaming.runner.run_once"), None)
        if root is None:
            continue
        sub = _subtree(spans, root)
        ids = {s["id"] for s in sub}
        info = tracer.tick_info.get(tick, {})

        def total(*names: str) -> float:
            return sum(_dur(s) for s in sub if s["name"] in names)

        def groups(*names: str) -> list[str]:
            return [s["id"] for s in sub if s["name"] in names]

        add("sources.synapse.pending_s", total("sources.synapse.pending"))
        add("sources.synapse.read_folders_s", total("sources.synapse.read_folders"))
        add("sources.cdm.parity_probe_s", total("sources.cdm.parity_probe"))
        ops = [s for s in sub if s["name"].startswith("operators.")]
        op_ids = {s["id"] for s in ops}
        add("operators.plan_s", sum(_dur(s) for s in ops if s["parent"] not in op_ids))
        children = [s for s in sub if s["parent"] == root["id"]]
        add("streaming.runner.tick_self_s", _dur(root) - _covered(children))
        add("streaming.runner.jobs_per_tick", len(rest.jobs(ids)))
        add("streaming.runner.stages_per_tick", len(rest.stages(ids)))
        commit = groups("tables.commit")
        add("tables.commit_s", total("tables.commit"))
        add("tables.commit_task_s", sum(s["executorRunTime"] for s in rest.stages(commit)) / 1e3)
        add("tables.shuffle_bytes", sum(s["shuffleWriteBytes"] for s in rest.stages(commit)))
        scans = rest.scans(ids)
        if info.get("snapshot_bytes"):
            add("tables.target_scan_ratio", scans["parquet"] / info["snapshot_bytes"])
        if info.get("csv_bytes"):
            add("sources.cdm.csv_scan_ratio", scans["text"] / info["csv_bytes"])
        add("sources.cdm.parse_task_s", scans["parse_ms"] / 1e3)
        commits = [s for s in sub if s["name"] == "tables.commit"]
        rewritten = sum(extra["bucket_count"] if s.get("touched") is None else s["touched"]
                        for s in commits) if extra["bucket_count"] else 0
        add("tables.buckets_rewritten", rewritten)
        add("tables.buckets_linked", info.get("buckets_linked", 0))
        add("tables.files_written", info.get("files_written", 0))
        rec = ("streaming.observability.record", "streaming.observability.record_count")
        add("streaming.observability.record_s", total(*rec))
        add("streaming.observability.record_jobs", len(rest.jobs(groups(*rec))))
        add("tables.set_watermark_s", total("tables.set_watermark"))
        add("tables.maintenance_s", total("tables.maintenance"))
        reads = [s for s in spans if s["tick"] == tick and s["name"] == "tables.changes"]
        if reads:
            add("tables.changes_s", sum(_dur(s) for s in reads))

    out = {name: statistics.median(v) for name, v in per_tick.items()}
    # whole-run figures: maintenance is a cadence, so it is summed
    out["tables.maintenance_s"] = sum(per_tick.get("tables.maintenance_s", [0.0]))
    out["session.get_spark_s"] = sum(_dur(s) for s in spans if s["name"] == "session.get_spark")
    out.update(extra["run"])
    return out
