#!/usr/bin/env python3
"""CDC stream benchmark: one workload, one seed, one JSON result line.

    python3 cdcbench/run.py --workload trickle --seed 1 --seconds 20 --trace 0

Drives the public ``StreamRunner`` API in a closed loop against a Synapse
Link export rendered by ``gen.py`` (a separate process, run before any
timing starts).  One stream, one generator: a folder is published (moved
into the source root, then ``Changelog/changelog.info`` advances) only
after the previous ``run_once()`` has returned, so the loop measures the
stream at saturation for that folder size.  A run has three phases:

1. untimed: set-up, seed folder, warm-up ticks (the JVM's JIT settles);
2. timed for ``--seconds``: ticks, each followed by the downstream
   consumer's ``changes()`` read of the new commit;
3. oracle: the target's row count, key set and (key, versionnumber,
   displayvalue) digest and the watermark against the generator's state.

``--trace 1`` runs the same loop with per-layer spans (``spans.py``) and
prints the per-layer metrics instead of the end-to-end ones; it also
drains the published folders through ``run_structured(available_now=True)``
into a fresh target and checks that target too.  Every line but the last
is human-oriented detail; the last line is the result object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "arcane_stream_microsoft_synapse_link_spark"
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import spans as tracing  # noqa: E402

# Workload -> stream shape.  Sizes live in gen.WORKLOADS.
WORKLOADS = {
    # per-tick fixed cost: bucketed target, 16-row ticks
    "trickle": {"bucket_count": 16, "metrics": False},
    # merge-and-rewrite: unbucketed target, ticks of ~10% of it, metrics on
    "live_merge": {"bucket_count": 0, "metrics": True},
}

# untimed ticks after the seed folder: with the client compiler only
# (see JAVA_OPTS) tick wall time and CPU flatten after about 3
WARMUP_TICKS = 4
# rendered change folders per timed second: an iteration (tick plus
# consumer read) never runs faster than this, so a run cannot exhaust
# its folders
MAX_TICKS_PER_S = 1
# warm-up ticks that also run the consumer read
WARM_READS = 2
# Spark task threads: half the box, so the JVM's compiler and GC threads
# and the Python driver have cores of their own and a run does not queue
# behind itself
CPUS = max(1, len(os.sched_getaffinity(0)) // 2)
# Driver heap, fixed and pre-touched: the JVM's RSS is then the heap plus
# its non-heap memory, not whatever G1 happened to grow to in this run.
HEAP = "1g"
# C2 recompiles for 20+ ticks of a fresh JVM, at about 3 CPU-s per tick and
# at a pace set by how fast the host runs the compiler threads; the client
# compiler (C1) alone settles in about 3 ticks at 0.3 CPU-s per tick.  GC
# threads are capped for the same reason as CPUS.
JAVA_OPTS = (f"-Xms{HEAP} -XX:+AlwaysPreTouch -XX:TieredStopAtLevel=1"
             " -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1")
# Wall-clock figures: printed in the detail line, not gated.  On a shared
# host they follow the neighbours' load (see README.md, "Why the wall-clock
# figures are not gated"); the gated figures are CPU time, RSS and set-up.
WALL_CLOCK = {"commit_latency_p50_s": "s", "commit_latency_tail_s": "s",
              "consumer_read_p50_s": "s"}


def tail(samples: list[float]) -> tuple[float, float, int]:
    """Highest percentile with at least min(10, n // 4) samples beyond it:
    (value, percentile, samples beyond).  A run of 40 or more ticks gets
    the issue's 10 samples beyond; a shorter one gets its 75th percentile
    or above, never the maximum of a handful of ticks."""
    xs = sorted(samples)
    n = len(xs)
    i = n - 1 - min(10, n // 4)
    return xs[i], 100.0 * (i + 1) / n, n - 1 - i


def du(path: str) -> int:
    total = 0
    for r, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(r, f))
    return total


def inodes(path: str) -> dict[str, int]:
    out = {}
    for r, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(r, f)
                out[os.path.relpath(p, path)] = os.stat(p).st_ino
    return out


class Bench:
    def __init__(self, args, work: str, tracer, declared: dict):
        self.args, self.work, self.tracer = args, work, tracer
        # metric names and units are declared once, in BENCHMARK.json
        self.end_to_end = {m["name"]: m["unit"] for m in declared["end_to_end"]}
        self.per_layer = {m["name"]: m["unit"] for m in declared["per_layer"]}
        self.shape = WORKLOADS[args.workload]
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.pid = os.getpid()

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)
        print(f"FAILED: {what}", file=sys.stderr, flush=True)

    # ---- set-up --------------------------------------------------------
    def setup(self) -> float:
        import importlib

        self.session = importlib.import_module(f"{PKG}.session")
        self.runner_mod = importlib.import_module(f"{PKG}.streaming.runner")
        self.spark = self.session.get_spark("cdcbench")
        self.sc = self.spark.sparkContext
        self.src = os.path.join(self.work, "src")
        self.spec = self._spec(os.path.join(self.work, "target"))
        self.runner = self.runner_mod.StreamRunner(self.spark, self.spec)
        setup_s = procstat.process_age_s(self.pid)
        self.sc.setLogLevel("ERROR")
        if self.tracer.enabled:
            self.tracer.sc = self.sc
        return setup_s

    def _spec(self, target: str):
        import gen

        return self.runner_mod.StreamSpec(
            entity_name=gen.ENTITY,
            source_root=self.src,
            target_root=target,
            bucket_count=self.shape["bucket_count"],
            metrics_path=os.path.join(self.work, "metrics.jsonl") if self.shape["metrics"] else None,
        )

    def generate(self) -> None:
        ticks = 1 + WARMUP_TICKS + MAX_TICKS_PER_S * self.args.seconds
        out = os.path.join(self.work, "gen")
        subprocess.run(
            [sys.executable, os.path.join(HERE, "gen.py"), "--workload", self.args.workload,
             "--seed", str(self.args.seed), "--out", out, "--ticks", str(ticks)],
            check=True,
        )
        with open(os.path.join(out, "expected.json")) as fh:
            self.expected = json.load(fh)
        self.staged = os.path.join(out, "staged")
        os.makedirs(os.path.join(self.src, "Changelog"))
        with open(os.path.join(self.src, "model.json"), "w") as fh:
            fh.write(self.expected["model"])
        self.next_folder = 0

    def gc_s(self) -> float:
        beans = self.sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans) / 1e3

    def jit_s(self) -> float:
        mx = self.sc._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
        return mx.getTotalCompilationTime() / 1e3

    def heap_mb(self) -> tuple[float, float]:
        """JVM heap (committed, used) in MB."""
        u = self.sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
        return u.getCommitted() / 2**20, u.getUsed() / 2**20

    # ---- one tick --------------------------------------------------------
    def publish(self) -> dict:
        f = self.expected["folders"][self.next_folder]
        self.next_folder += 1
        os.rename(os.path.join(self.staged, f["name"]), os.path.join(self.src, f["name"]))
        info = os.path.join(self.src, "Changelog", "changelog.info")
        with open(info + ".tmp", "w") as fh:
            fh.write(f["name"])
        os.replace(info + ".tmp", info)
        return f

    def tick(self, label: str, consumer: bool) -> dict:
        """Publish one folder, run one tick, then read its changes."""
        table = self.runner.table
        self.tracer.tick = label
        traced = self.tracer.enabled
        prev_v = table.current_version()
        if traced:
            prev_dir = table._snapshot_dir(prev_v)
            self.tracer.tick_info[label] = {
                "snapshot_bytes": du(prev_dir) if prev_v else 0,
                "csv_bytes": self.expected["folders"][self.next_folder]["bytes"],
            }
        cpu0, jit0 = procstat.tree_cpu_s(self.pid), self.jit_s()
        folder = self.publish()
        t0 = time.perf_counter()
        ok = True
        try:
            self.runner.run_once()
        except Exception:  # a failed tick is counted, the run goes on
            traceback.print_exc()
            ok = False
        latency = time.perf_counter() - t0
        rec = {"tick": label, "rows": folder["rows"], "wall_s": latency, "ok": ok,
               "consumer": consumer}
        if ok and table.watermark() != folder["name"]:
            ok = rec["ok"] = False
        if traced and ok and prev_v:
            new_dir = table._snapshot_dir(table.current_version())
            old, new = inodes(prev_dir), inodes(new_dir)
            linked = {os.path.dirname(r) for r, i in new.items() if old.get(r) == i}
            self.tracer.tick_info[label]["buckets_linked"] = len(linked - {""})
            self.tracer.tick_info[label]["files_written"] = sum(
                1 for r, i in new.items() if old.get(r) != i)
        if consumer and ok and prev_v:
            cpu1 = procstat.tree_cpu_s(self.pid)
            rec["read_s"], rec["read_ok"] = self.consume(prev_v, folder["changes"])
            rec["read_cpu_s"] = procstat.tree_cpu_s(self.pid) - cpu1
        rec["cpu_s"] = procstat.tree_cpu_s(self.pid) - cpu0
        rec["jit_s"] = self.jit_s() - jit0
        rec["heap_committed_mb"], rec["heap_used_mb"] = self.heap_mb()
        return rec

    def consume(self, prev_v: int, want: dict) -> tuple[float, bool]:
        """Downstream reader: count each change type of the new commit."""
        table = self.runner.table
        t0 = time.perf_counter()
        try:
            with self.tracer.span("tables.changes"):
                rows = (
                    table.changes(self.spark, prev_v, version_col="versionnumber")
                    .groupBy("_change_type").count().collect()
                )
        except Exception:
            traceback.print_exc()
            return time.perf_counter() - t0, False
        got = {"insert": 0, "update": 0, "delete": 0, **{r[0]: r[1] for r in rows}}
        return time.perf_counter() - t0, got == want

    # ---- oracle ------------------------------------------------------------
    def state_ok(self, table, label: str) -> bool:
        """Row count, key set and (key, versionnumber, displayvalue) digest
        of ``table`` and its watermark against the last published folder."""
        from pyspark.sql import functions as F

        last = self.expected["folders"][self.next_folder - 1]

        def h(*cols):
            text = F.concat_ws("|", *cols)
            return F.conv(F.substring(F.sha2(text, 256), 1, 15), 16, 10).cast("decimal(38,0)")

        try:
            row = table.read(self.spark).agg(
                F.count(F.lit(1)), F.countDistinct("Id"), F.sum(h(F.col("Id"))),
                F.sum(h(F.col("Id"), F.col("versionnumber").cast("string"),
                        F.col("displayvalue"))),
            ).first()
        except Exception:
            traceback.print_exc()
            self.fail(f"{label}: target unreadable")
            return False
        got = {"rows": row[0], "keys": row[1], "key_digest": str(row[2] or 0),
               "row_digest": str(row[3] or 0), "watermark": table.watermark()}
        want = {"rows": last["state"]["rows"], "keys": last["state"]["rows"],
                "key_digest": last["state"]["key_digest"],
                "row_digest": last["state"]["row_digest"], "watermark": last["name"]}
        if got != want:
            self.fail(f"{label}: target state {got} != expected {want}")
            return False
        return True

    def drain(self) -> dict:
        """Drain every published folder through the readStream path into a
        fresh target; returns rows/s and per-batch durations."""
        structured = __import__(f"{PKG}.streaming.structured", fromlist=["run_structured"])
        spec = self._spec(os.path.join(self.work, "target_rs"))
        rows = sum(f["rows"] for f in self.expected["folders"][: self.next_folder])
        t0 = time.perf_counter()
        with self.tracer.span("streaming.structured.run_structured"):
            q = structured.run_structured(self.spark, spec, os.path.join(self.work, "ckpt"))
            q.awaitTermination()
        wall = time.perf_counter() - t0
        batches = [dict(p.durationMs or {}) for p in q.recentProgress if p.numInputRows]
        table = self.runner_mod.VersionedTable(spec.target_root)
        ok = self.state_ok(table, "readStream drain")
        return {"rows": rows, "wall_s": wall, "rows_per_s": rows / wall, "ok": ok,
                "batches": batches,
                "batch_ms": sum(b.get("triggerExecution", 0) for b in batches)}

    # ---- the run -------------------------------------------------------
    def run(self) -> dict:
        setup_s = self.setup()
        phases = {"setup": setup_s}
        t = time.perf_counter()
        self.generate()
        phases["generate"] = time.perf_counter() - t
        detail: dict = {"workload": self.args.workload, "seed": self.args.seed,
                        "cpus": self.sc.defaultParallelism}
        seed = self.tick("seed", consumer=False)
        # the consumer path warms on the last few warm-up ticks only
        warm = [self.tick(f"w{k}", consumer=k >= WARMUP_TICKS - WARM_READS)
                for k in range(WARMUP_TICKS)]
        phases["seed_and_warmup"] = time.perf_counter() - t - phases["generate"]
        steal0, gc0 = procstat.host_steal_s(), self.gc_s()
        t = time.perf_counter()
        t_end = t + self.args.seconds
        timed: list[dict] = []
        # stop before an iteration that would end past the deadline
        # (judged by the median iteration so far), so a run lasts --seconds
        while True:
            est = statistics.median(r["iter_s"] for r in timed) if timed else 0.0
            if timed and time.perf_counter() + est > t_end:
                break
            if self.next_folder >= len(self.expected["folders"]):
                print("ran out of rendered folders", file=sys.stderr)
                break
            t_iter = time.perf_counter()
            timed.append(self.tick(f"t{len(timed)}", consumer=True))
            timed[-1]["iter_s"] = time.perf_counter() - t_iter
        steal1, gc1 = procstat.host_steal_s(), self.gc_s()
        peak_rss_mb = procstat.tree_hwm_mb(self.pid)
        ticks = [seed, *warm, *timed]
        heap = {"committed_max": max(r["heap_committed_mb"] for r in ticks),
                "used_max": max(r["heap_used_mb"] for r in ticks)}
        phases["timed"] = time.perf_counter() - t
        t = time.perf_counter()
        # warm-up ticks and reads are checked like timed ones; they are
        # only left out of the timing
        for r in [seed, *warm, *timed]:
            self.attempted += 1
            if not r["ok"]:
                self.fail(f"tick {r['tick']}")
            if r["consumer"]:
                self.attempted += 1
                if not r.get("read_ok", False):
                    self.fail(f"consumer read after {r['tick']}")
        self.attempted += 1  # the final state check counts as an op
        self.tracer.tick = "oracle"
        self.state_ok(self.runner.table, "stream target")
        phases["oracle"] = time.perf_counter() - t

        lat = [r["wall_s"] for r in timed]
        reads = [r for r in timed if "read_s" in r]
        t_val, t_pct, t_beyond = tail(lat)
        rows = sum(r["rows"] for r in timed)
        e2e = {
            "setup_s": setup_s,
            # per iteration (tick plus consumer read), so a steal burst
            # that costs the run a tick does not shift the figure
            "cpu_s_per_krow": statistics.median(1000.0 * r["cpu_s"] / r["rows"] for r in timed),
            "consumer_read_cpu_s": statistics.median(r["read_cpu_s"] for r in reads) if reads else 0.0,
            "peak_rss_mb": peak_rss_mb,
            "commit_latency_p50_s": statistics.median(lat),
            "commit_latency_tail_s": t_val,
            "consumer_read_p50_s": statistics.median(r["read_s"] for r in reads) if reads else 0.0,
        }
        units = {**WALL_CLOCK, **self.end_to_end}
        detail.update({
            "ticks": len(timed), "rows": rows,
            "cpu_s_per_krow_total": 1000.0 * sum(r["cpu_s"] for r in timed) / rows,
            "tail_percentile": t_pct, "tail_samples_beyond": t_beyond,
            "host_steal_s": steal1 - steal0,
            "jvm_gc_s": gc1 - gc0,
            "end_to_end": {k: {"value": v, "unit": units[k]} for k, v in e2e.items()},
            # what the RSS is made of: heap sampled after every tick, and
            # the high-water RSS of each process of the tree
            "jvm_heap_mb": {k: round(v, 1) for k, v in heap.items()},
            "rss_hwm_mb": procstat.tree_hwm_split_mb(self.pid),
            "phases_s": {k: round(v, 2) for k, v in phases.items()},
            "curve": [[r["tick"], round(r["wall_s"], 4), round(r["cpu_s"], 3), round(r["jit_s"], 3)]
                      for r in ticks],
        })
        metrics = {k: (e2e[k], u) for k, u in self.end_to_end.items()}
        if self.tracer.enabled:
            metrics, extra = self.traced_metrics(timed, steal1 - steal0, gc1 - gc0,
                                                 heap["used_max"])
            detail.update(extra)
        detail["errors"] = self.errors
        print(json.dumps({"detail": detail}), flush=True)
        return metrics

    def traced_metrics(self, timed: list[dict], steal_s: float, gc_s: float,
                       heap_mb: float):
        self.tracer.tick = "drain"
        self.tracer.uninstall()
        self.attempted += 1
        try:
            drain = self.drain()
        except Exception:
            traceback.print_exc()
            drain = {"ok": False, "batch_ms": 0.0}
            self.fail("readStream drain")
        rest = tracing.RestIndex(tracing.fetch_rest(self.sc))
        labels = [r["tick"] for r in timed if r["ok"]]
        extra = {"bucket_count": self.shape["bucket_count"],
                 "run": {"streaming.structured.batch_ms": drain["batch_ms"],
                         "jvm.gc_s": gc_s, "host.steal_s": steal_s,
                         "jvm.heap_used_mb": heap_mb}}
        layers = tracing.per_layer(self.tracer, rest, labels, extra)
        mid = sorted(timed, key=lambda r: r["wall_s"])[len(timed) // 2]["tick"]
        out_dir = os.path.join(ROOT, ".cdcbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir, f"spans-{self.args.workload}-{self.args.seed}.jsonl")
        self.tracer.write(spans)
        info = [self.tracer.tick_info.get(t, {}) for t in labels]
        extra = {
            "spans": os.path.relpath(spans, ROOT),
            "median_tick": mid,
            "median_tick_breakdown": tracing.tick_breakdown(self.tracer.spans, mid),
            "snapshot_bytes_p50": statistics.median(i.get("snapshot_bytes", 0) for i in info),
            "csv_bytes_p50": statistics.median(i.get("csv_bytes", 0) for i in info),
            "drain": drain,
        }
        return {k: (layers.get(k, 0.0), u) for k, u in self.per_layer.items()}, extra

    def close(self) -> None:
        spark = getattr(self, "spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        # Python workers the JVM forked exit with it; wait for every one
        deadline = time.monotonic() + 30
        while time.monotonic() < deadline:
            left = [p for p in procstat.tree_pids(self.pid) if p != self.pid]
            if not left:
                break
            for p in left:
                try:
                    os.kill(p, signal.SIGTERM)
                except ProcessLookupError:
                    pass
            time.sleep(0.2)


def main() -> int:
    ap = argparse.ArgumentParser(description="CDC stream benchmark (see cdcbench/README.md)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=CPUS,
                    help="Spark task threads (default: half the CPUs this process may use)")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"cdcbench: the engine package {PKG}/ is not in {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".cdcbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # everything the run writes stays inside the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "tmp")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    # driver-only JVM flags (JDK_JAVA_OPTIONS also reaches spark-submit's
    # 128 MB launcher JVM, which -Xms1g would stop)
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{JAVA_OPTS}" pyspark-shell'
    # set outright, like the heap: an inherited value would change every figure
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cpus)
    # a heap that fits the box: under the engine's 48g default, G1 may
    # grow the heap far past what a run needs, as timing happens to go
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = HEAP
    os.environ["SPARK_GRAFT_UI"] = "true" if args.trace else "false"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)

    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    if args.trace:
        tracing.install(tracer, PKG)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    bench = Bench(args, work, tracer, declared)
    try:
        metrics = bench.run()
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
