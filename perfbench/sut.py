"""The system under test: one process that sets the engine up, runs one
workload against its public entry points and checks the output.

``run.py`` starts this process and samples its memory from outside.
Messages to ``run.py`` are JSON lines on stdout; ``live_tcp`` waits for
one JSON line on stdin (the generator's record) before it drains.

``setup_s`` runs from process start (interpreter, JVM launch, session,
compiled trees, started streams) to the end of the warm-up batch or
query. It is measured once per run: a second cold set-up would cost
another JVM launch, and a warm one in the same process would hide work
a change moves into module import or JVM start-up.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import socket
import struct
import sys
import time
from urllib.parse import unquote, urlparse

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import suite  # noqa: E402
from stats import (  # noqa: E402
    backlog_series, cpu_times, due_latencies, geomean, median, passes_to_report, pctl,
    steal_pct,
)
from trace import Tracer, iso_s, self_times, span_cost_s  # noqa: E402

# live_tcp: the reference's product path at a rate well inside capacity
LIVE_RATE = 1250  # events/s
RAMP_S = 2.0  # generator lead-in before the measured window
LIVE_PER_FRAME = 250
LIVE_HOSTS = 1000
LIVE_TREE = {
    "action": "by", "params": [{"fields": ["host"]}],
    "children": [{
        "action": "ewma-timeless", "params": [0.5],
        "children": [{"action": "tap", "params": ["ewma"]}],
    }],
}
LIVE_SCHEMA = "host string, service string, time_micros bigint, metric_d double"

def emit(msg: dict) -> None:
    sys.stdout.write(json.dumps(msg) + "\n")
    sys.stdout.flush()


# -- tracing of the program's public calls ------------------------------------


def install_trace(tracer: Tracer) -> None:
    """Wrap the public calls of each layer. Modules bind these names at
    call time, so patching the module attribute reaches every caller."""
    from mirabelle_spark import session
    from mirabelle_spark.plans import builder, spec
    from mirabelle_spark.streaming import lifecycle, metrics, tcp

    session.get_spark = tracer.wrap("session", session.get_spark)
    builder.compile_stream = tracer.wrap("plans", builder.compile_stream)
    spec.validate_tree = tracer.wrap("plans", spec.validate_tree)
    H = lifecycle.StreamHandler
    H.add_stream = tracer.wrap("lifecycle", H.add_stream)
    H.push_events = tracer.wrap("lifecycle", H.push_events, count="lifecycle.push_calls")
    tcp.decode_msg = tracer.wrap(
        "riemann_wire", tcp.decode_msg,
        count="riemann_wire.decode_calls", errors="riemann_wire.decode_errors",
    )
    L = metrics.StreamMetricsListener
    L.render = tracer.wrap("metrics", L.render)


def layer_sum(tracer: Tracer, layer: str, name: str | None = None) -> float:
    return sum(
        s["end"] - s["start"] for s in tracer.spans
        if s["layer"] == layer and s["parent"] is None and (name is None or s["name"] == name)
    )


# -- checkpoint logs --------------------------------------------------------


def source_files(ckpt: str) -> dict[str, int]:
    """File path -> id of the batch that read it, from the file source's
    metadata log (plain and compacted entries)."""
    out: dict[str, int] = {}
    for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(f).startswith("."):
            continue
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[unquote(urlparse(e["path"]).path)] = int(e["batchId"])
    return out


def commit_times(ckpt: str) -> dict[int, float]:
    out = {}
    for f in glob.glob(os.path.join(ckpt, "commits", "*")):
        name = os.path.basename(f)
        if name.isdigit():
            out[int(name)] = os.stat(f).st_mtime
    return out


def progress_list(q) -> list[dict]:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]


def core_metrics(progress: list[dict], taps: dict[str, list[dict]] | None = None) -> dict:
    """Per-batch fixed cost, state size and per-tap compute, from
    ``StreamingQueryProgress`` records of batches that read input."""
    data = [p for p in progress if (p.get("numInputRows") or 0) > 0]
    d = lambda p, k: (p.get("durationMs") or {}).get(k, 0) / 1000.0  # noqa: E731
    ops = lambda p: p.get("stateOperators") or []  # noqa: E731
    out = {
        "core.batches": len(data),
        "core.rows_per_batch_p50": median([p["numInputRows"] for p in data]),
        "core.trigger_s_p50": median([d(p, "triggerExecution") for p in data]),
        "core.trigger_s_p99": pctl([d(p, "triggerExecution") for p in data], 0.99),
        "core.planning_s": median([d(p, "queryPlanning") for p in data]),
        "core.offsets_s": median([d(p, "latestOffset") + d(p, "getBatch") for p in data]),
        "core.commit_s": median([d(p, "walCommit") + d(p, "commitOffsets") for p in data]),
        "core.state_rows": sum(sum(o.get("numRowsTotal", 0) for o in ops(p))
                               for p in _last_per_query(data)),
        "core.state_bytes": sum(sum(o.get("memoryUsedBytes", 0) for o in ops(p))
                                for p in _last_per_query(data)),
        "core.state_commit_s": median(
            [sum(o.get("commitTimeMs", 0) for o in ops(p)) / 1000.0 for p in data]
        ),
    }
    for tap, prog in (taps or {}).items():
        rows = [p for p in prog if (p.get("numInputRows") or 0) > 0]
        add = sum(d(p, "addBatch") for p in rows)
        n = sum(p["numInputRows"] for p in rows)
        wall = sum(d(p, "triggerExecution") for p in rows)
        out[f"core.add_batch_s.{tap}"] = add
        out[f"core.events_per_s.{tap}"] = n / wall if wall else 0.0
    return out


def _last_per_query(progress: list[dict]) -> list[dict]:
    last: dict[str, dict] = {}
    for p in progress:
        last[p.get("id")] = p
    return list(last.values())


def compare(got, want) -> tuple[int, int]:
    """(rows expected, rows in one DataFrame and not the other, counting
    duplicates). A count-and-checksum pass comes first, so equal outputs
    cost two aggregations instead of two shuffled set differences."""
    from pyspark.sql import functions as F

    def check(df):
        h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
        return tuple(df.select(F.count(F.lit(1)), F.sum(h)).first())

    c_got, c_want = check(got), check(want)
    if c_got == c_want:
        return c_want[0], 0
    return c_want[0], got.exceptAll(want).count() + want.exceptAll(got).count()


# -- workloads --------------------------------------------------------------


class Workload:
    def __init__(self, args, tracer: Tracer | None):
        self.args = args
        self.tracer = tracer
        self.root = args.root
        self.work = os.path.join(self.root, inputs.CACHE_DIR, f"work-{os.getpid()}")
        self.spark = None
        self.progress_log: list[dict] = []
        self.layer: dict[str, float] = {}
        self.context: dict = {}

    def session(self, app: str):
        from mirabelle_spark import session

        t0 = time.time()
        spark = session.get_spark(app)
        spark.sparkContext.setLogLevel("ERROR")
        self.layer["session.start_s"] = time.time() - t0
        if self.tracer is not None:
            from pyspark.sql.streaming import StreamingQueryListener

            log = self.progress_log

            class Recorder(StreamingQueryListener):
                def onQueryStarted(self, event):  # noqa: N802 - Spark API names
                    pass

                def onQueryProgress(self, event):  # noqa: N802
                    log.append(json.loads(event.progress.json))

                def onQueryIdle(self, event):  # noqa: N802
                    pass

                def onQueryTerminated(self, event):  # noqa: N802
                    pass

            spark.streams.addListener(Recorder())
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
            self.spark = None

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


class LiveTcp(Workload):
    """Open loop over one TCP connection into the Riemann edge."""

    def setup(self) -> None:
        from pyspark.sql import functions as F

        from mirabelle_spark.plans import builder
        from mirabelle_spark.streaming import (
            RiemannTcpServer, StreamApi, StreamHandler, StreamMetricsListener, file_source,
        )

        self.ckpt_root = os.path.join(self.work, "ck")
        self.ingest_root = os.path.join(self.work, "in")
        self.spark = spark = self.session("perfbench-live")
        self.listener = StreamMetricsListener()
        spark.streams.addListener(self.listener)

        def project(src):
            return src.select(
                "host", "service",
                F.timestamp_micros("time_micros").alias("time"),
                F.col("metric_d").alias("metric"),
            )

        def compile_fn(sp, name, config):
            src = file_source(sp, handler.ingest_dir(name), LIVE_SCHEMA)
            t0 = time.time()
            taps = builder.compile_stream(
                project(src), config["tree"], builder.Ctx(streaming=True)
            ).taps
            self.layer["plans.compile_s"] = time.time() - t0
            return taps["ewma"]

        self.project = project
        t0 = time.time()
        handler = StreamHandler(
            spark, self.ckpt_root, compile_fn, sink="memory", ingest_root=self.ingest_root
        )
        handler.add_stream("live", {"tree": LIVE_TREE})
        self.layer["lifecycle.add_stream_s"] = time.time() - t0
        self.handler = handler
        self.tcp = RiemannTcpServer(handler, default_stream="live").start()
        self.api = StreamApi(handler, metrics=self.listener).start()
        # warm-up: one frame through the edge, drained to a commit; its
        # event times precede the schedule so per-host order is unchanged
        warm = inputs.live_frames(
            {"host": [0] * LIVE_PER_FRAME,
             "due_us": [i - 1_000_000 for i in range(LIVE_PER_FRAME)],
             "metric": [1.0] * LIVE_PER_FRAME},
            LIVE_PER_FRAME, service="warmup",
        )
        with socket.create_connection(("127.0.0.1", self.tcp.port), timeout=60) as s:
            s.sendall(warm[0])
            read_frame(s)
        handler.process_all()
        self.warm_events = LIVE_PER_FRAME

    def teardown(self) -> None:
        self.tcp.stop()
        self.api.stop()
        self.handler.stop_all()
        self.stop_session()

    def run(self) -> dict:
        emit({"ready": True, "tcp_port": self.tcp.port, "http_port": self.api.port})
        gen = json.loads(sys.stdin.readline())
        self.gen = gen
        self.handler.process_all()
        q = self.handler.get_stream("live")
        ckpt = os.path.join(self.ckpt_root, "live")
        file_batch = source_files(ckpt)
        commits = commit_times(ckpt)
        # events due in the first RAMP_S seconds settle the batch cadence
        # and are checked for correctness, but carry no latency sample
        t_meas = gen["t0_wall"] + RAMP_S
        file_dues: dict[str, list[float]] = {}
        batch_events: dict[int, int] = {}
        for path, b in file_batch.items():
            dues = []
            with open(path) as f:
                for line in f:
                    e = json.loads(line)
                    if e.get("service") != "warmup":
                        dues.append(gen["t0_wall"] + (e["time_micros"] - inputs.EPOCH_US) / 1e6)
            if dues:
                batch_events[b] = batch_events.get(b, 0) + len(dues)
            if any(d >= t_meas for d in dues):
                file_dues[path] = [d for d in dues if d >= t_meas]
        lat = due_latencies(file_dues, file_batch, commits)
        measured = {file_batch[p] for p in file_dues}
        progress = [p for p in progress_list(q) if p["batchId"] in measured]
        last_commit = max(commits[b] for b in measured)
        trigger_start = {p["batchId"]: iso_s(p["timestamp"]) for p in progress}
        waits = [
            trigger_start[file_batch[path]] - due
            for path, dues in file_dues.items() if file_batch[path] in trigger_start
            for due in dues
        ]
        acks = [a for f in gen["frames"] if f[3] for a in [f[2]] * f[4]]
        batch_commits = [(commits[b], n) for b, n in batch_events.items()]
        backlog = backlog_series(acks, batch_commits)
        out = {
            "latency_p50_s": pctl(lat, 0.5),
            "latency_p99_s": pctl(lat, 0.99),
            "latency_samples": len(lat),
            "events_per_s": len(lat) / (last_commit - t_meas),
            "total_s": last_commit - t_meas,
            "query_geomean_s": geomean(
                [p["durationMs"]["triggerExecution"] / 1000.0 for p in progress]
            ),
        }
        self.layer.update(core_metrics(progress, {"ewma": progress}))
        self.layer["core.queue_wait_s_p50"] = pctl(waits, 0.5)
        self.layer["core.backlog_events_max"] = max(backlog)
        self.layer["lifecycle.push_bytes"] = sum(
            os.path.getsize(p) for p in file_batch
        )
        # the open loop is only valid if the system kept up: once the
        # generator stops, what it left must drain within a few batches;
        # a backlog that grew during the run takes longer
        out["backlog"] = backlog
        out["drain_s"] = last_commit - max(acks)
        out["backlog_grows"] = out["drain_s"] > 3 * self.layer["core.trigger_s_p50"]
        return out

    def verify(self) -> tuple[int, int]:
        from mirabelle_spark.plans import builder

        spark = self.spark
        cols = ["host", "time", "metric"]
        got = spark.table("live").select(*cols)
        src = spark.read.schema(LIVE_SCHEMA).json(os.path.join(self.ingest_root, "live"))
        ref = builder.compile_stream(
            self.project(src), LIVE_TREE, builder.Ctx()
        ).taps["ewma"].select(*cols)
        sent = sum(f[4] for f in self.gen["frames"]) + self.warm_events
        nacked = sum(f[4] for f in self.gen["frames"] if not f[3])
        # each input event emits one row, so missing rows are lost events
        expected, wrong = compare(got, ref)
        self.context["rows_checked"] = {"ewma": expected}
        lost = max(sent - nacked - expected, 0)
        return sent, min(nacked + lost + wrong, sent)


def read_frame(sock) -> bytes:
    buf = b""
    while len(buf) < 4:
        chunk = sock.recv(4 - len(buf))
        if not chunk:
            raise ConnectionError("edge closed")
        buf += chunk
    (n,) = struct.unpack(">I", buf)
    body = b""
    while len(body) < n:
        chunk = sock.recv(n - len(body))
        if not chunk:
            raise ConnectionError("edge closed")
        body += chunk
    return body


class BatchSuite(Workload):
    """Closed loop: passes over the copied query list, after
    ``suite.WARM_PASSES`` in set-up, until ``suite.PASSES`` of them ran
    with little CPU steal or ``--seconds`` have passed."""

    def setup(self) -> None:
        import __spark_entry__ as entry

        self.spark = self.session("perfbench-batch")
        self.fns = entry.queries()
        self.tables = self.args.tables
        for _ in range(suite.WARM_PASSES):
            self.run_pass()

    def teardown(self) -> None:
        self.stop_session()

    def run_pass(self, jobs: dict | None = None) -> tuple[dict[str, float], dict]:
        """Each query forced by collecting its result; returns each
        query's time and output (None if it failed). With ``jobs``,
        records each query's Spark jobs, stages and tasks."""
        sc = self.spark.sparkContext
        times, outputs = {}, {}
        for q, _ in suite.QUERIES:
            if jobs is not None:
                sc.setJobGroup(q, q)
            t0 = time.time()
            try:
                outputs[q] = self.fns[q](self.spark, self.tables).toPandas()
            except Exception as e:  # noqa: BLE001 - a failing query is a counted failure
                print(f"query {q} failed: {e}", file=sys.stderr)
                outputs[q] = None
            times[q] = time.time() - t0
            if jobs is not None:
                self.tracer.add("batch", q, t0, t0 + times[q])
                st = sc.statusTracker()
                infos = [st.getStageInfo(s) for j in st.getJobIdsForGroup(q)
                         for s in (st.getJobInfo(j).stageIds or [])]
                jobs[q] = (len(st.getJobIdsForGroup(q)), len(infos),
                           sum(i.numTasks for i in infos if i is not None))
        return times, outputs

    def run(self) -> dict:
        jobs: dict | None = {} if self.tracer is not None else None
        passes = []  # (steal %, query times)
        self.outputs = []
        t_start = time.time()
        used = None
        while used is None:
            c0 = cpu_times()
            t, out = self.run_pass(jobs if not passes else None)
            passes.append((steal_pct(c0, cpu_times()), t))
            self.outputs.append(out)
            used = passes_to_report([st for st, _ in passes], suite.PASSES,
                                    suite.PASS_STEAL_PCT_MAX,
                                    time.time() - t_start >= self.args.seconds)
        times = {q: median([passes[i][1][q] for i in used]) for q, _ in suite.QUERIES}
        total = median([sum(passes[i][1].values()) for i in used])
        rows = suite.input_rows(self.tables)
        for q, v in times.items():
            self.layer[f"batch.{q}_s"] = v
        self.context = {"passes": [{"steal_pct": st, "query_s": t, "reported": i in used}
                                   for i, (st, t) in enumerate(passes)]}
        if jobs is not None:
            for i, k in enumerate(("batch.jobs", "batch.stages", "batch.tasks")):
                self.layer[k] = sum(v[i] for v in jobs.values())
            for q in suite.JOB_COUNTED:
                self.layer[f"batch.{q}_jobs"] = jobs[q][0] if q in jobs else 0
        return {
            "latency_p50_s": pctl(times.values(), 0.5),
            "latency_p99_s": pctl(times.values(), 0.99),
            "latency_samples": len(times),
            "events_per_s": sum(rows[t] for _, t in suite.QUERIES) / total,
            "total_s": total,
            "query_geomean_s": geomean(times.values()),
        }

    def verify(self) -> tuple[int, int]:
        """Every measured pass's output of every query matches the
        stored reference."""
        with open(self.args.refs) as f:
            want = json.load(f)
        failed = 0
        for i, outputs in enumerate(self.outputs):
            for q, _ in suite.QUERIES:
                pdf = outputs[q]
                if pdf is None or not suite.matches(pdf, want[q]):
                    print(f"query {q}, pass {i + 1}: output differs from the stored reference",
                          file=sys.stderr)
                    failed += 1
        return len(self.outputs) * len(suite.QUERIES), failed


WORKLOADS = {"live_tcp": LiveTcp, "batch_suite": BatchSuite}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--root", required=True)
    ap.add_argument("--spawned", type=float, required=True, help="wall time run.py spawned us")
    ap.add_argument("--tables")
    ap.add_argument("--refs")
    ap.add_argument("--trace-out")
    args = ap.parse_args()
    sys.path.insert(0, args.root)

    tracer = Tracer() if args.trace else None
    if tracer is not None:
        install_trace(tracer)
    w = WORKLOADS[args.workload](args, tracer)
    try:
        w.setup()
        phases = {"setup": time.time() - args.spawned}
        t = time.time()
        e2e = w.run()
        phases["run"] = time.time() - t
        # the measured part ends here: run.py stops sampling memory and CPU
        emit({"measured": True})
        t = time.time()
        attempted, failed = w.verify()
        phases["verify"] = time.time() - t
        t = time.time()
        w.teardown()
        phases["teardown"] = time.time() - t
    finally:
        w.cleanup()
    layer = w.layer
    e2e["setup_s"] = phases["setup"]
    result = {"e2e": e2e, "layer": layer, "attempted": attempted, "failed": failed,
              "phases_s": phases, "context": w.context}
    if tracer is not None:
        result["layer"].update(trace_layers(tracer, w.progress_log))
        tracer.write(args.trace_out)
    emit({"result": result})
    return 0


def trace_layers(tracer: Tracer, progress: list[dict]) -> dict:
    for p in progress:
        tracer.add_progress(p)
    out = {f"self_s.{k}": v for k, v in self_times(tracer.spans).items()}
    out["riemann_wire.decode_s"] = layer_sum(tracer, "riemann_wire")
    out["lifecycle.push_s"] = layer_sum(tracer, "lifecycle", "push_events")
    for k, v in tracer.counts.items():
        out[k] = v
    out["trace.spans"] = len(tracer.spans)
    out["trace.overhead_s"] = len(tracer.spans) * span_cost_s()
    return out


if __name__ == "__main__":
    sys.exit(main())
