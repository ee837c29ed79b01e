"""The repository benchmark: full ``pipeline.run_batch`` and live-tail
``streaming.run_stream``, oracle-checked, through the public API only.

    python3 perfbench/run.py --workload batch_fanout16 --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. Each run is one process at
``local[4]``: it starts Spark, writes its input (chosen from a
``gen.transcripts`` pool by a hash of ``conv_id`` with the seed), warms
up, computes the expected counts with ``tests/oracle.py``, measures for
``--seconds`` seconds and checks every batch or epoch against the
oracle. The last line of standard output is the result object; with
``--trace 0`` it holds the end-to-end metrics, with ``--trace 1`` the
per-layer metrics of a traced run (see ``tracing.py``). The traced run
traces odd batch ids only, so the untraced even ones give the tracing
overhead. Earlier lines carry the environment stamp and per-batch
details; the spans of a traced run are written to
``.bench_work/traces/``.

Workloads (why each was chosen is recorded in BENCHMARK.json):

* ``batch_fanout16`` -- closed loop, one client: ``run_batch`` back to
  back over one 10k-turn input table with 16 routing rules (about 3.3
  routed rows per input turn), so parse, route, sink write, sink counts
  and edge aggregate all carry work.
* ``stream_tail`` -- open loop: pre-staged files are moved into the
  watched directory on a fixed schedule; ``run_stream`` consumes one
  file per epoch with the default rules, and each file is timed from
  its scheduled arrival to its epoch's lineage commit.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

from tracing import WRITE_DIRS, median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = 4
DRIVER_MEMORY = "4g"

POOL_TURNS = 20_000  # the seed keeps half of the pool's conversations
STREAM_FILE_TURNS = 2_500
STREAM_INTERVAL_S = 10.0  # above the measured epoch time at this file size
STREAM_DRAIN_TIMEOUT_S = 90.0
# the first batch (epoch) of a process pays query compilation and the
# JIT keeps warming over the next one; measured here, the third and
# later batches spread about half as much between runs as the first two
WARMUP_BATCHES = 2
MIN_BATCHES = 2

WORKLOADS = ("batch_fanout16", "stream_tail")


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def check_checkout() -> None:
    """The benchmark builds nothing: it needs the package and the oracle
    from the checkout it runs in."""
    missing = [p for p in ("logshipper_spark/__init__.py", "tests/oracle.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        log(f"perfbench: not a logshipper_spark checkout (missing {missing})")
        sys.exit(2)


class Run:
    """One benchmark process: its Spark session, work dir and timings."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        for sub in ("tmp", "spark-local"):
            os.makedirs(os.path.join(self.work, sub))
        # everything Spark and Python spill stays inside the checkout
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(CORES),
            "SPARK_GRAFT_TASKS_PER_CORE": "3",
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": self.path("spark-local"),
            "TMPDIR": self.path("tmp"),
        })
        self.setup: dict[str, float] = {}
        self.details: dict = {}
        self.tracer = None
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # ── set-up ──────────────────────────────────────────────────────

    def start_spark(self) -> None:
        from logshipper_spark.session import get_spark

        t0 = time.time()
        self.spark = get_spark(
            master=f"local[{CORES}]",
            app_name=f"perfbench-{self.workload}",
            extra_conf={
                "spark.local.dir": self.path("spark-local"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.jvm_start_s"] = time.time() - t0
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())

    def pool(self) -> str:
        """The ``gen.transcripts`` pool every seed draws from. It does not
        depend on the seed, so it is generated once per checkout (keyed
        by the generator's source) like a build product; the time goes to
        ``pool_build_s``, not to set-up."""
        from logshipper_spark import gen

        with open(gen.__file__, "rb") as f:
            key = hashlib.sha256(f.read() + str(POOL_TURNS).encode()).hexdigest()[:16]
        path = os.path.join(ROOT, ".bench_work", f"pool-{key}")
        if not os.path.isdir(path):
            t0 = time.time()
            tmp = f"{path}.{os.getpid()}.tmp"
            gen.transcripts(self.spark, POOL_TURNS).write.parquet(tmp)
            try:
                os.rename(tmp, path)
            except OSError:  # another run published it first
                shutil.rmtree(tmp, ignore_errors=True)
            self.details["pool_build_s"] = time.time() - t0
        return path

    def selected_input(self):
        """The seed keeps one conversation of each adjacent pair of the
        pool, picked by a hash of the pair with the seed, so every seed
        has the same size, format mix and hot share while the rows
        differ."""
        from pyspark.sql import functions as F

        conv_no = F.substring("conv_id", 6, 20).cast("long")
        pick = F.pmod(F.xxhash64(F.floor(conv_no / 2), F.lit(self.seed)), F.lit(2))
        return self.spark.read.parquet(self.pool()).filter(F.pmod(conv_no, 2) == pick)

    def host_rows(self):
        from logshipper_spark import gen

        return [(r["host_pattern"], r["service"], r["is_wildcard"], r["priority"])
                for r in gen.lookup_hosts(self.spark).collect()]

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from the JVM's /proc status")

    def output_bytes(self, out: str, batch_id: int) -> tuple[int, int]:
        """Bytes and count of the data files one batch wrote."""
        size = files = 0
        for d in WRITE_DIRS:
            for dirpath, _, names in os.walk(os.path.join(out, d, f"batch_id={batch_id}")):
                for n in names:
                    if not n.startswith((".", "_")):
                        size += os.path.getsize(os.path.join(dirpath, n))
                        files += 1
        return size, files

    def traced(self, batch_id: int | None) -> bool:
        """A traced run traces odd batch ids; the even ones stay untraced."""
        return self.trace and batch_id is not None and batch_id % 2 == 1

    def start_tracer(self) -> None:
        if self.trace:
            from tracing import Tracer

            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.install(self.traced)

    # ── workloads ───────────────────────────────────────────────────

    def batch_fanout16(self) -> dict:
        from pyspark.sql import functions as F

        from logshipper_spark import pipeline, tables

        import expected

        rules = expected.fanout16_rules()
        t0 = time.time()
        tables.write_transcripts(self.selected_input(), self.path("input"))
        self.setup["tables.input_write_s"] = time.time() - t0
        table = tables.read_transcripts(self.spark, self.path("input"))

        t0 = time.time()
        for batch_id in range(WARMUP_BATCHES):
            pipeline.run_batch(self.spark, table, self.path("warmup"), batch_id=batch_id,
                               rules=rules)
        self.setup["pipeline.warmup_s"] = time.time() - t0
        self.setup_end = time.time()

        t0 = time.time()
        want = expected.expected_counts(
            expected.read_rows(self.path("input")), expected.fanout16_route, self.host_rows())
        self.details["oracle_s"] = time.time() - t0

        self.start_tracer()
        out = self.path("out")
        batches = []
        deadline = time.time() + self.seconds
        batch_id = 0
        while len(batches) < MIN_BATCHES or time.time() < deadline:
            t0 = time.time()
            try:
                res = pipeline.run_batch(self.spark, table, out, batch_id=batch_id, rules=rules)
            except Exception:  # a failed batch counts against failed, the loop goes on
                traceback.print_exc()
                res = None
            wall = time.time() - t0
            batches.append({"batch_id": batch_id, "wall_s": wall, "res": res,
                            "traced": self.traced(batch_id)})
            batch_id += 1
        if self.tracer:
            self.tracer.uninstall()

        # oracle gate, after the measured window
        counts = {}
        for r in (self.spark.read.parquet(os.path.join(out, "sink_counts"))
                  .groupBy("batch_id", "sink").agg(F.sum("turn_count").alias("n")).collect()):
            counts.setdefault(r["batch_id"], {})[r["sink"]] = r["n"]
        for b in batches:
            res = b.pop("res")
            b["ok"] = res is not None and (
                res["rows_in"] == want["rows_in"]
                and res["parse_errors"] == want["parse_errors"]
                and res["sink_rows"] == want["sink_rows"]
                and counts.get(b["batch_id"]) == res["sink_rows"]
            )
            if res is not None:
                b.update(rows=res["rows_in"], parse_errors=res["parse_errors"],
                         routed_rows=sum(res["sink_rows"].values()))
            b["bytes"], b["files"] = self.output_bytes(out, b["batch_id"])
        n_in = want["rows_in"]
        self.details.update(input_turns=n_in, expected=want, batches=batches)

        good = [b for b in batches if b["ok"]]
        untraced = [b for b in good if not b["traced"]]
        metrics = {
            "turns_per_s": median(n_in / b["wall_s"] for b in untraced),
            "freshness_p50_s": median(b["wall_s"] for b in untraced),
            "sink_bytes_per_turn": median(b["bytes"] / n_in for b in good),
        }
        layer = {}
        if self.trace:
            traced = [b for b in good if b["traced"]]
            layer = self.layer_metrics(good)
            if traced and untraced:
                layer["trace.overhead_s"] = (median(b["wall_s"] for b in traced)
                                             - median(b["wall_s"] for b in untraced))
        return self.result(len(batches), len(batches) - len(good), metrics, layer)

    def stream_tail(self) -> dict:
        from pyspark.sql import functions as F

        from logshipper_spark import streaming
        from logshipper_spark.schemas import TRANSCRIPT_SCHEMA

        import expected

        n_files = max(1, math.ceil(self.seconds / STREAM_INTERVAL_S))
        cols = [f.name for f in TRANSCRIPT_SCHEMA.fields]
        t0 = time.time()
        # round-robin keeps the files equal in size; the first ones feed
        # the warm-up stream
        selected = self.selected_input().select(*cols)
        n_parts = max(n_files + WARMUP_BATCHES, round(POOL_TURNS / 2 / STREAM_FILE_TURNS))
        selected.repartition(n_parts).write.parquet(self.path("staged"))
        self.setup["tables.input_write_s"] = time.time() - t0
        staged = sorted(f for f in os.listdir(self.path("staged")) if f.startswith("part-"))
        warm_files = staged[:WARMUP_BATCHES]
        staged = staged[WARMUP_BATCHES:WARMUP_BATCHES + n_files]

        t0 = time.time()
        os.makedirs(self.path("warm_in"))
        for f in warm_files:
            os.replace(self.path("staged", f), self.path("warm_in", f))
        streaming.run_stream(self.spark, self.path("warm_in"), self.path("warm_out"),
                             self.path("warm_ckpt"), max_files_per_trigger=1).awaitTermination()
        self.setup["pipeline.warmup_s"] = time.time() - t0
        self.setup_end = time.time()

        t0 = time.time()
        hosts = self.host_rows()
        want = {f: expected.expected_counts(expected.read_rows(self.path("staged", f)),
                                            expected.default_route, hosts) for f in staged}
        self.details["oracle_s"] = time.time() - t0

        self.start_tracer()
        watch, out, ckpt = self.path("watch"), self.path("out"), self.path("ckpt")
        os.makedirs(watch)
        query = streaming.run_stream(self.spark, watch, out, ckpt, available_now=False,
                                     max_files_per_trigger=1)
        arrivals = []
        t_start = time.time()
        for i, f in enumerate(staged):
            due = t_start + i * STREAM_INTERVAL_S
            time.sleep(max(0.0, due - time.time()))
            os.replace(self.path("staged", f), os.path.join(watch, f))
            arrivals.append({"file": f, "due": due, "moved": time.time()})
        drain_deadline = time.time() + STREAM_DRAIN_TIMEOUT_S
        while time.time() < drain_deadline and query.exception() is None:
            done = [p for p in query.recentProgress if p["numInputRows"] > 0]
            if len(done) >= len(staged):
                break
            time.sleep(0.2)
        progress = [p for p in query.recentProgress if p["numInputRows"] > 0]
        error = query.exception()
        query.stop()
        if self.tracer:
            self.tracer.uninstall()
        if error is not None:
            log(f"stream failed: {error}")

        file_batch = files_per_batch(os.path.join(ckpt, "sources", "0"))
        counters = {}
        if os.path.isdir(os.path.join(out, "lineage")):
            for r in (self.spark.read.parquet(os.path.join(out, "lineage"))
                      .filter(F.col("stage") == "counters")
                      .select("batch_id", "counter", "value").collect()):
                counters.setdefault(r["batch_id"], {})[r["counter"]] = r["value"]
        by_batch = {p["batchId"]: p for p in progress}
        epochs = []
        totals_got, totals_want = {}, {}
        for a in arrivals:
            w = want[a["file"]]
            for sink, n in w["sink_rows"].items():
                totals_want[sink] = totals_want.get(sink, 0) + n
            b = file_batch.get(a["file"])
            c = counters.get(b, {})
            got_sinks = {k[len("sink_rows_"):]: v for k, v in c.items()
                         if k.startswith("sink_rows_")}
            for sink, n in got_sinks.items():
                totals_got[sink] = totals_got.get(sink, 0) + n
            commit = commit_time(out, b)
            p = by_batch.get(b)
            e = {"file": a["file"], "batch_id": b, "arrival_lag_s": a["moved"] - a["due"],
                 "traced": self.traced(b),
                 "ok": p is not None and commit is not None
                 and c.get("events_received_total") == w["rows_in"]
                 and c.get("parse_errors_total") == w["parse_errors"]
                 and got_sinks == w["sink_rows"]}
            if e["ok"]:
                e.update(
                    rows=w["rows_in"], parse_errors=w["parse_errors"],
                    routed_rows=sum(got_sinks.values()),
                    freshness_s=commit - a["due"],
                    epoch_s=p["durationMs"]["triggerExecution"] / 1e3,
                    queue_wait_s=iso_time(p["timestamp"]) - a["due"],
                )
                e["bytes"], e["files"] = self.output_bytes(out, b)
            epochs.append(e)
        self.details.update(input_turns=sum(w["rows_in"] for w in want.values()),
                            epochs=epochs, totals=totals_got)

        # a sink total off the oracle's fails every epoch
        good = [e for e in epochs if e["ok"]] if totals_got == totals_want else []
        untraced = [e for e in good if not e["traced"]]
        metrics = {
            "turns_per_s": median(e["rows"] / e["epoch_s"] for e in untraced),
            "freshness_p50_s": median(e["freshness_s"] for e in untraced),
            "sink_bytes_per_turn": median(e["bytes"] / e["rows"] for e in good),
        }
        layer = {}
        if self.trace:
            traced = [e for e in good if e["traced"]]
            layer = self.layer_metrics(good)
            run_walls = {s.attrs["batch_id"]: s.duration for s in self.tracer.spans
                         if s.name == "pipeline.run_batch"}
            layer.update({
                "streaming.epoch_p50_s": median(e["epoch_s"] for e in good),
                "streaming.framework_s": median(
                    e["epoch_s"] - run_walls[e["batch_id"]] for e in good
                    if e["batch_id"] in run_walls),
                "streaming.queue_wait_s": median(e["queue_wait_s"] for e in good),
            })
            if traced and untraced:
                layer["trace.overhead_s"] = (median(e["freshness_s"] for e in traced)
                                             - median(e["freshness_s"] for e in untraced))
        layer["streaming.arrival_lag_max_s"] = max(e["arrival_lag_s"] for e in epochs)
        self.details["freshness_samples"] = len(untraced)
        return self.result(len(arrivals), len(arrivals) - len(good), metrics, layer)

    # ── reporting ───────────────────────────────────────────────────

    def layer_metrics(self, samples: list[dict]) -> dict:
        """Medians over the traced batches (epochs) of each layer's
        status-store readout, and over all of them of the counts."""
        from tracing import batch_layers, read_status_store, self_times

        jobs, stages = read_status_store(self.spark.sparkContext)
        spans = self.tracer.spans
        selfs = self_times(spans)
        traced_ids = {b["batch_id"] for b in samples if b["traced"]}
        runs = [s for s in spans
                if s.name == "pipeline.run_batch" and s.attrs["batch_id"] in traced_ids]
        per_batch = [batch_layers(s, spans, jobs, stages, CORES) for s in runs]
        out = {k: median(m[k] for m in per_batch) for k in (per_batch[0] if per_batch else {})}
        out.update({
            "parse.ok_ratio": median((b["rows"] - b["parse_errors"]) / b["rows"] for b in samples),
            "route.routed_rows": median(b["routed_rows"] for b in samples),
            "sinks.output_bytes": median(b["bytes"] for b in samples),
            "sinks.files_written": median(b["files"] for b in samples),
            "pipeline.run_batch_self_s": median(selfs[s.span_id] for s in runs),
        })
        self.write_trace(spans, selfs, jobs)
        return out

    def write_trace(self, spans, selfs, jobs) -> None:
        trace_dir = os.path.join(ROOT, ".bench_work", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{self.workload}-seed{self.seed}.jsonl")
        with open(path, "w") as f:
            for s in sorted(spans, key=lambda s: s.start):
                f.write(json.dumps({
                    "kind": "span", "name": s.name, "id": s.span_id, "parent": s.parent,
                    "start": s.start, "end": s.end, "self_s": selfs[s.span_id],
                    "workload": self.workload, "seed": self.seed, **s.attrs}) + "\n")
            for j in jobs:
                f.write(json.dumps({"kind": "job", **j}) + "\n")
        self.details["trace_file"] = os.path.relpath(path, ROOT)

    def result(self, attempted: int, failed: int, metrics: dict, layer: dict) -> dict:
        setup_s = self.setup_end - PROCESS_START - self.details.get("pool_build_s", 0.0)
        peak = self.peak_rss_mb()
        if self.trace:
            values = dict(layer, **self.setup, **{"session.peak_rss_mb": peak})
            spec = bench_spec()["per_layer"]
        else:
            values = dict(metrics, setup_s=setup_s)
            spec = bench_spec()["end_to_end"]
        self.details.update(setup=self.setup, setup_s=setup_s, peak_rss_mb=peak)
        return {
            "correct": failed == 0 and attempted > 0,
            "attempted": attempted,
            "failed": failed,
            # a layer that did not run in this workload reads 0
            "metrics": {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                                    "unit": m["unit"]} for m in spec},
        }

    def stamp(self) -> dict:
        import pyarrow
        import pyspark

        return {
            "nproc": os.cpu_count(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "master": f"local[{CORES}]",
            "driver_memory": DRIVER_MEMORY,
            "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__,
            "python": platform.python_version(),
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
        }

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit; remove the work dir."""
        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            self.spark.stop()
            if gateway is not None:
                gateway.shutdown()
                proc = getattr(gateway, "proc", None)
                if proc is not None:
                    proc.stdin.close()  # the gateway JVM exits on stdin EOF
                    try:
                        proc.wait(timeout=60)
                    except Exception:
                        proc.kill()
                        proc.wait()
        shutil.rmtree(self.work, ignore_errors=True)


def iso_time(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def files_per_batch(source_log: str) -> dict[str, int]:
    """File name -> streaming batch id, from the file source's metadata
    log in the checkpoint (one JSON line per file after a version line)."""
    out = {}
    if not os.path.isdir(source_log):
        return out
    for name in os.listdir(source_log):
        if not name.isdigit():
            continue
        with open(os.path.join(source_log, name)) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def commit_time(out: str, batch_id: int | None) -> float | None:
    """When the batch's lineage (run_batch's last write) committed."""
    if batch_id is None:
        return None
    marker = os.path.join(out, "lineage", f"batch_id={batch_id}", "_SUCCESS")
    return os.path.getmtime(marker) if os.path.exists(marker) else None


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    check_checkout()
    sys.path[:0] = [ROOT, HERE]

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        print(json.dumps({"stamp": run.stamp()}), flush=True)
        run.start_spark()
        result = getattr(run, args.workload)()
        print(json.dumps({"details": run.details}), flush=True)
    finally:
        run.close()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
