"""The benchmark workloads: inputs, one measured operation, output checks,
and the per-layer numbers a traced run resolves to.

Each workload is driven by ``run.py`` in the same order: ``make_inputs``
(repeated, timed for ``setup_s``), ``warm_up``, then ``run_op`` in a loop
for the measured seconds, then ``check`` outside the timed loop.
"""

from __future__ import annotations

import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyarrow.parquet as pq

import gen
import host
import reference
from spans import Tracer, tree_size

from beis_orp_data_service_spark.operators import dedup
from beis_orp_data_service_spark.pipelines import search_api
from beis_orp_data_service_spark.sources import hadoop_fs
from beis_orp_data_service_spark.streaming import pipeline

#: every per-layer metric a traced run reports, with its unit; a layer a
#: workload does not exercise reads 0
PER_LAYER = {
    "driver.jobs": "count",
    "driver.stages": "count",
    "driver.tasks": "count",
    "driver.gap_ms": "ms",
    "session.start_s": "s",
    "scan.input_bytes": "bytes",
    "scan.rows_per_hit": "ratio",
    "search.plan_ms": "ms",
    "search.exec_ms": "ms",
    "udf.converters.ms": "ms",
    "udf.models.ms": "ms",
    "udf.dedup.ms": "ms",
    "exec.cpu_ms": "ms",
    "exec.run_ms": "ms",
    "lsh.probe_ms": "ms",
    "lsh.write_ms": "ms",
    "lsh.index_bytes": "bytes",
    "lsh.index_files": "count",
    "lsh.candidates_per_flag": "ratio",
    "stream.add_batch_ms": "ms",
    "stream.jobs_per_batch": "count",
    "sink.merge_ms": "ms",
    "sink.write_amp": "ratio",
    "sink.files_per_batch": "count",
    "stream.state_bytes": "bytes",
    "write.ms": "ms",
    "write.files": "count",
    "write.bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "shuffle.write_bytes": "bytes",
    "spill.bytes": "bytes",
    "trace.overhead_pct": "%",
    "trace.spans": "count",
}


@dataclass
class OpResult:
    wall_s: float
    items: int  # requests or messages the operation completed
    latencies_s: list[float]  # per request / micro-batch
    extra: dict = field(default_factory=dict)


class Workload:
    name = ""
    #: what an operation's latency is, for the full record
    op_unit = ""

    def __init__(self, spark, root: str, seed: int):
        self.spark = spark
        self.root = os.path.join(root, self.name)
        os.makedirs(self.root, exist_ok=True)
        self.seed = seed

    def make_inputs(self, k: int) -> None:
        raise NotImplementedError

    def warm_up(self) -> None:
        raise NotImplementedError

    def run_op(self, i: int) -> OpResult:
        raise NotImplementedError

    def check(self) -> tuple[int, int, list[str]]:
        """(items attempted, items failed, first failure messages)."""
        raise NotImplementedError

    def install_tracing(self, tracer: Tracer) -> None:
        pass

    def layer_metrics(self, tracer: Tracer, ops: list) -> dict[str, float]:
        """Per-layer numbers over the traced operations ``ops`` (their
        root spans), per unit of work (request or micro-batch)."""
        return common_layer_metrics(tracer, ops, max(1, len(ops)))


def common_layer_metrics(tracer: Tracer, ops: list, units: int) -> dict[str, float]:
    """Driver, executor, shuffle and write numbers for the
    operations' span subtrees, divided by ``units``."""
    out = dict.fromkeys(PER_LAYER, 0.0)
    for op in ops:
        spans = tracer.subtree(op)
        jobs = tracer.job_ids(spans)
        stages = tracer.stages(jobs)
        out["driver.jobs"] += len(jobs)
        out["driver.stages"] += len(stages)
        out["driver.tasks"] += sum(s.tasks for s in stages)
        out["driver.gap_ms"] += op.ms - tracer.covered_s(op, jobs) * 1000.0
        out["exec.cpu_ms"] += sum(s.cpu_ms for s in stages)
        out["exec.run_ms"] += sum(s.run_ms for s in stages)
        out["scan.input_bytes"] += sum(s.input_bytes for s in stages)
        out["shuffle.read_bytes"] += sum(s.shuffle_read_bytes for s in stages)
        out["shuffle.write_bytes"] += sum(s.shuffle_write_bytes for s in stages)
        out["spill.bytes"] += sum(s.spill_bytes for s in stages)
        out["trace.spans"] += len(spans)
        for s in spans:
            if s.name == "write":
                out["write.ms"] += s.ms
                out["write.files"] += s.attrs.get("files", 0)
                out["write.bytes"] += s.attrs.get("bytes", 0)
    for layer, ms in tracer.udf_ms_by_layer().items():
        out[f"udf.{layer}.ms"] = ms
    for k in out:
        if k != "session.start_s":
            out[k] /= units
    return out


# --- search_api ------------------------------------------------------------------


class SearchApi(Workload):
    """One client calling ``handle_search`` in a closed loop."""

    name = "search_api"
    op_unit = "request"
    N_DOCS = 50_000
    N_REQUESTS = 400  # more than a run sends
    N_WARM = 48

    def make_inputs(self, k: int) -> None:
        table = gen.search_store(self.seed, self.N_DOCS)
        self.store_path = os.path.join(self.root, f"store-{k}.parquet")
        pq.write_table(table, self.store_path, row_group_size=10_000)
        self.store = table.to_pandas()
        self.requests = gen.search_requests(self.seed, self.store, self.N_REQUESTS)
        self.responses: list[tuple[dict, dict]] = []

    def warm_up(self) -> None:
        """Requests from one client per usable cpu: a process's latency
        keeps falling as the JVM compiles, and concurrent clients get it
        further along that curve in the same time as one (see README)."""
        self.docs = self.spark.read.parquet(self.store_path)
        with ThreadPoolExecutor(host.cpu_count()) as pool:
            list(pool.map(lambda body: search_api.handle_search(self.docs, body),
                          self.requests[-self.N_WARM:]))

    def run_op(self, i: int) -> OpResult:
        body = self.requests[i]
        t0 = time.perf_counter()
        res = search_api.handle_search(self.docs, body)
        wall = time.perf_counter() - t0
        self.responses.append((body, res))
        return OpResult(wall, 1, [wall], {"returned": len(res.get("documents", []))})

    def check(self) -> tuple[int, int, list[str]]:
        failures = []
        for body, res in self.responses:
            try:
                err = reference.check_response(self.store, body, res)
            except ValueError as e:
                err = str(e)
            if err:
                failures.append(f"{body}: {err}")
        return len(self.responses), len(failures), failures[:5]

    def install_tracing(self, tracer: Tracer) -> None:
        tracer.wrap(search_api, "build_predicate", "search.build")
        tracer.wrap(search_api, "sort_page", "search.build")

    def layer_metrics(self, tracer: Tracer, ops: list) -> dict[str, float]:
        out = common_layer_metrics(tracer, ops, max(1, len(ops)))
        plan, exe, records, returned = [], [], 0, 0
        for op in ops:
            spans = tracer.subtree(op)
            jobs = tracer.job_ids(spans)
            covered = tracer.covered_s(op, jobs) * 1000.0
            plan.append(op.ms - covered)
            exe.append(covered)
            records += sum(s.input_records for s in tracer.stages(jobs))
            returned += op.attrs.get("returned", 0)
        if ops:
            out["search.plan_ms"] = statistics.median(plan)
            out["search.exec_ms"] = statistics.median(exe)
        out["scan.rows_per_hit"] = records / max(1, returned)
        return out


# --- stream_ingest ---------------------------------------------------------------


class StreamIngest(Workload):
    """``run_ingest_stream`` with availableNow over seeded micro-batch
    files into one growing state: the warm-up streams the first batches,
    then each operation drops the next batch files into the source
    directory and restarts the query on its checkpoint, as an upload
    stream resumed after a pause does."""

    name = "stream_ingest"
    op_unit = "micro-batch"
    N_WARM_BATCHES = 4
    BATCHES_PER_OP = 3
    BATCH_SIZE = 100

    def _plan(self, n_batches: int) -> None:
        # plans are prefix-stable: a longer plan starts with the shorter one
        self.plan = gen.stream_plan(self.seed, n_batches, self.BATCH_SIZE)

    def make_inputs(self, k: int) -> None:
        self._plan(self.N_WARM_BATCHES + 4 * self.BATCHES_PER_OP)
        self.dir = os.path.join(self.root, f"state-{k}")
        os.makedirs(os.path.join(self.dir, "in"))
        self.written = 0

    def _add_batches(self, n: int) -> None:
        if self.written + n > len(self.plan.batches):
            self._plan(2 * (self.written + n))
        for b in range(self.written, self.written + n):
            p = os.path.join(self.dir, "in", f"b{b:04d}.json")
            with open(p, "w") as f:
                f.write(gen.jsonl(self.plan.batches[b]))
            # the file source orders batches by modification time
            os.utime(p, (1_700_000_000 + 60 * b,) * 2)
        self.written += n

    def _run_stream(self):
        d = self.dir
        q = pipeline.run_ingest_stream(
            self.spark, os.path.join(d, "in"), os.path.join(d, "chk"),
            os.path.join(d, "idx"), os.path.join(d, "store"), os.path.join(d, "flags"),
        )
        try:
            q.processAllAvailable()
        finally:
            end = time.perf_counter()
            progress = q.recentProgress
            q.stop()
        return end, progress, str(q.runId)

    def warm_up(self) -> None:
        self._add_batches(self.N_WARM_BATCHES)
        self._run_stream()

    def run_op(self, i: int) -> OpResult:
        self._add_batches(self.BATCHES_PER_OP)
        t0 = time.perf_counter()
        end, progress, run_id = self._run_stream()
        batches = [p for p in progress if p["numInputRows"] > 0]
        return OpResult(
            end - t0,
            sum(p["numInputRows"] for p in batches),
            [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches],
            {"add_batch_ms": [p["durationMs"].get("addBatch", 0) for p in batches],
             "job_groups": [run_id]},
        )

    def check(self) -> tuple[int, int, list[str]]:
        """Every message streamed so far, warm-up included: stored with
        its planned SCD version (near-dups and unparsable ones absent),
        near-dup flag set exactly on planted near-dups (an unparsable
        payload's flag is not checked: it is rejected either way)."""
        plan = self.plan
        rows = pipeline.read_scd_store(self.spark, os.path.join(self.dir, "store"))
        got = {r.media_id: r.version for r in rows.select("media_id", "version").collect()}
        flags = {
            r.media_id: r.is_near_dup
            for r in self.spark.read.parquet(os.path.join(self.dir, "flags")).collect()
        }
        attempted = failed = 0
        failures, want_rows = [], 0
        for msgs in plan.batches[: self.written]:
            for m in msgs:
                eid = m["event_id"]
                attempted += 1
                want = plan.versions.get(eid)
                want_rows += want is not None
                flag_ok = eid in plan.unparsable or flags.get(eid) == (eid in plan.near_dups)
                if got.get(eid) != want or not flag_ok:
                    failed += 1
                    failures.append(
                        f"msg {eid}: version {got.get(eid)} want {want}, "
                        f"near_dup {flags.get(eid)} want {eid in plan.near_dups}"
                    )
        if len(got) != want_rows:
            failures.append(f"store rows {len(got)} != {want_rows}")
            failed = max(failed, 1)
        return attempted, failed, failures[:5]

    def install_tracing(self, tracer: Tracer) -> None:
        tracer.wrap(pipeline, "ingest_batch", "stream.batch")
        tracer.wrap(pipeline, "lsh_dedup_batch", "lsh.dedup")
        tracer.wrap(dedup, "lsh_index_write", "lsh.write")

        def sink_files(span, _out, args, _kwargs) -> None:
            sink, epoch = args[0], args[2]
            span.attrs["epoch"] = epoch
            data = os.path.join(sink.path, "data")
            newest = max(os.listdir(data), key=lambda n: int(n.split("=", 1)[1]))
            files = [
                os.path.join(d, n)
                for d, _s, ns in os.walk(os.path.join(data, newest)) for n in ns
                if n.endswith(".parquet")
            ]
            span.attrs["files"] = len(files)
            span.attrs["bytes"] = sum(os.path.getsize(f) for f in files)

        tracer.wrap(pipeline.ParquetScdSink, "__call__", "sink.merge", after=sink_files)

        def manifest_bytes(span, _out, args, _kwargs) -> None:
            span.attrs["files"], span.attrs["bytes"] = 1, len(args[5])

        tracer.wrap(hadoop_fs, "write_new_versioned", "write", after=manifest_bytes)

    def layer_metrics(self, tracer: Tracer, ops: list) -> dict[str, float]:
        batch_spans = [s for op in ops for s in tracer.subtree(op) if s.name == "stream.batch"]
        n_batches = max(1, len(batch_spans))
        out = common_layer_metrics(tracer, ops, n_batches)
        probe = write = merge = files = 0.0
        written = admitted = 0
        add_batch, jobs_per_batch = [], []
        for op in ops:
            spans = tracer.subtree(op)
            for s in spans:
                if s.name == "lsh.write":
                    write += s.ms
                elif s.name == "lsh.dedup":
                    kids = [c for c in tracer.subtree(s) if c.name == "lsh.write"]
                    probe += s.ms - sum(c.ms for c in kids)
                elif s.name == "sink.merge":
                    merge += s.ms
                    files += s.attrs.get("files", 0)
                    written += s.attrs.get("bytes", 0)
                    admitted += sum(
                        len(m["props"].encode())
                        for m in self.plan.batches[s.attrs["epoch"]]
                        if m["event_id"] in self.plan.versions
                    )
                elif s.name == "stream.batch":
                    jobs_per_batch.append(len(tracer.job_ids(tracer.subtree(s))))
            add_batch += op.attrs["add_batch_ms"]
        d = self.dir  # state at the end of the run
        out["lsh.index_files"], out["lsh.index_bytes"] = tree_size(os.path.join(d, "idx"))
        out["stream.state_bytes"] = sum(
            tree_size(os.path.join(d, sub))[1] for sub in ("idx", "store", "flags", "chk")
        )
        near = self.spark.read.parquet(os.path.join(d, "flags")).where("is_near_dup")
        n_flag, n_cand = near.selectExpr("count(*)", "sum(n_index_matches)").first()
        out["lsh.candidates_per_flag"] = (n_cand or 0) / max(1, n_flag)
        out["lsh.probe_ms"] = probe / n_batches
        out["lsh.write_ms"] = write / n_batches
        out["sink.merge_ms"] = merge / n_batches
        out["sink.files_per_batch"] = files / n_batches
        out["sink.write_amp"] = written / max(1, admitted)
        if add_batch:
            out["stream.add_batch_ms"] = statistics.median(add_batch)
        if jobs_per_batch:
            out["stream.jobs_per_batch"] = statistics.mean(jobs_per_batch)
        return out


WORKLOADS = {w.name: w for w in (SearchApi, StreamIngest)}
