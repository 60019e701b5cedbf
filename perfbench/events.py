"""event_backlog: the reference's integration topology under the
streaming runner, draining a backlog of generated Kafka-shaped frames.

Frames are parquet files of ``(payload BINARY, partition INT, offset
BIGINT, created TIMESTAMP)``, read by the ``file`` source in streaming
mode. Each file is one *tick*: a run of consecutive events whose payload
mix follows the reference generator (i % 30 == 0 -> 'error time', other
i % 10 == 0 -> 'filter me', else a syslog line). Every syslog line
carries its tick's timestamp at a fixed offset, so the out sink can tell
which ticks a micro-batch held without any extra job.

The Elasticsearch branch indexes into :class:`BenchBulkClient`, a
deterministic in-process client that fails a seeded subset of documents
(retryable once, retryable until dead-lettered, or
``mapper_parsing_exception``) and never fails a whole bulk call. What it
saw is spooled to one file per client, so the checker in the Spark
driver process can read it.
"""

from __future__ import annotations

import datetime as dt
import glob
import json
import os
import time
import uuid
import zlib
from dataclasses import dataclass, field
from statistics import median

from perfbench.harness import (
    RestProbe,
    RunConfig,
    Tracer,
    cpu_s,
    jit_cpu_s,
    log,
    peak_rss_mb,
    start_session,
    steal_s,
)

FRAME_DDL = "payload BINARY, partition INT, offset BIGINT, created TIMESTAMP"
KAFKA_PARTITIONS = 4
ERROR_MESSAGE = "error time is not a valid event"
RETRYABLE = "es_rejected_execution_exception"
MAPPER = "mapper_parsing_exception"
# the syslog line is "<191>" + a 27-character ISO timestamp + the rest
TS_START, TS_LEN = 6, 27
BASE_TIME = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
WORDS = (
    "accepted connection from peer closed session user login failed retry "
    "timeout upstream request served bytes status cache miss hit backend "
    "worker queue drained lag offset commit partition rebalance"
).split()
BODIES = 4096  # distinct syslog lines a generator draws from

# the reference's testconfig.yaml shape (two filter branches, an error
# split dead-lettered to error_kafka_producer, and an index-request
# projection into elasticsearch), read from the file source
TOPOLOGY = """
application: perfbench-events
source:
  name: file
  params:
    path: {frames_dir}
    format: parquet
    streaming: true
    schema: "{ddl}"
    created_col: created
    options: {options}
nodes:
  - name: filter
    id: filternode
    params: {{predicate: "CAST(payload AS STRING) <> 'filter me'"}}
    children:
      - name: raise_when
        id: errornode
        params: {{predicate: "CAST(payload AS STRING) = 'error time'",
                 message: "'{msg}'"}}
        error_handler:
          name: error_kafka_producer
          id: errorkafkaproducer
          params: {{topic: perfbench-err}}
        children:
          - name: kafka_producer
            id: kafkaproducer
            params: {{topic: perfbench-out}}
  - name: filter
    id: asyncfilternode
    params: {{predicate: "CAST(payload AS STRING) <> 'filter me'"}}
    children:
      - name: raise_when
        id: asyncerrornode
        params: {{predicate: "CAST(payload AS STRING) = 'error time'",
                 message: "'{msg}'"}}
        children:
          - name: kafka_producer
            id: asynckafkaproducer
            params: {{topic: perfbench-out-async}}
      - name: project
        id: indexrequestbuilder
        params:
          exprs:
            - "'perfbench' AS index"
            - "concat('doc-', partition, '-', offset) AS doc_id"
            - "CAST(payload AS STRING) AS body"
        children:
          - name: elasticsearch
            id: es
            params: {{batch_size: 25}}
"""

NODE_IDS = (
    "filternode",
    "errornode",
    "errorkafkaproducer",
    "kafkaproducer",
    "asyncfilternode",
    "asyncerrornode",
    "asynckafkaproducer",
    "indexrequestbuilder",
    "es",
)


def es_class(seed: int, doc_id: str) -> str:
    """How the bench client treats a document (shared with the checker):
    1% mapper_parsing_exception, 1% retryable until dead-lettered, 5%
    retryable once, the rest indexed first time."""
    h = zlib.crc32(f"{seed}:{doc_id}".encode()) % 1000
    if h < 10:
        return "mapper"
    if h < 20:
        return "exhaust"
    if h < 70:
        return "retry_once"
    return "ok"


class BenchBulkClient:
    """Deterministic bulk client. Documents fail by :func:`es_class`;
    a 'retry_once' document fails on its first attempt with this client
    only. ``close()`` spools what the client saw to one JSON file."""

    def __init__(self, seed: int, spool_dir: str):
        self.seed = seed
        self.spool_dir = spool_dir
        self.calls = 0
        self.docs = 0
        self.ok: list[str] = []
        self.retried: list[str] = []
        self.mapper: list[str] = []
        self._seen: set[str] = set()

    def bulk(self, actions):
        from firebolt_spark.sinks.elasticsearch import DocFailure

        self.calls += 1
        self.docs += len(actions)
        failures = []
        for a in actions:
            doc_id = a["doc_id"]
            kind = es_class(self.seed, doc_id)
            first = doc_id not in self._seen
            self._seen.add(doc_id)
            if kind == "mapper":
                self.mapper.append(doc_id)
                failures.append(DocFailure(doc_id, MAPPER))
            elif kind == "exhaust" or (kind == "retry_once" and first):
                self.retried.append(doc_id)
                failures.append(DocFailure(doc_id, RETRYABLE))
            else:
                self.ok.append(doc_id)
        return failures

    def close(self) -> None:
        if not self.calls:
            return
        os.makedirs(self.spool_dir, exist_ok=True)
        rec = {
            "calls": self.calls,
            "docs": self.docs,
            "ok": self.ok,
            "retried": self.retried,
            "mapper": self.mapper,
        }
        name = uuid.uuid4().hex
        tmp = os.path.join(self.spool_dir, f".{name}")
        with open(tmp, "w") as f:
            json.dump(rec, f)
        os.rename(tmp, os.path.join(self.spool_dir, f"{name}.json"))


@dataclass(frozen=True)
class ClientFactory:
    seed: int
    spool_dir: str

    def __call__(self) -> BenchBulkClient:
        return BenchBulkClient(self.seed, self.spool_dir)


# ---------------------------------------------------------------------------
# generator


@dataclass
class TickExpect:
    """What the generator knows about one tick."""

    n: int
    n_syslog: int
    n_error: int
    crc: int  # sum of the syslog payloads' CRC-32
    doc_ids: list[str]


class EventGen:
    """Seeded frames, ``per_tick`` events a file. Tick k holds events
    [k * per_tick, (k + 1) * per_tick); event i is on Kafka partition
    i % 4 at offset i // 4."""

    def __init__(self, seed: int, per_tick: int):
        import random

        self.seed = seed
        self.per_tick = per_tick
        self.rng = random.Random(seed)
        # syslog lines after the timestamp; a pool keeps generation cheap
        # next to the run it feeds
        self.bodies = [
            f" host{self.rng.randrange(64):02d}.example.org "
            f"firebolt[{self.rng.randrange(1, 32768)}]: "
            + " ".join(self.rng.choice(WORDS) for _ in range(self.rng.randint(8, 16)))
            + "\n"
            for _ in range(BODIES)
        ]
        self.expect: dict[int, TickExpect] = {}
        self.tick_by_ts: dict[str, int] = {}

    def frames(self, tick: int, due: dt.datetime):
        import pyarrow as pa

        ts = due.strftime("%Y-%m-%dT%H:%M:%S.%fZ")
        self.tick_by_ts[ts] = tick
        payloads, parts, offsets = [], [], []
        n_syslog = n_error = crc = 0
        doc_ids = []
        rng, bodies = self.rng, self.bodies
        head = f"<191>{ts}"
        for i in range(tick * self.per_tick, (tick + 1) * self.per_tick):
            if i % 30 == 0:
                p = b"error time"
                n_error += 1
            elif i % 10 == 0:
                p = b"filter me"
            else:
                p = (head + bodies[rng.randrange(BODIES)]).encode()
                n_syslog += 1
                crc += zlib.crc32(p)
            if p != b"filter me":
                doc_ids.append(f"doc-{i % KAFKA_PARTITIONS}-{i // KAFKA_PARTITIONS}")
            payloads.append(p)
            parts.append(i % KAFKA_PARTITIONS)
            offsets.append(i // KAFKA_PARTITIONS)
        self.expect[tick] = TickExpect(
            self.per_tick, n_syslog, n_error, crc, doc_ids
        )
        created = pa.array([due] * self.per_tick, pa.timestamp("us", tz="UTC"))
        return pa.table(
            {
                "payload": pa.array(payloads, pa.binary()),
                "partition": pa.array(parts, pa.int32()),
                "offset": pa.array(offsets, pa.int64()),
                "created": created,
            }
        )

    def write(self, directory: str, tick: int, due: dt.datetime) -> None:
        """Write under a name the file source ignores, then rename."""
        import pyarrow.parquet as pq

        table = self.frames(tick, due)
        tmp = os.path.join(directory, f".tick-{tick:08d}.parquet")
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(directory, f"tick-{tick:08d}.parquet"))


# ---------------------------------------------------------------------------
# one streaming query over a frames directory


@dataclass
class BatchRecord:
    ticks: dict[int, tuple[int, int]] = field(default_factory=dict)
    err: tuple[int, int] = (0, 0)
    async_out: tuple[int, int] = (0, 0)
    dlq: list[tuple[str, str]] = field(default_factory=list)


class EventQuery:
    """A pipeline built from the topology plus the sink callables the
    runner calls each micro-batch."""

    def __init__(self, spark, gen: EventGen, frames_dir: str, spool_dir: str,
                 ckpt_dir: str, options: dict, tracer: Tracer, key_prefix: str):
        from firebolt_spark import Pipeline
        from firebolt_spark.streaming.runner import StreamingPipelineRunner

        self.spark = spark
        self.gen = gen
        self.tracer = tracer
        self.prefix = key_prefix
        self.spool_dir = spool_dir
        os.makedirs(frames_dir, exist_ok=True)
        yaml_text = TOPOLOGY.format(
            frames_dir=frames_dir, ddl=FRAME_DDL, msg=ERROR_MESSAGE,
            options=json.dumps(options),
        )
        with tracer.span("pipeline.build", key_prefix):
            self.pipeline = Pipeline.from_yaml(yaml_text)
        es = _find(self.pipeline.roots, "es")
        es.operator.client_factory = ClientFactory(gen.seed, spool_dir)
        self.es_sink = es.operator
        self.batches: dict[int, BatchRecord] = {}
        # batch id -> CPU seconds (JIT compiler threads left out) at the
        # first sink call of that batch; consecutive marks are one batch apart
        self.cpu_marks: dict[int, float] = {}
        self.runner = StreamingPipelineRunner(
            self.pipeline,
            sinks={
                "kafkaproducer": self._out_sink,
                "errorkafkaproducer": self._err_sink,
                "asynckafkaproducer": self._async_sink,
                "es": self._es_sink,
            },
            checkpoint_dir=ckpt_dir,
        )

    # -- sink callables (driver side; each runs one Spark job)

    def _mark(self, batch_id):
        if batch_id not in self.cpu_marks:
            self.cpu_marks[batch_id] = cpu_s(self.spark) - jit_cpu_s(self.spark)

    def _out_sink(self, df, batch_id):
        self._mark(batch_id)
        from pyspark.sql import functions as F

        with self.tracer.span("sinks.producer", f"{self.prefix}{batch_id}"):
            ts = F.substring(F.col("value").cast("string"), TS_START, TS_LEN)
            rows = (
                df.groupBy(ts.alias("ts"))
                .agg(F.count(F.lit(1)).alias("n"), F.sum(F.crc32("value")).alias("crc"))
                .collect()
            )
        rec = self.batches.setdefault(batch_id, BatchRecord())
        for r in rows:
            tick = self.gen.tick_by_ts.get(r["ts"], -1)
            n, crc = rec.ticks.get(tick, (0, 0))
            rec.ticks[tick] = (n + r["n"], crc + (r["crc"] or 0))

    def _err_sink(self, df, batch_id):
        self._mark(batch_id)
        from pyspark.sql import functions as F

        with self.tracer.span("sinks.producer", f"{self.prefix}{batch_id}"):
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.count(F.when(F.col("value").cast("string").contains(ERROR_MESSAGE), 1)).alias("ok"),
            ).collect()[0]
        self.batches.setdefault(batch_id, BatchRecord()).err = (r["n"], r["ok"])

    def _async_sink(self, df, batch_id):
        self._mark(batch_id)
        from pyspark.sql import functions as F

        with self.tracer.span("sinks.producer", f"{self.prefix}{batch_id}"):
            r = df.agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.crc32("value")).alias("crc")
            ).collect()[0]
        self.batches.setdefault(batch_id, BatchRecord()).async_out = (r["n"], r["crc"] or 0)

    def _es_sink(self, df, batch_id):
        self._mark(batch_id)
        with self.tracer.span("sinks.es", f"{self.prefix}{batch_id}"):
            rows = df.select("doc_id", "error_type").collect()
        rec = self.batches.setdefault(batch_id, BatchRecord())
        rec.dlq = [(r["doc_id"], r["error_type"]) for r in rows]

    def drain(self, name: str, timeout_s: float) -> list:
        """Run availableNow over what is in the directory; return the
        progress of the batches that ran. A query that fails or times out
        is logged, not raised."""
        q = self.runner.start(
            self.spark, trigger={"availableNow": True}, query_name=name
        )
        try:
            if not q.awaitTermination(timeout_s):
                log(f"query {name} did not drain in {timeout_s}s")
        except Exception as exc:  # a failed batch stops the query
            log(f"query {name} failed: {exc}")
        finally:
            q.stop()
        # the ticks it never delivered fail the check
        return list(q.recentProgress)

    # -- checking

    def check(self, ticks: list[int]) -> dict:
        """Compare what the sinks, the bulk client and the runner saw
        against what the generator wrote. Returns per-tick verdicts and
        the ES totals."""
        gen = self.gen
        spool = _read_spool(self.spool_dir)
        ok_ids, retried_ids, mapper_ids = (
            set(spool["ok"]), set(spool["retried"]), set(spool["mapper"])
        )
        tick_ok = {t: True for t in ticks}
        batch_of: dict[int, int] = {}
        for bid, rec in self.batches.items():
            exp_ticks = [t for t in rec.ticks if t in gen.expect]
            if len(exp_ticks) != len(rec.ticks):
                good = False  # a group the generator never wrote
            else:
                good = all(
                    rec.ticks[t] == (gen.expect[t].n_syslog, gen.expect[t].crc)
                    for t in exp_ticks
                )
                n_err = sum(gen.expect[t].n_error for t in exp_ticks)
                good &= rec.err == (n_err, n_err)
                good &= rec.async_out == (
                    sum(gen.expect[t].n_syslog for t in exp_ticks),
                    sum(gen.expect[t].crc for t in exp_ticks),
                )
                want_dlq = {
                    (d, MAPPER if es_class(gen.seed, d) == "mapper" else RETRYABLE)
                    for t in exp_ticks
                    for d in gen.expect[t].doc_ids
                    if es_class(gen.seed, d) in ("mapper", "exhaust")
                }
                good &= len(rec.dlq) == len(want_dlq) and set(rec.dlq) == want_dlq
            for t in rec.ticks:
                if t in tick_ok:
                    if t in batch_of:  # delivered twice
                        good = False
                        tick_ok[t] = False
                    batch_of[t] = bid
                    tick_ok[t] = tick_ok[t] and good
        es_counts = {"indexed": 0, "retried": 0, "dead_lettered": 0}
        for t in ticks:
            if t not in batch_of:
                tick_ok[t] = False  # never delivered
                continue
            for d in gen.expect[t].doc_ids:
                kind = es_class(gen.seed, d)
                indexed = d in ok_ids
                want_indexed = kind in ("ok", "retry_once")
                want_retried = kind in ("retry_once", "exhaust")
                if (
                    indexed != want_indexed
                    or (d in retried_ids) != want_retried
                    or (d in mapper_ids) != (kind == "mapper")
                ):
                    tick_ok[t] = False
                es_counts["indexed"] += indexed
                es_counts["retried"] += d in retried_ids
                es_counts["dead_lettered"] += kind in ("mapper", "exhaust")
        return {
            "ok": all(tick_ok.values()),
            "tick_ok": tick_ok,
            "es": es_counts,
            "bulk_calls": spool["calls"],
            "bulk_docs": spool["docs"],
            "bulk_ok": len(spool["ok"]),
        }

    def node_totals_ok(self, ticks: list[int]) -> bool:
        """runner.metrics per-node counts equal the generator's classes."""
        e = [self.gen.expect[t] for t in ticks]
        syslog = sum(x.n_syslog for x in e)
        err = sum(x.n_error for x in e)
        kept = syslog + err
        m = self.runner.metrics
        want = {
            "filternode": (kept, 0),
            "asyncfilternode": (kept, 0),
            "errornode": (syslog, err),
            "asyncerrornode": (syslog, err),
            "kafkaproducer": (syslog, 0),
            "asynckafkaproducer": (syslog, 0),
            "errorkafkaproducer": (err, 0),
            "indexrequestbuilder": (kept, 0),
        }
        got = {k: (m.node(k).success, m.node(k).error) for k in want}
        if got != want or m.rows_in != sum(x.n for x in e):
            log(f"node totals differ: want {want} rows_in {sum(x.n for x in e)}, "
                f"got {got} rows_in {m.rows_in}")
            return False
        return True


def _find(nodes, node_id):
    for rt in nodes:
        if rt.id == node_id:
            return rt
        found = _find(rt.children, node_id)
        if found is not None:
            return found
    return None


def _read_spool(spool_dir: str) -> dict:
    out = {"calls": 0, "docs": 0, "ok": [], "retried": [], "mapper": []}
    for path in glob.glob(os.path.join(spool_dir, "*.json")):
        with open(path) as f:
            rec = json.load(f)
        for k in out:
            out[k] += rec[k]
    return out


# ---------------------------------------------------------------------------
# the workload

# A batch costs about 1.95 s of fixed per-batch work plus 0.07 ms an event
# (2 cores: 2.0 s at 2,500 events, 4.8 s at 40,000), so at 30,000 events
# per-row work is about half of a batch.
TICK_EVENTS = 30_000  # events a backlog file (one file per trigger)
TICKS_PER_S = 0.3  # timed backlog files per --seconds
WARM_TICKS = 4  # warm-up files; after the slow first batch the JIT is still warming for several more


def _nominal(tick: int) -> dt.datetime:
    """Ticks are one nominal second apart."""
    return BASE_TIME + dt.timedelta(seconds=tick)


class BacklogBench:
    """Set-up with warm-up, then one timed availableNow drain of a fixed
    backlog: the same files, batch count and batch sizes every run."""

    def __init__(self, cfg: RunConfig, tracer: Tracer):
        self.cfg = cfg
        self.tracer = tracer
        self.gen = EventGen(cfg.seed, TICK_EVENTS)
        self.next_tick = 0
        # every input is written before the set-up clock starts
        self.warm_ticks = self._write("warm", WARM_TICKS)
        self.timed_ticks = self._write(
            "backlog", max(3, round(cfg.seconds * TICKS_PER_S))
        )
        self.warm_failed = 0
        self.spark = None

    def _dir(self, name: str) -> str:
        return os.path.join(self.cfg.work_dir, name)

    def _write(self, name: str, n: int) -> list[int]:
        ticks = list(range(self.next_tick, self.next_tick + n))
        self.next_tick += n
        os.makedirs(self._dir(name), exist_ok=True)
        for t in ticks:
            self.gen.write(self._dir(name), t, _nominal(t))
        return ticks

    def _query(self, name: str) -> EventQuery:
        return EventQuery(
            self.spark, self.gen, self._dir(name), self._dir(f"spool-{name}"),
            self._dir(f"ckpt-{name}"), {"maxFilesPerTrigger": 1}, self.tracer, name,
        )

    def setup(self) -> float:
        """Session, pipeline and WARM_TICKS warm-up batches; returns the
        CPU seconds they took. The warm-up output is checked after that,
        and a failed tick counts in ``failed``."""
        t0, c0 = time.perf_counter(), cpu_s()
        with self.tracer.span("session.start"):
            self.spark = start_session(self.cfg)
        q = self._query("warm")
        with self.tracer.span("setup.warmup"):
            prog = q.drain("warm", 170)
        setup_s = cpu_s(self.spark) - c0
        log(f"set-up: {time.perf_counter() - t0:.1f} s wall, {setup_s:.1f} CPU-s")
        verdict = q.check(self.warm_ticks)
        self.warm_failed = sum(
            self.gen.expect[t].n for t, ok in verdict["tick_ok"].items() if not ok
        )
        if self.warm_failed:
            log(f"warm-up check failed: {self.warm_failed} events")
        log(f"warm-up batches (s): {[p.durationMs['triggerExecution'] / 1000 for p in prog]}")
        return setup_s

    def measure(self) -> dict:
        tr = self.tracer
        rest = RestProbe(self.spark) if tr.enabled else None
        q = self._query("backlog")
        totals0 = rest.executor_totals() if rest else None
        j0, s0 = jit_cpu_s(self.spark), steal_s()
        t0 = time.perf_counter()
        progress = q.drain("backlog", 170)
        wall = time.perf_counter() - t0
        jit = jit_cpu_s(self.spark) - j0
        stolen = steal_s() - s0
        m = q.cpu_marks
        batch_cpu = [m[b + 1] - m[b] for b in sorted(m) if b + 1 in m]
        totals1 = rest.executor_totals() if rest else None
        verdict = q.check(self.timed_ticks)
        nodes_ok = q.node_totals_ok(self.timed_ticks)
        events = sum(self.gen.expect[t].n for t in self.timed_ticks)
        failed = sum(
            self.gen.expect[t].n for t, ok in verdict["tick_ok"].items() if not ok
        )
        if not nodes_ok:
            failed = events
        warm_events = sum(self.gen.expect[t].n for t in self.warm_ticks)
        batch_s = [p.durationMs["triggerExecution"] / 1000 for p in progress]
        log(
            f"event_backlog: {len(progress)} batches of {TICK_EVENTS} events, "
            f"drain {wall:.2f}s ({events / wall:.0f} events/s), batch times "
            f"{[round(x, 2) for x in batch_s]}, CPU {[round(x, 2) for x in batch_cpu]} "
            f"+ JIT {jit:.1f} s, "
            f"host steal {stolen:.1f} s; ES {verdict['es']}"
        )
        out = {
            # the checked warm-up events count as attempted too
            "attempted": warm_events + events,
            "failed": self.warm_failed + failed,
            "correct": self.warm_failed + failed == 0
            and len(progress) == len(self.timed_ticks),
            "e2e": {
                # the median batch, so a batch slowed by a burst of load
                # on the shared host does not move it
                "cpu_ms_per_item": (_median(batch_cpu) * 1000 / TICK_EVENTS, "ms"),
                "peak_rss_mb": (peak_rss_mb(self.spark), "MB"),
            },
        }
        if tr.enabled:
            out["layers"] = self._layers(q, verdict, progress, rest, totals0, totals1)
            out["layers"]["jvm.jit_cpu_s"] = (jit / max(len(progress), 1), "s")
        return out

    def _layers(self, q: EventQuery, verdict: dict, progress: list,
                rest: RestProbe, totals0: dict, totals1: dict) -> dict:
        tr = self.tracer
        dur = lambda p, k: p.durationMs.get(k, 0) / 1000.0  # noqa: E731
        sink_s = {
            p.batchId: sum(
                s.end - s.start
                for s in tr.spans
                if s.key == f"backlog{p.batchId}" and s.name.startswith("sinks.")
            )
            for p in progress
        }
        jobs = _jobs_per_batch(rest, "backlog")
        counters = q.es_sink.counters()
        n = max(len(progress), 1)
        m = {
            "sources.offsets_s": (_median([dur(p, "latestOffset") + dur(p, "getBatch") for p in progress]), "s"),
            "sources.rows_per_batch": (_median([p.numInputRows for p in progress]), "count"),
            "runner.add_batch_s": (_median([dur(p, "addBatch") for p in progress]), "s"),
            "runner.self_s": (_median([dur(p, "addBatch") - sink_s[p.batchId] for p in progress]), "s"),
            "runner.jobs_per_batch": (_median([jobs.get(p.batchId, 0) for p in progress]), "count"),
            "runner.checkpoint_s": (_median([dur(p, "walCommit") + dur(p, "commitOffsets") for p in progress]), "s"),
            "sinks.producer_s": (_median([tr.total("sinks.producer", f"backlog{p.batchId}") for p in progress]), "s"),
            "sinks.es_s": (_median([tr.total("sinks.es", f"backlog{p.batchId}") for p in progress]), "s"),
            "sinks.es.bulk_calls": (verdict["bulk_calls"], "count"),
            "sinks.es.doc_retries": (counters.get("es_doc_retries_total", 0), "count"),
            "sinks.es.dead_lettered": (counters.get("es_docs_dead_lettered_total", 0), "count"),
            "sinks.es.docs_per_bulk_call": (verdict["bulk_docs"] / max(verdict["bulk_calls"], 1), "count"),
            "sinks.es.useful_frac": (verdict["bulk_ok"] / max(verdict["bulk_docs"], 1), "ratio"),
            "spark.shuffle_write_bytes": ((totals1["shuffle_write_bytes"] - totals0["shuffle_write_bytes"]) / n, "B"),
            "jvm.gc_s": ((totals1["gc_s"] - totals0["gc_s"]) / n, "s"),
            "cached_rdds": (rest.cached_rdds(), "count"),
        }
        for node in NODE_IDS:
            nm = q.runner.metrics.node(node)
            m[f"runner.node_rows.{node}.success"] = (nm.success, "count")
            if node in ("errornode", "asyncerrornode"):
                m[f"runner.node_rows.{node}.error"] = (nm.error, "count")
        return m


def _median(xs: list) -> float:
    """The median, or 0 where no batch ran."""
    return median(xs) if xs else 0.0


def _jobs_per_batch(rest: RestProbe, query_name: str) -> dict[int, int]:
    """Spark jobs per micro-batch of ``query_name``, from the job
    description Structured Streaming sets: the query name on its first
    line and "batch = N" on a later one."""
    out: dict[int, int] = {}
    for j in rest.get("/jobs") or []:
        lines = (j.get("description") or "").splitlines()
        if not lines or lines[0] != query_name:
            continue
        for line in lines:
            if line.startswith("batch = "):
                b = int(line.split("=", 1)[1])
                out[b] = out.get(b, 0) + 1
    return out
