"""The workloads: wire bytes in, sink bytes out, through the engine's public
functions only.

Each workload generates its inputs from the seed (``generate``), warms the
engine (``warmup``), measures (``measure``), checks the sink contents against
the generator's ground truth (``verify``) and, for the traced run, splits one
pass across the repo's modules (``trace_pass``).
"""

from __future__ import annotations

import glob
import json
import os
import random
import time
from dataclasses import dataclass

from pyspark.sql import functions as F

import gen
import probes

# --- constants that define the workloads -----------------------------------

# Input sizes. Every run pays a JVM start and a cold warm-up pass (together
# 20-35 s on a 4-core box), and a regression check makes 22 runs of each
# workload in under an hour, so two or three timed passes per phase is what a
# run affords. At these sizes a pass still takes seconds, much of it the
# engine's per-pass fixed cost (jobs, Python workers, planning), which is
# most of what the ROADMAP's fixed-cost work targets.
BINLOG_BACKLOG = gen.BinlogShape(
    n_changes=12_000, rows_per_event=(1, 40), events_per_tx=(1, 4),
    update_share=0.35, delete_share=0.1, note_len=(8, 200), doc_keys=(1, 6),
)
BINLOG_SEGMENTS = 8
PG_BACKLOG = gen.PgShape(
    n_changes=8_000, big_txs=3, big_tx_rows=(1_000, 1_200),
    update_share=0.3, delete_share=0.1, days=6,
)
PG_SPOOL_FILES = 4
CORPUS = gen.CorpusShape(
    n_docs=1_000, vocab=20_000, zipf_s=1.0, words=(50, 110), short_share=0.08,
    symbol_share=0.05, dup_share=0.08, dup_cluster=(1, 4),
)
# The open-loop tail: small transactions (~3 row changes each) released at
# one fixed rate, about a quarter of the rate the backlog phase drains at on a
# 4-core box at the seed commit (6-8K row changes/s).
STREAM_SHAPE = gen.BinlogShape(
    n_changes=0, rows_per_event=(1, 3), events_per_tx=(1, 2),
    update_share=0.35, delete_share=0.1, note_len=(8, 200), doc_keys=(1, 6),
)
STREAM_TX_PER_S = 650
STREAM_TICK_S = 0.1  # the generator flushes one segment file per tick
STREAM_WARM_BATCHES = 2
STREAM_FIRST = 1_000_000  # tail GTIDs and primary keys follow the backlog's
# a transaction not committed this long after its release counts as failed
STREAM_DEADLINE_S = 30.0

# Spark's binaryFile format; a streaming file source needs it spelled out
BINARY_FILE_SCHEMA = "path string, modificationTime timestamp, length long, content binary"

KAFKA_PARTITIONS = 8
BROKER_WORKERS = 2
TOPIC = "cdc.${source.db}.${source.table}"
KEY = "${source.table}:${after.id}"


@dataclass
class Measured:
    """What a run measured: drain pass walls (for records_per_s), per-record
    latency samples as (seconds, count), and operations attempted/failed."""

    walls: list
    records: int
    latencies: list
    attempted: int = 0
    failed: int = 0
    stream: dict | None = None


# --- the CDC chain shared by the binlog paths -------------------------------


def cdc_chain(feed):
    """filter → native envelope → routing (the ``operators`` layer)."""
    from deltaforge_spark.operators import FilterSpec, apply_filter, envelope_native, with_routing

    spec = FilterSpec(
        ops=["c", "u", "d"], fields=[{"field": "amount", "op": "gte", "value": gen.MIN_AMOUNT}]
    )
    return with_routing(
        envelope_native(apply_filter(feed, spec)), topic_template=TOPIC, key_template=KEY
    )


def binlog_feed(segments):
    from deltaforge_spark.sources.binlog import binlog_change_feed

    return binlog_change_feed(
        segments, gen.binlog_columns_by_table(), gen.binlog_image_schema(),
        pipeline="perfbench", ts_ms_field="created",
    )


def read_segments(spark, paths):
    return spark.read.format("binaryFile").load(paths).select(F.col("content").alias("data"))


def produce_eos(df, port: int, sink_id: str = "kafka") -> None:
    from deltaforge_spark.sinks.kafka_eos import write_kafka_eos
    from deltaforge_spark.sinks.kafkawire import kafka_wire_producer_factory

    write_kafka_eos(
        df,
        kafka_wire_producer_factory("127.0.0.1", port, num_partitions=KAFKA_PARTITIONS),
        pipeline="perfbench",
        sink_id=sink_id,
    )


def check_kafka(broker, model: dict) -> tuple[int, int, dict]:
    """Every generated row change that passes the filter must be committed
    exactly once, on its table's topic, with the expected key and images.
    Returns (attempted, failed, details)."""
    expected = {k for k, (op, b, a) in model.items() if gen.passes_filter(op, b, a)}
    seen: set = set()
    dup = wrong = n_bytes = 0
    for (topic, _part), recs in broker.committed.items():
        for r in recs:
            n_bytes += len(r["key"] or b"") + len(r["value"] or b"")
            v = json.loads(r["value"])
            table = v["source"]["table"]
            gno = int(v["event_id"].split(":")[1])
            ident = (table, gno, (v["after"] or v["before"])["id"])
            if ident in seen:
                dup += 1
                continue
            seen.add(ident)
            if ident not in expected:
                wrong += 1
                continue
            op, before, after = model[ident]
            key = f"{table}:{'' if after is None else after['id']}"
            ok = (
                v["op"] == op
                and topic == f"cdc.{gen.BINLOG_DB}.{table}"
                and (r["key"] or b"").decode() == key
                and _same_image(v["after"], after)
                and _same_image(v["before"], before)
            )
            wrong += 0 if ok else 1
    lost = len(expected - seen)
    return len(expected), dup + wrong + lost, {
        "expected": len(expected), "duplicated": dup, "wrong": wrong, "lost": lost,
        "transactions": sum(1 for _t, committed in broker.endtxns if committed),
        "bytes": n_bytes,
    }


def _same_image(got: dict | None, want: dict | None) -> bool:
    if got is None or want is None:
        return got is None and want is None
    got = dict(got)
    got["doc"] = json.loads(got["doc"])
    return got == want


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dur(span) -> float:
    return span.end - span.start


# --- workloads ---------------------------------------------------------------


class Workload:
    name = ""
    # cores kept free of Spark tasks for processes the workload runs beside
    # the engine
    reserved_cores = 0
    # timed passes a run makes whatever ``--seconds`` is: one pass alone
    # reads 10-20% slow or fast as the JIT and the shared host have it
    min_passes = 1

    def __init__(self, workdir: str, seed: int, seconds: float, tracer: probes.Tracer):
        self.spark = None  # set once the session is up
        self.workdir = workdir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.info: dict = {}

    def generate(self) -> None:
        raise NotImplementedError

    def warmup(self) -> None:
        raise NotImplementedError

    def run_pass(self) -> tuple[float, int, int]:
        """One timed drain: (wall seconds, attempted, failed)."""
        raise NotImplementedError

    def records(self) -> int:
        raise NotImplementedError

    def measure(self, seconds: float) -> Measured:
        """Back-to-back passes until ``seconds`` have passed and at least
        ``min_passes`` ran. A backlog's records are all available when the
        pass starts and all durable when it returns, so each record's
        latency is the pass wall."""
        m = Measured([], self.records(), [])
        end = time.perf_counter() + seconds
        while len(m.walls) < self.min_passes or time.perf_counter() < end:
            wall, attempted, failed = self.run_pass()
            m.walls.append(wall)
            m.latencies.append((wall, self.records()))
            m.attempted += attempted
            m.failed += failed
        return m

    def verify(self) -> tuple[int, int, dict]:
        raise NotImplementedError

    def trace_pass(self) -> dict:
        """One traced pass; returns per-layer metric values for it."""
        raise NotImplementedError


class MysqlKafka(Workload):
    """A binlog backlog drained to Kafka exactly-once, then an open-loop
    tail of small transactions through Structured Streaming."""

    name = "mysql_kafka_backlog_stream"
    # the broker's workers: with a Spark task (and its Python worker) on
    # every core as well, passes ran ~10% slower and twice as unevenly
    reserved_cores = BROKER_WORKERS
    min_passes = 3

    def generate(self) -> None:
        seg_dir = os.path.join(self.workdir, "binlog")
        self.capture = gen.write_binlog_backlog(seg_dir, self.seed, BINLOG_BACKLOG, BINLOG_SEGMENTS)
        self.files = sorted(glob.glob(os.path.join(seg_dir, "*.binlog")))
        self.expected = sum(
            1 for op, b, a in self.capture.changes.values() if gen.passes_filter(op, b, a)
        )
        self.stream = OpenLoopTail(self.workdir, self.seed, self.seconds)
        self.info = {
            "backlog": {
                "changes": len(self.capture.changes), "after_filter": self.expected,
                "transactions": self.capture.n_tx, "rows_events": self.capture.n_rows_events,
                "wire_bytes": self.capture.wire_bytes,
            },
            "stream": self.stream.info,
        }

    def records(self) -> int:
        return len(self.capture.changes)

    def _drain(self, paths, broker) -> float:
        try:
            t0 = time.perf_counter()
            produce_eos(cdc_chain(binlog_feed(read_segments(self.spark, paths))), broker.port)
            return time.perf_counter() - t0
        finally:
            broker.close()

    def warmup(self) -> None:
        from deltaforge_spark.sinks.kafkawire import ProcessKafkaBroker

        # the whole backlog, twice: a smaller warm-up leaves the first timed
        # passes ~1.7x slower (JIT and Arrow batch sizes follow the data
        # volume), and after one drain the next few still sped up 10-25% each
        for _ in range(2):
            self._drain(self.files, ProcessKafkaBroker(workers=BROKER_WORKERS))

    def run_pass(self):
        from deltaforge_spark.sinks.kafkawire import ProcessKafkaBroker

        broker = ProcessKafkaBroker(workers=BROKER_WORKERS)
        wall = self._drain(self.files, broker)
        got = broker.n_committed_records()
        return wall, self.expected, abs(got - self.expected)

    def measure(self, seconds: float) -> Measured:
        """Three backlog passes, then the open-loop tail for ``seconds``."""
        m = super().measure(0.0)
        tail = self.stream.run(self.spark)
        m.latencies = tail.latencies
        m.attempted += tail.attempted
        m.failed += tail.failed
        m.stream = tail.stream
        return m

    def verify(self):
        """Backlog and released tail files again, as one batch drain to a
        validating broker (the timed runs checked committed counts)."""
        from deltaforge_spark.sinks.kafkawire import LoopbackKafkaBroker

        broker = LoopbackKafkaBroker(validate=True)
        self._drain(self.files + self.stream.released_files(), broker)
        return check_kafka(broker, {**self.capture.changes, **self.stream.model})

    def trace_pass(self) -> dict:
        """Cumulative prefixes: decode → noop, decode + chain → noop, the
        full path to the broker. A layer's time is its prefix minus the
        previous one."""
        from deltaforge_spark.sinks.kafkawire import ProcessKafkaBroker

        t = self.tracer
        broker = ProcessKafkaBroker(workers=BROKER_WORKERS)
        try:
            with t.span("pass"):
                with t.span("sources.binlog") as dec:
                    _noop(binlog_feed(read_segments(self.spark, self.files)))
                with t.span("operators") as chain:
                    _noop(cdc_chain(binlog_feed(read_segments(self.spark, self.files))))
                with t.span("sinks.kafka_eos") as full:
                    produce_eos(
                        cdc_chain(binlog_feed(read_segments(self.spark, self.files))), broker.port
                    )
        finally:
            broker.close()
        ex_dec, ex_chain = dec.attrs["sql"], chain.attrs["sql"]
        py = probes.node_metrics(ex_dec, "MapInPandas", "time to run Python workers")
        d, c, k = _dur(dec), _dur(chain), _dur(full)
        # clamped so run-to-run noise between prefixes never attributes
        # negative time, nor more than the full path's wall in total
        layers = {
            "sources.binlog.decode_s": d,
            "operators.chain_s": max(0.0, c - d),
            "sinks.kafka_eos.produce_s": max(0.0, k - max(c, d)),
        }
        return {
            **layers,
            "sources.binlog.python_ms": probes.node_metric(
                ex_dec, "MapInPandas", "time to run Python workers"),
            "sources.binlog.arrow_bytes": probes.node_metric(
                ex_dec, "MapInPandas", "data sent to Python workers")
            + probes.node_metric(ex_dec, "MapInPandas", "data returned from Python workers"),
            "sources.binlog.task_max_over_median": (
                py[0]["max"] / py[0]["med"] if py and py[0].get("med") else 1.0),
            "operators.codegen_ms": max(
                0.0,
                probes.node_metric(ex_chain, "WholeStageCodegen", "duration")
                - probes.node_metric(ex_dec, "WholeStageCodegen", "duration"),
            ),
            **probes.spark_totals(t, full),
            "trace.pass_s": k,
            "trace.attributed_share": sum(layers.values()) / k,
        }


class OpenLoopTail:
    """Transactions released on a fixed schedule into a directory tailed by
    Spark's file source, whatever the engine's pace (an open loop)."""

    def __init__(self, workdir: str, seed: int, seconds: float):
        self.in_dir = os.path.join(workdir, "stream-in")
        self.ckpt = os.path.join(workdir, "stream-ckpt")
        os.makedirs(self.in_dir, exist_ok=True)
        n_tx = max(1, int(round(STREAM_TX_PER_S * seconds)))
        txs = gen.binlog_transactions(
            random.Random(seed * 7919 + 1), STREAM_SHAPE,
            first_gno=STREAM_FIRST, first_pk=STREAM_FIRST, n_tx=n_tx + STREAM_WARM_BATCHES,
        )
        # the first transactions warm the query, one micro-batch each,
        # before the clock starts
        self.warm_txs, txs = txs[:STREAM_WARM_BATCHES], txs[STREAM_WARM_BATCHES:]
        self.sched = [i / STREAM_TX_PER_S for i in range(n_tx)]
        self.ticks = []  # (release offset s, segment bytes, tx indexes)
        per_tick = int(STREAM_TX_PER_S * STREAM_TICK_S)
        for k in range(-(-n_tx // per_tick)):
            idx = list(range(k * per_tick, min(n_tx, (k + 1) * per_tick)))
            data, _ = gen.encode_binlog_segment([txs[i] for i in idx])
            self.ticks.append(((k + 1) * STREAM_TICK_S, data, idx))
        self.model = gen.binlog_model(self.warm_txs + txs)
        self.expected = _n_passing(gen.binlog_model(txs))
        self.info = {
            "transactions": n_tx, "after_filter": self.expected,
            "tx_per_s": STREAM_TX_PER_S, "tick_s": STREAM_TICK_S, "files": len(self.ticks),
        }

    def released_files(self) -> list[str]:
        return sorted(glob.glob(os.path.join(self.in_dir, "*.binlog")))

    def _release(self, name: str, data: bytes) -> float:
        """Atomic release: Spark's file source skips dot-files, so a segment
        appears under its final name only when complete."""
        tmp = os.path.join(self.in_dir, f".{name}.tmp")
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, os.path.join(self.in_dir, name))
        return time.perf_counter()

    def run(self, spark) -> Measured:
        from deltaforge_spark.sinks.foreach import SinkSpec
        from deltaforge_spark.sinks.kafkawire import ProcessKafkaBroker
        from deltaforge_spark.streaming.pipeline import StreamingPipeline

        broker = ProcessKafkaBroker(workers=BROKER_WORKERS)
        commits: dict[int, float] = {}

        def write_batch(df, batch_id: int) -> None:
            produce_eos(df, broker.port, sink_id="kafka-stream")
            commits[batch_id] = time.perf_counter()  # the EOS commit returned

        pipeline = StreamingPipeline(
            name="perfbench-stream",
            source=lambda s: s.readStream.format("binaryFile")
            .schema(BINARY_FILE_SCHEMA)
            .option("pathGlobFilter", "*.binlog")
            .load(self.in_dir)
            .select(F.col("content").alias("data")),
            transforms=[binlog_feed, cdc_chain],
            sinks=[SinkSpec(name="kafka", write=None, write_batch=write_batch)],
            checkpoint_dir=self.ckpt,
        )
        query = pipeline.start(spark)
        late: list[float] = []
        try:
            warm_expected = 0
            for i, tx in enumerate(self.warm_txs):
                warm_expected += _n_passing(gen.binlog_model([tx]))
                self._release(f"a-warm-{i}.binlog", gen.encode_binlog_segment([tx])[0])
                _wait(lambda: broker.n_committed_records() >= warm_expected, 60, query)
                query.processAllAvailable()
            warm_batches = set(commits)
            t0 = time.perf_counter() + STREAM_TICK_S
            for k, (off, data, _idx) in enumerate(self.ticks):
                delay = t0 + off - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                late.append(max(0.0, self._release(f"s-{k:06d}.binlog", data) - (t0 + off)))
            target = warm_expected + self.expected
            _wait(lambda: broker.n_committed_records() >= target, STREAM_DEADLINE_S, query)
            # the broker counts a commit before write_batch returns; let the
            # last micro-batch finish so its commit time is recorded
            query.processAllAvailable()
            got = broker.n_committed_records() - warm_expected
            progress = [_progress_dict(p) for p in query.recentProgress]
        finally:
            query.stop()
            broker.close()
        batch_of = file_batches(self.ckpt)
        lat: list[tuple[float, int]] = []
        missed = 0
        for k, (_off, _data, idx) in enumerate(self.ticks):
            done = commits.get(batch_of.get(f"s-{k:06d}.binlog", -1))
            for i in idx:
                wait = None if done is None else done - (t0 + self.sched[i])
                if wait is None or wait > STREAM_DEADLINE_S:
                    missed += 1
                else:
                    lat.append((wait, 1))
        batches = [b for b in sorted(commits) if b not in warm_batches]
        m = Measured([], self.expected, lat, len(self.sched), missed + abs(got - self.expected))
        m.stream = {
            "batches": len(batches),
            "rows_per_batch": self.expected / max(1, len(batches)),
            "progress": [p for p in progress if p.get("batchId") in set(batches)],
            "generator_late_ms": [x * 1000 for x in late],
            "committed": got,
            "missed_tx": missed,
            "latency_samples": len(lat),
        }
        return m


def _n_passing(model: dict) -> int:
    return sum(1 for op, b, a in model.values() if gen.passes_filter(op, b, a))


def _progress_dict(p) -> dict:
    return p if isinstance(p, dict) else json.loads(p.json)


def _wait(cond, timeout: float, query) -> None:
    end = time.perf_counter() + timeout
    while time.perf_counter() < end:
        if cond():
            return
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        time.sleep(0.005)


def file_batches(ckpt: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as f:
            for line in f:
                if line.startswith("{"):
                    entry = json.loads(line)
                    out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


class PgLakeBacklog(Workload):
    name = "pg_lake_backlog"
    min_passes = 2

    def generate(self) -> None:
        self.spool_dir = os.path.join(self.workdir, "pgspool")
        self.lake = os.path.join(self.workdir, "lake")
        self.capture = gen.write_pg_backlog(self.spool_dir, self.seed, PG_BACKLOG, PG_SPOOL_FILES)
        self.info = {
            "changes": len(self.capture.changes), "transactions": self.capture.n_tx,
            "messages": self.capture.n_messages, "wire_bytes": self.capture.wire_bytes,
        }

    def records(self) -> int:
        return len(self.capture.changes)

    def _feed(self):
        from deltaforge_spark.sources.pgoutput import pgoutput_change_feed

        spool = self.spark.read.format("pgoutput_spool").option("path", self.spool_dir).load()
        return pgoutput_change_feed(
            spool.select("seq", "data"), gen.pg_image_schema(), pipeline="perfbench"
        )

    def _write(self, feed) -> None:
        from deltaforge_spark.plans.lineage import release_retained
        from deltaforge_spark.sinks.files import write_lake

        try:
            write_lake(feed, self.lake, mode="overwrite")
        finally:
            release_retained(feed)

    def warmup(self) -> None:
        from deltaforge_spark.sources.datasource import register

        # the spool format is the only engine data source a workload reads
        register(self.spark)
        self._write(self._feed())

    def run_pass(self):
        t0 = time.perf_counter()
        self._write(self._feed())
        return time.perf_counter() - t0, 0, 0

    def verify(self):
        return check_lake(self.lake, self.capture.changes)

    def trace_pass(self) -> dict:
        """Prefixes: the feed call (the control plane runs eagerly here),
        the feed to noop, the full path to the lake."""
        from deltaforge_spark.plans.lineage import release_retained

        t = self.tracer
        with t.span("pass"):
            with t.span("sources.pgoutput") as dec:
                with t.span("sources.pgoutput.call") as call:
                    feed = self._feed()
                _noop(feed)
                release_retained(feed)
            with t.span("sinks.files") as full:
                self._write(self._feed())
        d, k = _dur(dec), _dur(full)
        ex_dec = probes.subtree_sql(t, dec)
        ex_full = probes.subtree_sql(t, full)
        dec_counts = probes.spark_totals(t, dec)
        n_files, n_bytes = lake_files(self.lake)
        shuffle_dec = probes.node_metric(ex_dec, "Exchange", "shuffle bytes written")
        return {
            "sources.pgoutput.call_s": _dur(call),
            "sources.pgoutput.decode_s": d,
            "sources.pgoutput.jobs": dec_counts["spark.jobs"],
            "sources.pgoutput.stages": dec_counts["spark.stages"],
            "sources.pgoutput.shuffle_bytes": shuffle_dec,
            "sources.pgoutput.python_ms": probes.node_metric(
                ex_dec, "", "time to run Python workers"),
            "sinks.files.write_s": max(0.0, k - d),
            "sinks.files.files": n_files,
            "sinks.files.bytes_per_record": n_bytes / self.records(),
            "sinks.files.shuffle_bytes": max(
                0.0, probes.node_metric(ex_full, "Exchange", "shuffle bytes written") - shuffle_dec),
            **probes.spark_totals(t, full),
            "trace.pass_s": k,
            "trace.attributed_share": (min(d, k) + max(0.0, k - d)) / k,
        }


def lake_files(lake: str) -> tuple[int, int]:
    files = glob.glob(os.path.join(lake, "**", "*.parquet"), recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def check_lake(lake: str, model: dict) -> tuple[int, int, dict]:
    """Read the lake back and compare every row change with the model:
    op, after image, commit time and the day partition it landed in."""
    import pyarrow.dataset as ds

    table = ds.dataset(lake, format="parquet", partitioning="hive").to_table(
        columns=["op", "after", "before", "source", "transaction", "ts_ms", "year", "month", "day"]
    )
    seen: set = set()
    dup = wrong = 0
    for row in table.to_pylist():
        img = row["after"] or row["before"]
        ident = (row["source"]["table"], int(row["transaction"]["id"]), img["id"])
        if ident in seen:
            dup += 1
            continue
        seen.add(ident)
        if ident not in model:
            wrong += 1
            continue
        op, after_vals, commit_us = model[ident]
        got_after = None
        if row["after"] is not None and op != "d":
            got_after = dict(row["after"])
            got_after["attrs"] = json.loads(got_after["attrs"])
        ts_ms = (commit_us + gen.PG_EPOCH_US) // 1000
        day = time.gmtime(ts_ms // 1000)
        ok = (
            row["op"] == op
            and got_after == gen.pg_after_image(after_vals)
            and row["ts_ms"] == ts_ms
            and (row["year"], row["month"], row["day"]) == (day.tm_year, day.tm_mon, day.tm_mday)
        )
        wrong += 0 if ok else 1
    lost = len(set(model) - seen)
    return len(model), dup + wrong + lost, {
        "expected": len(model), "duplicated": dup, "wrong": wrong, "lost": lost,
        "files": lake_files(lake)[0],
    }


class CorpusDedupFilter(Workload):
    name = "corpus_dedup_filter"
    min_passes = 2

    def generate(self) -> None:
        self.src = os.path.join(self.workdir, "corpus", "docs.parquet")
        self.out = os.path.join(self.workdir, "corpus-out")
        self.corpus = gen.write_corpus(self.src, self.seed, CORPUS)
        self.info = {"docs": self.corpus.n_docs, "planted_dups": len(self.corpus.dup_of)}

    def records(self) -> int:
        return self.corpus.n_docs

    def _run(self, docs, keep: bool = False):
        """Gopher quality gates → minhash + LSH candidate pairs → connected
        components → canonical docs only → stupid-backoff bigram scores →
        parquet. Pins (``plans.lineage``) cut the lineage at the kept docs
        and the candidate pairs, which the iterative stages reread. With
        ``keep``, also returns the candidate pairs and the components."""
        from deltaforge_spark.operators.dedup import (
            connected_components, minhash_lsh_pairs, minhash_signatures,
        )
        from deltaforge_spark.operators.lm import doc_surprisal_backoff
        from deltaforge_spark.operators.quality import gopher_quality_filter
        from deltaforge_spark.plans.lineage import pin, release_pinned, release_retained

        t = self.tracer
        with t.span("operators.quality"):
            q = gopher_quality_filter(docs)
            kept = pin(docs.join(q.filter("keep").select("doc_id"), "doc_id"))
        try:
            with t.span("operators.dedup.minhash"):
                pairs = pin(minhash_lsh_pairs(
                    minhash_signatures(kept, text_col="text", id_col="doc_id", num_hashes=8),
                    num_hashes=8, bands=4,
                ))
            try:
                with t.span("operators.dedup.cc"):
                    cc = connected_components(pairs)
                try:
                    deduped = (
                        kept.join(cc, "doc_id", "left")
                        .filter(F.col("canonical_id").isNull()
                                | (F.col("canonical_id") == F.col("doc_id")))
                        .select("doc_id", "text")
                    )
                    with t.span("operators.lm"):
                        doc_surprisal_backoff(
                            deduped, deduped.filter(F.col("doc_id") % 2 == 0), max_ppl=40.0
                        ).write.mode("overwrite").parquet(self.out)
                    if keep:
                        return (
                            {(r.doc_a, r.doc_b) for r in pairs.collect()},
                            {r.doc_id: r.canonical_id for r in cc.collect()},
                        )
                finally:
                    release_retained(cc)
            finally:
                release_pinned(pairs)
        finally:
            release_pinned(kept)
        return None

    def warmup(self) -> None:
        # the whole corpus, as for the backlogs: after a warm-up on a
        # sample the timed pass still compiled plans for the full-size data
        # and ran 10-40% slower, by how loaded the host was
        self._run(self.spark.read.parquet(self.src))

    def run_pass(self):
        t0 = time.perf_counter()
        self._run(self.spark.read.parquet(self.src))
        return time.perf_counter() - t0, 0, 0

    def verify(self):
        return check_corpus(self.src, self.out)

    def trace_pass(self) -> dict:
        t = self.tracer
        with t.span("pass") as root:
            pairs, comp = self._run(self.spark.read.parquet(self.src), keep=True)
        spans = {sp.name: sp for sp in t.spans[t.spans.index(root):]}
        lm, cc = spans["operators.lm"], spans["operators.dedup.cc"]
        layers = {
            "operators.quality.filter_s": _dur(spans["operators.quality"]),
            "operators.dedup.minhash_s": _dur(spans["operators.dedup.minhash"]),
            "operators.dedup.cc_s": _dur(cc),
            "operators.lm.score_s": _dur(lm),
        }
        # the pass ends where the chain's output is written; the collects
        # for the dedup figures that follow are not part of it
        pass_s = lm.end - root.start
        return {
            **layers,
            "operators.dedup.candidate_pairs": len(pairs),
            **dedup_quality(pairs, comp, self.corpus.dup_of),
            "operators.dedup.cc_rounds": len(cc.attrs["sql"]),
            "operators.lm.shuffle_bytes": probes.node_metric(
                lm.attrs["sql"], "Exchange", "shuffle bytes written"),
            **probes.spark_totals(t, root),
            "trace.pass_s": pass_s,
            "trace.attributed_share": sum(layers.values()) / pass_s,
        }


def dedup_quality(pairs: set, comp: dict, dup_of: dict) -> dict:
    """Planted near-duplicate pairs against LSH candidates and clusters."""
    planted = {(min(d, o), max(d, o)) for d, o in dup_of.items()}
    together = sum(1 for a, b in planted if a in comp and comp.get(a) == comp.get(b))
    return {
        "operators.dedup.pair_precision": len(pairs & planted) / len(pairs) if pairs else 0.0,
        "operators.dedup.planted_recall": together / len(planted) if planted else 0.0,
    }


def check_corpus(src: str, out: str) -> tuple[int, int, dict]:
    """Compare the chain's parquet output with the repo's DuckDB oracles
    composed the same way: Gopher gates → connected components over the
    kept docs → stupid-backoff bigram scores over the deduplicated docs."""
    import duckdb
    import pyarrow.parquet as pq

    import __spark_entry__ as entry
    from deltaforge_spark.operators.lm import doc_surprisal_backoff_oracle_sql

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute(f"CREATE TABLE documents AS SELECT * FROM read_parquet('{src}')")
        con.execute(f"CREATE TABLE gq AS {oracles['doc_quality_gopher']}")
        con.execute("ALTER TABLE documents RENAME TO raw_documents")
        con.execute(
            "CREATE TABLE documents AS SELECT d.* FROM raw_documents d "
            "JOIN gq USING (doc_id) WHERE gq.keep"
        )
        con.execute(f"CREATE TABLE cc AS {oracles['dedup_connected_components']}")
        con.execute(
            "CREATE TABLE deduped AS SELECT d.doc_id, d.text FROM documents d LEFT JOIN cc "
            "USING (doc_id) WHERE cc.canonical_id IS NULL OR cc.canonical_id = d.doc_id"
        )
        sql = doc_surprisal_backoff_oracle_sql(
            table_expr="deduped", lm_filter="doc_id % 2 = 0", max_ppl=40.0
        )
        cols = ["doc_id", "n_bigrams", "avg_surprisal", "ppl", "keep"]
        want = {r[0]: r for r in con.execute(f"SELECT {', '.join(cols)} FROM ({sql})").fetchall()}
    finally:
        con.close()
    got: dict = {}
    dup = wrong = 0
    for r in pq.read_table(out, columns=cols).to_pylist():
        if r["doc_id"] in got:
            dup += 1
            continue
        got[r["doc_id"]] = tuple(r[c] for c in cols)
    for k, g in got.items():
        if k not in want or not _same_scores(g, want[k]):
            wrong += 1
    lost = len(set(want) - set(got))
    return len(want), dup + wrong + lost, {
        "expected": len(want), "duplicated": dup, "wrong": wrong, "lost": lost,
    }


def _same_scores(got: tuple, want: tuple) -> bool:
    """Both engines round the scores (6 decimals, ppl 4); compare floats to
    within that rounding, everything else exactly."""
    for g, w in zip(got, want):
        if isinstance(g, float) or isinstance(w, float):
            if g is None or w is None or abs(float(g) - float(w)) > 1e-6 * max(1.0, abs(float(w))):
                return False
        elif g != w:
            return False
    return True


WORKLOADS = {w.name: w for w in (MysqlKafka, PgLakeBacklog, CorpusDedupFilter)}
