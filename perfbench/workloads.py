"""The benchmark workloads.

Each workload stages its inputs, warms up, then runs a closed loop of
timed calls into the package's public functions; a call starts only
after the previous one returned. Every call's output is checked against
a DuckDB oracle computed once per (workload, seed, input size).

A workload class declares:

- ``headline``: (end-to-end metric, higher is better) — the metric the
  traced run compares with an untraced run for the tracing overhead;
- ``e2e_units`` / ``layer_units``: its end-to-end and per-layer
  metric names with units;

and implements:

- ``stage(rep)``: build the inputs (repeatable; the set-up median);
- ``warm()``: untimed calls;
- ``call(i)``: one timed unit of work → :class:`Call`;
- ``summarize(call)``: the call's output reduced to what the oracle
  pins (right after the call, untimed);
- ``verify(summary)``: that summary against the oracle (after the loop);
- ``end_to_end(calls)`` and ``notes(calls)``;
- ``probes()``: extra layer calls made only in the traced run;
- ``layer_metrics(calls, ledger_rows, probes)``.
"""

from __future__ import annotations

import gzip
import hashlib
import os
import shutil
import time
from dataclasses import dataclass, field
from statistics import median

from pyspark.sql import functions as F

from slog_agent_spark.operators.metrics import process_metrics
from slog_agent_spark.plans import corpus as C
from slog_agent_spark.plans import pipeline as P
from slog_agent_spark.sinks import fluentd_wire as FW
from slog_agent_spark.sources.parser import parse_transcripts
from slog_agent_spark.streaming import stream as S

from . import inputs, oracles

# input sizes per scale: transcript workloads get events × explode turns
SCALES = {
    "full": {
        "batch_fanout": {"events": 50_000, "explode": 2},
        "stream_ingest": {"events": 12_000, "explode": 2, "files": 16, "drains": 2},
        "forward_wire": {"events": 25_000, "explode": 2, "hot_permille": 300},
        "corpus_dedup": {"docs": 5_000, "vecs": 2_000, "events": 100_000, "k": 2},
    },
    "smoke": {
        "batch_fanout": {"events": 1_000, "explode": 2},
        "stream_ingest": {"events": 1_000, "explode": 2, "files": 16, "drains": 2},
        "forward_wire": {"events": 1_000, "explode": 2, "hot_permille": 300},
        "corpus_dedup": {"docs": 500, "vecs": 500, "events": 1_000, "k": 2},
    },
}

# the end-to-end metrics of every transcript workload
TRANSCRIPT_E2E = {
    "turns_per_s": "1/s",
    "call_p50_s": "s",
    "call_tail_s": "s",
    "bytes_per_turn": "B",
}

PARSE_CHAIN_LAYERS = {"parser.parse_s": "s", "transforms.chain_s": "s"}

# per-layer metrics of batch_fanout and stream_ingest; each reports the
# full set, with 0 for a layer the workload does not run
PIPELINE_LAYERS = {
    **PARSE_CHAIN_LAYERS,
    "metrics.route_agg_s": "s",
    "pipeline.fanout_s": "s",
    "pipeline.shuffle_write_bytes": "B",
    "pipeline.shuffle_write_s": "s",
    "pipeline.spill_bytes": "B",
    "pipeline.task_skew": "ratio",
    "pipeline.sink_files": "count",
    "stream.add_batch_s": "s",
    "stream.planning_s": "s",
    "stream.commit_s": "s",
    "stream.jobs_per_batch": "count",
    "stream.files_per_batch": "count",
    "store.fold_s": "s",
    "store.files_before": "count",
    "store.files_after": "count",
    "store.rows_folded": "count",
    "stream.rollup_s": "s",
    "store.scan_s": "s",
}


@dataclass
class Call:
    seconds: float
    units: list[float]  # per-unit latencies: the call, or its micro-batches
    turns: int = 0
    out_bytes: int = 0
    output: object = None
    extra: dict = field(default_factory=dict)


def parquet_bytes(path: str) -> tuple[int, int]:
    """(data bytes, file count) of the parquet files under ``path``."""
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    return total, files


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def percentile_tail(values: list[float]) -> tuple[float, float, int]:
    """The highest of p90, p99, p99.9, ... that has at least ten samples
    beyond it, by nearest rank: (value, percentile, sample count). Below
    100 samples none has, and the maximum is returned as p100."""
    xs = sorted(values)
    n = len(xs)
    if n < 100:
        return xs[-1], 100.0, n
    b = 10  # the percentile is 100 * (1 - 1/b); n // b samples lie beyond it
    while n // (10 * b) >= 10:
        b *= 10
    return xs[n - n // b - 1], 100 * (1 - 1 / b), n


def checksum_agg(df, cols):
    """Force every listed column without a Filter node (bench.py's
    null-sink shape)."""
    return df.agg(*[F.sum(F.crc32(F.col(c).cast("string"))) for c in cols]).collect()


def oracle_key(workload: str, kind: str, seed: int, size: dict, sql: str) -> str:
    """Cache key: workload, oracle kind, seed, the input sizes and the
    oracle's SQL text."""
    text = repr(sorted(size.items())) + sql
    return f"{workload}-{kind}-seed{seed}-{hashlib.sha256(text.encode()).hexdigest()[:16]}"


class _Workload:
    name = ""

    def __init__(self, spark, seed: int, scale: str, work: str, cache, tag):
        self.spark, self.seed, self.work, self.cache, self.tag = (
            spark, seed, work, cache, tag)
        self.size = SCALES[scale][self.name]
        self.corrupt = False

    def notes(self, calls) -> list[str]:
        return []

    def probes(self) -> dict:
        return {}


class _TranscriptWorkload(_Workload):
    """Seeded events → transcript parquet files, checked by metrics."""

    headline = ("turns_per_s", True)
    e2e_units = TRANSCRIPT_E2E
    layer_units = PIPELINE_LAYERS

    def _files(self) -> int:
        return self.size.get("files", 2 * self.spark.sparkContext.defaultParallelism)

    def stage(self, rep: int) -> None:
        ev = inputs.events_table(self.size["events"], self.seed)
        table = oracles.derive_transcripts(
            ev, self.size["explode"], self.size.get("hot_permille", 0))
        self.input_dir = os.path.join(self.work, f"input-{rep}")
        shutil.rmtree(self.input_dir, ignore_errors=True)
        self.files = oracles.write_split(table, self.input_dir, self._files(), self.seed)
        self.turns = table.num_rows

    def transcripts(self):
        return self.spark.read.parquet(self.input_dir)

    def summarize(self, call: Call) -> list:
        """Metrics rows, normalised; ``corrupt`` drops one."""
        cols, rows = call.output
        if self.corrupt:
            rows = rows[1:]
        return [sorted(cols), oracles.json_rows(cols, rows)]

    def verify(self, summary) -> bool:
        glob = os.path.join(self.input_dir, "*.parquet")
        key = oracle_key(self.name, "metrics", self.seed, self.size,
                         oracles.metrics_sql("<input>"))
        want = self.cache.get(key, lambda: oracles.metrics_oracle(glob))
        return summary == [want["columns"], want["rows"]]

    def end_to_end(self, calls) -> dict:
        units = [u for c in calls for u in c.units]
        return {
            "turns_per_s": median([c.turns / c.seconds for c in calls]),
            "call_p50_s": median(units),
            "call_tail_s": percentile_tail(units)[0],
            "bytes_per_turn": median([c.out_bytes / c.turns for c in calls]),
        }

    def notes(self, calls) -> list[str]:
        units = [u for c in calls for u in c.units]
        _, pct, n = percentile_tail(units)
        return [f"call_tail_s is p{pct:.1f} of {n} samples"]

    def layer_parse_chain(self) -> dict:
        """parser.parse_s and transforms.chain_s on this input, each
        forced by a checksum over its output columns (the chain's self
        time is chain_s - parse_s)."""
        self.tag("parser.parse")
        parse_s, _ = timed(lambda: checksum_agg(
            parse_transcripts(self.transcripts()), ["log", "raw_length"]))
        self.tag("transforms.chain")
        chain_s, _ = timed(lambda: checksum_agg(
            P.transform_transcripts(self.transcripts()),
            ["dropped", "log", "tag", "task", "raw_length"]))
        return {"parser.parse_s": parse_s, "transforms.chain_s": chain_s}

    def layer_route_agg(self) -> dict:
        self.tag("metrics.route_agg")
        secs, _ = timed(lambda: process_metrics(
            P.transform_transcripts(self.transcripts())).collect())
        return {"metrics.route_agg_s": secs}


class BatchFanout(_TranscriptWorkload):
    """``run_fanout(transform_transcripts(t))``: parse, chain, salted
    shuffle and sort, partitioned parquet write, metrics read-back."""

    name = "batch_fanout"
    main_layer = "pipeline.fanout"

    def _call(self, sink: str) -> Call:
        secs, rows = timed(lambda: P.run_fanout(
            P.transform_transcripts(self.transcripts()), sink).collect())
        out_bytes, files = parquet_bytes(sink)
        cols = list(rows[0].asDict()) if rows else []
        return Call(secs, [secs], self.turns, out_bytes,
                    output=(cols, [tuple(r) for r in rows]),
                    extra={"sink_files": files})

    def warm(self) -> None:
        # two calls: the first compiles the chain, the second lets the
        # JIT compile its hot loops, so timed calls start nearer steady
        for _ in range(2):
            self._call(os.path.join(self.work, "sink-warm"))

    def call(self, i: int) -> Call:
        self.tag(self.main_layer)
        return self._call(os.path.join(self.work, "sink"))

    def probes(self) -> dict:
        return {**self.layer_parse_chain(), **self.layer_route_agg()}

    def layer_metrics(self, calls, rows, probes) -> dict:
        r = rows.get(f"{self.name}/{self.main_layer}", {})
        n = len(calls)
        return {
            **probes,
            "pipeline.fanout_s": median([c.seconds for c in calls]),
            "pipeline.shuffle_write_bytes": r.get("shuffle_write_bytes", 0) / n,
            "pipeline.shuffle_write_s": r.get("shuffle_write_s", 0) / n,
            "pipeline.spill_bytes": r.get("spill_bytes", 0) / n,
            "pipeline.task_skew": r.get("task_skew", 1.0),
            "pipeline.sink_files": calls[-1].extra["sink_files"],
        }


class StreamIngest(_TranscriptWorkload):
    """A backlog of small transcript files drained by several
    ``availableNow`` runs of ``run_stream_pipeline``, each followed by
    ``compact_events_sink``; then a consumer read:
    ``stream_metrics_total`` and one turn-ordered per-tag scan. A call
    is one such cycle into a fresh sink; its units are the micro-batch
    durations Spark's streaming progress reports."""

    name = "stream_ingest"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from pyspark.sql.streaming import StreamingQueryListener

        progress = self.progress = []

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                progress.append((p.numInputRows, dict(p.durationMs)))

            def onQueryTerminated(self, event):
                pass

        self.spark.streams.addListener(Progress())
        self.folds: list[dict] = []
        self.files_per_batch: list[int] = []
        self.warm_batches = 0

    def _cycle(self, root: str) -> Call:
        shutil.rmtree(root, ignore_errors=True)
        inp, sink, ckpt = (os.path.join(root, d) for d in ("in", "sink", "ckpt"))
        os.makedirs(inp)
        drains = self.size["drains"]
        seen = len(self.progress)
        drained = 0
        drain_s = fold_s = 0.0
        for files in (self.files[i::drains] for i in range(drains)):
            for f in files:
                shutil.copy(f, inp)
            self.tag("stream.drain")
            s, _ = timed(lambda: S.run_stream_pipeline(self.spark, inp, sink, ckpt))
            drain_s += s
            drained += self._rows_in(files)
            self._await_progress(seen, drained)
            self.files_per_batch.append(self._live_batch_files(sink))
            self.tag("store.fold")
            s, report = timed(lambda: S.compact_events_sink(self.spark, sink))
            fold_s += s
            self.folds.append({"seconds": s, **{
                k: sum(r.get(k, 0) for r in report.values())
                for k in ("rows", "files_before", "files_after")}})
        self.tag("stream.rollup")
        rollup_s, rows = timed(lambda: S.stream_metrics_total(self.spark, sink).collect())
        self.tag("store.scan")
        scan_tag = self._busiest_tag(sink)
        scan_s, _ = timed(lambda: self.spark.read.parquet(f"{sink}/events")
                          .where(F.col("tag") == scan_tag)
                          .orderBy("conv_id", "turn_idx")
                          .write.format("noop").mode("overwrite").save())
        batches = [d for n, d in self.progress[seen:] if n > 0]
        out_bytes, _ = parquet_bytes(f"{sink}/events")
        cols = list(rows[0].asDict()) if rows else []
        return Call(drain_s + fold_s + rollup_s + scan_s,
                    [d.get("triggerExecution", 0) / 1000 for d in batches],
                    self.turns, out_bytes,
                    output=(cols, [tuple(r) for r in rows]),
                    extra={"rollup_s": rollup_s, "scan_s": scan_s, "batches": batches})

    @staticmethod
    def _rows_in(files: list[str]) -> int:
        import pyarrow.parquet as pq

        return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

    def _await_progress(self, seen: int, rows: int, timeout: float = 10.0) -> None:
        """The listener bus delivers progress events asynchronously;
        wait until the drained rows are all accounted for."""
        deadline = time.monotonic() + timeout
        while sum(n for n, _ in self.progress[seen:]) < rows:
            if time.monotonic() > deadline:
                raise RuntimeError("streaming progress events missing after drain")
            time.sleep(0.01)

    @staticmethod
    def _live_batch_files(sink: str) -> int:
        """Parquet files in the newest live batch partition."""
        live = [int(d.split("=")[1]) for d in os.listdir(f"{sink}/events")
                if d.startswith("batch_id=")]
        newest = max(b for b in live if b >= 0)
        return parquet_bytes(f"{sink}/events/batch_id={newest}")[1]

    @staticmethod
    def _busiest_tag(sink: str) -> str:
        """The tag whose partitions hold the most bytes."""
        from urllib.parse import unquote

        sizes: dict[str, int] = {}
        for root, _, names in os.walk(f"{sink}/events"):
            leaf = os.path.basename(root)
            if leaf.startswith("tag="):
                t = unquote(leaf[4:])
                sizes[t] = sizes.get(t, 0) + sum(
                    os.path.getsize(os.path.join(root, n)) for n in names)
        return max(sorted(sizes), key=sizes.get)

    def warm(self) -> None:
        self._cycle(os.path.join(self.work, "stream-warm"))
        self.warm_batches = sum(1 for n, _ in self.progress if n > 0)
        self.folds.clear()
        self.files_per_batch.clear()

    def call(self, i: int) -> Call:
        return self._cycle(os.path.join(self.work, f"stream-{i % 2}"))

    def probes(self) -> dict:
        """Parse, chain and route aggregate over one micro-batch's worth
        of input (the streaming source reads 8 files per trigger)."""
        full = self.input_dir
        self.input_dir = os.path.join(self.work, "one-batch")
        shutil.rmtree(self.input_dir, ignore_errors=True)
        os.makedirs(self.input_dir)
        for f in self.files[:8]:
            shutil.copy(f, self.input_dir)
        try:
            return {**self.layer_parse_chain(), **self.layer_route_agg()}
        finally:
            self.input_dir = full

    def layer_metrics(self, calls, rows, probes) -> dict:
        batches = [d for c in calls for d in c.extra["batches"]]

        def med_s(*keys):
            return median([sum(d.get(k, 0) for k in keys) for d in batches]) / 1000

        # micro-batch jobs carry Spark's own "... batch = <id>" description
        stream_jobs = sum(r.get("jobs", 0) for desc, r in rows.items()
                          if "batch = " in desc)
        return {
            **probes,
            "stream.add_batch_s": med_s("addBatch"),
            "stream.planning_s": med_s("queryPlanning"),
            "stream.commit_s": med_s("walCommit", "commitOffsets"),
            "stream.jobs_per_batch": stream_jobs / (self.warm_batches + len(batches)),
            "stream.files_per_batch": median(self.files_per_batch),
            "store.fold_s": median([f["seconds"] for f in self.folds]),
            "store.files_before": median([f["files_before"] for f in self.folds]),
            "store.files_after": median([f["files_after"] for f in self.folds]),
            "store.rows_folded": median([f["rows"] for f in self.folds]),
            "stream.rollup_s": median([c.extra["rollup_s"] for c in calls]),
            "store.scan_s": median([c.extra["scan_s"] for c in calls]),
        }


class ForwardWire(_TranscriptWorkload):
    """``transform_transcripts`` → ``events_for_outputs`` →
    ``fluentd_wire.write_wire_chunks`` (salts=1) on skewed input: one
    hot keyset/tag funnels through one ``applyInPandas`` group."""

    name = "forward_wire"
    main_layer = "fluentd_wire.chunk"
    event_col = f"{oracles.WIRE_OUTPUT}_event"
    layer_units = {
        **PARSE_CHAIN_LAYERS,
        "serializers.serialize_s": "s",
        "fluentd_wire.chunk_s": "s",
        "fluentd_wire.python_sent_bytes": "B",
        "fluentd_wire.python_returned_bytes": "B",
        "fluentd_wire.python_run_s": "s",
        "fluentd_wire.task_skew": "ratio",
        "fluentd_wire.chunks": "count",
    }

    def _call(self, out: str) -> Call:
        secs, _ = timed(lambda: FW.write_wire_chunks(
            P.events_for_outputs(P.transform_transcripts(self.transcripts())),
            out, event_col=self.event_col, salts=1,
            base_nano=1_700_000_000_000_000_000 + self.seed))
        chunks = sorted(
            os.path.join(r, n) for r, _, ns in os.walk(out) for n in ns
            if n.endswith(".chunk"))
        out_bytes = sum(os.path.getsize(p) for p in chunks)
        return Call(secs, [secs], self.turns, out_bytes, output=chunks,
                    extra={"chunks": len(chunks)})

    def warm(self) -> None:
        self._call(os.path.join(self.work, "wire-warm"))

    def call(self, i: int) -> Call:
        self.tag(self.main_layer)
        return self._call(os.path.join(self.work, "wire"))

    def summarize(self, call: Call) -> dict:
        """Per tag: record count and the digest of the decoded event
        stream in chunk order, which pins per-conversation FIFO;
        ``corrupt`` leaves out the first chunk."""
        got: dict[str, list] = {}
        paths = call.output[1:] if self.corrupt else call.output
        for path in paths:
            with open(path, "rb") as f:
                root, _ = FW.unpack(f.read())
            tag, stream, option = root
            st = got.setdefault(tag, [0, hashlib.sha256()])
            st[0] += option["size"]
            st[1].update(gzip.decompress(stream))
        return {t: [n, h.hexdigest()] for t, (n, h) in got.items()}

    def verify(self, summary) -> bool:
        glob = os.path.join(self.input_dir, "*.parquet")
        key = oracle_key(self.name, "wire", self.seed, self.size,
                         oracles.wire_sql("<input>"))
        want = self.cache.get(key, lambda: oracles.wire_oracle(glob))
        return summary == want

    def probes(self) -> dict:
        out = self.layer_parse_chain()
        self.tag("serializers.serialize")
        out["serializers.serialize_s"], _ = timed(lambda: checksum_agg(
            P.events_for_outputs(P.transform_transcripts(self.transcripts())),
            [self.event_col]))
        return out

    def layer_metrics(self, calls, rows, probes) -> dict:
        r = rows.get(f"{self.name}/{self.main_layer}", {})
        n = len(calls)
        return {
            **probes,
            "fluentd_wire.chunk_s": median([c.seconds for c in calls]),
            "fluentd_wire.python_sent_bytes": r.get("python_sent_bytes", 0) / n,
            "fluentd_wire.python_returned_bytes": r.get("python_returned_bytes", 0) / n,
            "fluentd_wire.python_run_s": r.get("python_run_ms", 0) / 1000 / n,
            "fluentd_wire.task_skew": r.get("task_skew", 1.0),
            "fluentd_wire.chunks": calls[-1].extra["chunks"],
        }


CORPUS_QUERIES = {
    "dedup_minhash_lsh": (C.minhash_lsh_query, C.minhash_lsh_oracle),
    "dedup_ngram_jaccard": (C.ngram_jaccard_query, C.ngram_jaccard_oracle),
    "dedup_simhash_neardup": (C.simhash_neardup_query, C.simhash_neardup_oracle),
    "embedding_neardup_trained": (C.emb_neardup_trained_query,
                                  C.emb_neardup_trained_oracle),
    "ann_topk_ivf_trained": (C.ann_ivf_trained_query, C.ann_ivf_trained_oracle),
    "dedup_groups_cc": (C.dedup_groups_query, C.dedup_groups_oracle),
    "corpus_training_cut": (C.corpus_training_cut_query, C.corpus_training_cut_oracle),
    "events_funnel": (C.funnel_query, C.funnel_oracle),
}


class CorpusDedup(_Workload):
    """Eight corpus queries over a K-fold replica of an sf0.1-shaped
    corpus. A call is one pass: per query, the ``plans.corpus`` builder
    (which eagerly materialises the sketch and k-means stages), then the
    ``collect()`` of the final relation."""

    name = "corpus_dedup"
    headline = ("corpus_wall_s", False)
    e2e_units = {"corpus_wall_s": "s"}
    layer_units = {
        f"corpus.{q}.{m}": u for q in CORPUS_QUERIES for m, u in (
            ("stage_s", "s"), ("final_s", "s"), ("python_run_s", "s"),
            ("python_sent_bytes", "B"), ("shuffle_bytes", "B"),
            ("task_skew", "ratio"))
    }

    def stage(self, rep: int) -> None:
        self.dir = os.path.join(self.work, f"corpus-{rep}")
        shutil.rmtree(self.dir, ignore_errors=True)
        inputs.write_corpus_replica(self.dir, seed=self.seed, **self.size)

    def call(self, i: int) -> Call:
        per_query = {}
        for q, (build, _) in CORPUS_QUERIES.items():
            self.tag(f"corpus.{q}")
            stage_s, df = timed(lambda: build(self.spark, self.dir))
            final_s, rows = timed(df.collect)
            per_query[q] = (stage_s, final_s, df.columns, [tuple(r) for r in rows])
        total = sum(s + f for s, f, _, _ in per_query.values())
        return Call(total, [total], output=per_query)

    def warm(self) -> None:
        self.call(-1)

    def summarize(self, call: Call) -> dict:
        out = {}
        for q, (_, _, cols, rows) in call.output.items():
            if self.corrupt and q == "events_funnel":
                rows = rows[1:]
            out[q] = [sorted(cols), oracles.json_rows(cols, rows)]
        return out

    def verify(self, summary) -> bool:
        sql = {q: o() for q, (_, o) in CORPUS_QUERIES.items()}
        key = oracle_key(self.name, "queries", self.seed, self.size, repr(sorted(sql.items())))
        want = self.cache.get(key, lambda: oracles.corpus_oracle(self.dir, sql))
        return summary == want

    def end_to_end(self, calls) -> dict:
        return {"corpus_wall_s": median([c.seconds for c in calls])}

    def layer_metrics(self, calls, rows, probes) -> dict:
        out = {}
        n = len(calls)
        for q in CORPUS_QUERIES:
            r = rows.get(f"{self.name}/corpus.{q}", {})
            out.update({
                f"corpus.{q}.stage_s": median([c.output[q][0] for c in calls]),
                f"corpus.{q}.final_s": median([c.output[q][1] for c in calls]),
                f"corpus.{q}.python_run_s": r.get("python_run_ms", 0) / 1000 / n,
                f"corpus.{q}.python_sent_bytes": r.get("python_sent_bytes", 0) / n,
                f"corpus.{q}.shuffle_bytes": r.get("shuffle_write_bytes", 0) / n,
                f"corpus.{q}.task_skew": r.get("task_skew", 1.0),
            })
        return out


WORKLOADS = {w.name: w for w in (BatchFanout, StreamIngest, ForwardWire, CorpusDedup)}
