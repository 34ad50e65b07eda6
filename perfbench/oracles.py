"""Input staging and DuckDB oracles.

The transcript table is derived with the package's own derivation SQL
(``sources.transcripts.transcripts_select_sql``, DuckDB dialect; the
Spark dialect is pinned row-identical to it by the oracle gate) and
written as parquet. Spark reads those files; the oracles read the same
files through ``plans.pipeline.transformed_oracle_cte`` with its
transcript CTE pointed at them, so program and oracle see one input.

Oracle results are cached as JSON under the work directory, keyed by
workload, seed, input sizes and the oracle's SQL text, so a second run
with the same seed skips the DuckDB pass, and a change to the package's
compiler, which changes that text, does not reuse a stale result.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from slog_agent_spark.functions.dialect import DUCKDB
from slog_agent_spark.plans import pipeline as P
from slog_agent_spark.plans.config import DEFAULT_CONFIG
from slog_agent_spark.sinks.fluentd_wire import encode_event_from_json
from slog_agent_spark.sinks.serializers import fluentd_event
from slog_agent_spark.sources.transcripts import (
    TRANSCRIPT_COLUMNS,
    _Dialect,
    transcripts_oracle_cte,
    transcripts_select_sql,
)

from .host import WORK

WIRE_OUTPUT = "customFluentd"


def _connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{os.path.join(WORK, 'duckdb-tmp')}'")
    con.execute("SET threads=2")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET TimeZone='UTC'")
    return con


def derive_transcripts(events: pa.Table, explode: int, hot_permille: int) -> pa.Table:
    """events → transcript table, through the package's derivation SQL."""
    con = _connect()
    try:
        con.register("events", events)
        sql = transcripts_select_sql(_Dialect("duckdb"), "events", explode, hot_permille)
        cols = ", ".join(c for c in TRANSCRIPT_COLUMNS if c != "ts")
        # TIMESTAMPTZ → parquet isAdjustedToUTC, which Spark reads as
        # TIMESTAMP (the streaming source's declared type)
        return con.execute(
            f"SELECT {cols}, CAST(ts AS TIMESTAMPTZ) AS ts FROM ({sql})"
        ).fetch_arrow_table()
    finally:
        con.close()


def write_split(table: pa.Table, out_dir: str, files: int, seed: int) -> list[str]:
    """Write ``table`` as ``files`` equal parquet files; the seed decides
    which rows land in which file."""
    os.makedirs(out_dir, exist_ok=True)
    order = np.random.default_rng([seed, 3]).permutation(table.num_rows)
    paths = []
    for i, part in enumerate(np.array_split(order, files)):
        path = os.path.join(out_dir, f"part-{i:05d}.parquet")
        pq.write_table(table.take(np.sort(part)), path)
        paths.append(path)
    return paths


def _transformed_cte(glob: str) -> str:
    """``transformed_oracle_cte`` over staged transcript files."""
    cte = P.transformed_oracle_cte()
    head = f"WITH transcripts AS ({transcripts_oracle_cte()}), "
    if not cte.startswith(head):
        raise RuntimeError("transformed_oracle_cte no longer starts with its transcripts CTE")
    cols = ", ".join(TRANSCRIPT_COLUMNS)
    return (
        f"WITH transcripts AS (SELECT {cols} FROM read_parquet('{glob}')), "
        + cte[len(head):]
    )


def metrics_sql(glob: str) -> str:
    tail = P.metrics_oracle_sql()[len(P.transformed_oracle_cte()):]
    return _transformed_cte(glob) + tail


def _norm(v):
    return round(v, 9) if isinstance(v, float) else v


def json_rows(columns: list[str], rows) -> list[list]:
    """Order-insensitive, column-order-insensitive row set as it reads
    back from JSON (the cache's form); floats to 9 digits, as the
    repository's oracle gate compares them."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[_norm(r[i]) for i in order] for r in rows]
    out = json.loads(json.dumps(out, default=str))
    return sorted(out, key=json.dumps)


def metrics_oracle(glob: str) -> dict:
    """Per-keyset process counters: the DuckDB twin of
    ``operators.metrics.process_metrics`` over the transformed input."""
    con = _connect()
    try:
        cur = con.execute(metrics_sql(glob))
        cols = [d[0] for d in cur.description]
        rows = json_rows(cols, cur.fetchall())
    finally:
        con.close()
    return {"columns": sorted(cols), "rows": rows}


def wire_sql(glob: str) -> str:
    ocfg = DEFAULT_CONFIG.outputs[WIRE_OUTPUT]
    ev = fluentd_event(DUCKDB, ocfg, "tag", DEFAULT_CONFIG.schema_fields)
    return (_transformed_cte(glob)
            + f" SELECT tag, {ev} AS e FROM transformed WHERE NOT dropped"
            " ORDER BY tag, conv_id, turn_idx")


def wire_oracle(glob: str) -> dict:
    """Per tag: record count and SHA-256 of the uncompressed msgpack
    event stream in (conv_id, turn_idx) order — what the chunk files of
    a one-salt wire write must decode to, byte for byte."""
    con = _connect()
    try:
        cur = con.execute(wire_sql(glob))
        tags: dict[str, list] = {}
        while batch := cur.fetchmany(10000):
            for tag, e in batch:
                st = tags.setdefault(tag, [0, hashlib.sha256()])
                st[0] += 1
                st[1].update(encode_event_from_json(e))
    finally:
        con.close()
    return {t: [n, h.hexdigest()] for t, (n, h) in tags.items()}


def corpus_oracle(corpus_dir: str, queries: dict[str, str]) -> dict:
    """{query: [sorted columns, rows]} from each query's DuckDB twin over
    the replica tables."""
    con = _connect()
    try:
        for t in ("documents", "embeddings", "events"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
        out = {}
        for q, sql in queries.items():
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out[q] = [sorted(cols), json_rows(cols, cur.fetchall())]
    finally:
        con.close()
    return out


class OracleCache:
    """JSON results by key under ``root``."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def get(self, key: str, compute):
        path = os.path.join(self.root, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        value = compute()
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(value, f)
        os.replace(tmp, path)
        return value
