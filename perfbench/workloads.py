"""The three workloads. Each is a closed loop with one client: the next op
starts only after the previous one returned.

An op is one cron run (``ingest_cron``, ``stream_stateful``) or one pass
of the query mix (``query_mix``): every query once, in a seeded order,
with its result collected.
The loop only ends between ops.
"""

from __future__ import annotations

import json
import math
import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen

OLAP_KEYS = ("q_agg_groupby", "q_join_multiway", "q_e2e_q9", "q_win_topk_group",
             "q_join_range", "q_win_sessionize", "q_cdc_scd2")
# q_e2e_dedup_cascade and q_e2e_hybrid_search are left out: their cold
# set-up and DuckDB oracle cost more than the run budget allows
CURATION_KEYS = ("q_dedup_minhash", "q_text_tfidf", "q_udf_scalar", "q_sim_cosine_topk")
RECALL_FLOOR = 0.9        # planted-cluster recall q_dedup_minhash must reach
PRECISION_FLOOR = 0.99


class Op:
    """One timed operation: ``items`` is the work it completes (rows or
    queries) and ``keys`` the registered queries it runs."""

    def __init__(self, items: float, run, keys: tuple = ()):
        self.items, self.run, self.keys = items, run, keys


class Workload:
    """``prepare`` makes the inputs (excluded from set-up time), ``warmup``
    runs one untimed op of each kind, ``passes`` yields the timed passes,
    and ``check`` returns the indices of timed ops whose output is wrong."""

    item_name = "items"

    def __init__(self, seed: int, cache: str, run_dir: str, tracer):
        self.seed, self.cache, self.run_dir, self.tracer = seed, cache, run_dir, tracer
        self.notes: dict = {}

    def prepare(self) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> None:
        for op in self.warmup_ops(spark):
            op.run()

    def begin_trace(self, listener) -> None:
        """Called just before the traced loop starts."""
        self.listener = listener

    def layer_metrics(self, spark, ops: list) -> dict[str, float]:
        return {}

    def checked_metrics(self) -> dict[str, float]:
        """Per-layer metrics that ``check`` measures."""
        return {}


# --------------------------------------------------------------------------
# query workloads

class QueryMix(Workload):
    """Op = one pass: every key once, in a seeded order, with its result
    collected to the client; the OLAP keys over a seeded star schema, the
    curation keys over a seeded corpus. Timing the pass, not each query,
    keeps the median from jumping between queries of very different cost.
    Collecting, rather than writing to the noop sink, lets ``check``
    verify the output of every timed op without running the queries
    again."""

    item_name = "queries"
    keys = OLAP_KEYS + CURATION_KEYS

    def prepare(self):
        star, corpus = gen.star(self.cache, self.seed), gen.corpus(self.cache, self.seed)
        self.dirs = {k: star for k in OLAP_KEYS} | {k: corpus for k in CURATION_KEYS}
        self.corpus = corpus

    def _run_key(self, spark, key: str):
        from kafka_hadoop_consumer_spark.queries import QUERIES

        with self.tracer.span(f"queries.{key}.build"):
            df = QUERIES[key](spark, self.dirs[key])
        with self.tracer.span(f"queries.{key}.exec"):
            return df.toPandas()

    def _pass_op(self, spark, order) -> Op:
        """An op that runs ``order`` and keeps each key's result in ``op.out``."""
        op = Op(float(len(order)), None, keys=tuple(order))
        op.out = {}

        def run():
            for k in order:
                op.out[k] = self._run_key(spark, k)
        op.run = run
        return op

    def warmup_ops(self, spark):
        return [self._pass_op(spark, [k]) for k in self.keys]

    def passes(self, spark):
        rng = np.random.default_rng([self.seed, 10])
        while True:
            yield [self._pass_op(spark, [self.keys[i] for i in rng.permutation(len(self.keys))])]

    def check(self, spark, ops: list) -> set[int]:
        """Every result of every timed op: for keys with an oracle, row
        count and order-insensitive values equal DuckDB's over the same
        input directory; q_dedup_minhash also recovers the planted
        near-duplicate pairs."""
        from kafka_hadoop_consumer_spark.queries import ORACLES

        want = {}
        for d in sorted(set(self.dirs.values())):
            con = _duckdb_views(d)
            for k in self.keys:
                if self.dirs[k] == d and k in ORACLES:
                    want[k] = con.execute(ORACLES[k]).df()
            con.close()
        t = pq.read_table(os.path.join(self.corpus, "truth", "planted_pairs.parquet"))
        planted = set(zip(t["doc1"].to_pylist(), t["doc2"].to_pylist()))

        bad = set()
        oracle = self.notes["oracle"] = {}
        dedup = self.notes["dedup"] = {"planted_pairs": len(planted), "recall": 1.0,
                                       "precision": 1.0}
        for i, op in enumerate(ops):
            for k, got in op.out.items():
                ok, why = same_rows(got, want[k]) if k in want else (True, "")
                if k == "q_dedup_minhash":
                    recall, precision = dedup_scores(got, planted)
                    dedup["recall"] = min(dedup["recall"], recall)
                    dedup["precision"] = min(dedup["precision"], precision)
                    ok = ok and recall >= RECALL_FLOOR and precision >= PRECISION_FLOOR
                note = oracle.setdefault(k, {"rows": len(got), "checked": 0, "wrong": 0})
                note["checked"] += 1
                note["wrong"] += not ok
                if why:
                    note["why"] = why
                if not ok:
                    bad.add(i)
        return bad

    def checked_metrics(self):
        """The lowest recall and precision over the timed ops."""
        return {"queries.dedup.recall": self.notes["dedup"]["recall"],
                "queries.dedup.precision": self.notes["dedup"]["precision"]}

    def layer_metrics(self, spark, ops):
        t = self.tracer
        out = {
            "catalog.load_table_s": sum(t.durations("catalog.load_table")),
            "queries.build_s": sum(sum(t.durations(f"queries.{k}.build")) for k in self.keys),
            "queries.exec_s": sum(sum(t.durations(f"queries.{k}.exec")) for k in self.keys),
        }
        for k in self.keys:
            out[f"queries.{k}.build_s"] = _median(t.durations(f"queries.{k}.build"))
            out[f"queries.{k}.exec_s"] = _median(t.durations(f"queries.{k}.exec"))
        return out


# --------------------------------------------------------------------------
# tick workloads

class _Ticks(Workload):
    """Stages one seeded tick per op into a source directory that a file
    stream reads from one checkpoint, so each run drains exactly the new
    tick (the committed-offset resume)."""

    item_name = "rows"

    def prepare(self):
        self.src = os.path.join(self.run_dir, "src")
        self.out = os.path.join(self.run_dir, "out")
        self.ckpt = os.path.join(self.run_dir, "ckpt")
        os.makedirs(self.src)
        self.ticks: list[str] = []
        self._tick_dir(0)         # the warm-up tick
        self._tick_dir(1)         # the first timed tick

    def _tick_dir(self, tick: int) -> str:
        while len(self.ticks) <= tick:
            self.ticks.append(gen.event_tick(self.cache, self.seed, len(self.ticks)))
        return self.ticks[tick]

    def _stage(self, tick: int) -> None:
        files = os.path.join(self._tick_dir(tick), "files")
        for name in sorted(os.listdir(files)):
            os.link(os.path.join(files, name), os.path.join(self.src, name))

    def _spec(self):
        from kafka_hadoop_consumer_spark.streaming.ingest import SourceSpec

        return SourceSpec(kind="file", path=self.src, format="parquet",
                          schema=gen.ENVELOPE_DDL)

    def _meta(self, tick: int) -> dict:
        with open(os.path.join(self.ticks[tick], "truth", "meta.json")) as f:
            return json.load(f)

    def _tick_op(self, spark, tick: int) -> Op:
        raise NotImplementedError

    def warmup_ops(self, spark):
        self._stage(0)
        return [self._tick_op(spark, 0)]

    def passes(self, spark):
        tick = 1
        while True:
            self._tick_dir(tick + 1)          # next input, made outside the op
            self._stage(tick)
            yield [self._tick_op(spark, tick)]
            tick += 1

    def timed_progress(self) -> list[dict]:
        """Progress of the traced ops' micro-batches that read data."""
        return [p for p in self.listener.progress if p["numInputRows"] > 0]

    def staged_ticks(self) -> int:
        return len(os.listdir(self.src)) // gen.PARTITIONS


class IngestCron(_Ticks):
    def prepare(self):
        super().prepare()
        self.committed: dict[int, int] = {}     # tick -> rows run_ingest reported

    def begin_trace(self, listener):
        super().begin_trace(listener)
        self.sink_base = _du(self.out)

    def _tick_op(self, spark, tick):
        from kafka_hadoop_consumer_spark.streaming.ingest import run_ingest

        def run():
            with self.tracer.span("streaming.ingest.run_ingest"):
                r = run_ingest(spark, self._spec(), self.out, self.ckpt,
                               json_schema=gen.EVENT_DDL)
            self.committed[tick] = r["rows"]
        return Op(float(gen.TICK_ROWS), run)

    def check(self, spark, ops):
        """Each run committed exactly its tick; over the whole sink, clean
        plus quarantined rows equal the generated rows, event_id is unique
        and the quarantine holds exactly the planted malformed payloads."""
        from pyspark.sql import functions as F

        n = self.staged_ticks()
        metas = [self._meta(t) for t in range(n)]
        rows = sum(m["rows"] for m in metas)
        malformed = sum(m["malformed"] for m in metas)
        df = spark.read.parquet(self.out)
        r = df.agg(
            F.count(F.lit(1)).alias("total"),
            F.count("_corrupt_payload").alias("quarantined"),
            F.count_distinct(F.when(F.col("_corrupt_payload").isNull(), F.col("event_id")))
             .alias("distinct_clean_ids"),
        ).first()
        clean = r["total"] - r["quarantined"]
        ok = (r["total"] == rows and r["quarantined"] == malformed
              and r["distinct_clean_ids"] == clean == rows - malformed)
        self.notes["sink"] = {"generated": rows, "planted_malformed": malformed,
                              **r.asDict(), "ok": ok}
        # op i of the timed loop ran tick i + 1 (tick 0 is the warm-up)
        bad = {i for i in range(len(ops)) if self.committed.get(i + 1) != gen.TICK_ROWS}
        return set(range(len(ops))) if not ok else bad

    def layer_metrics(self, spark, ops):
        from kafka_hadoop_consumer_spark.streaming.ingest import decode_payload

        t = self.tracer
        prog = self.timed_progress()
        dur = lambda k: _median(p["durationMs"].get(k, 0) for p in prog)  # noqa: E731
        run_s = t.durations("streaming.ingest.run_ingest")
        trig = [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in prog]
        out = {
            "streaming.ingest.run_s": _median(run_s),
            "streaming.ingest.start_stop_s": _median(r - g for r, g in zip(run_s, trig)),
            "streaming.ingest.trigger_ms": dur("triggerExecution"),
            "streaming.ingest.latest_offset_ms": dur("latestOffset"),
            "streaming.ingest.get_batch_ms": dur("getBatch"),
            "streaming.ingest.query_planning_ms": dur("queryPlanning"),
            "streaming.ingest.add_batch_ms": dur("addBatch"),
            "streaming.ingest.wal_commit_ms": dur("walCommit"),
            "streaming.ingest.commit_offsets_ms": dur("commitOffsets"),
            "streaming.ingest.batches": float(len(prog)),
            "streaming.ingest.input_rows": float(sum(p["numInputRows"] for p in prog)),
            "streaming.ingest.output_files": float(_du(self.out)[0] - self.sink_base[0]),
            "streaming.ingest.output_bytes": float(_du(self.out)[1] - self.sink_base[1]),
            "streaming.ingest.quarantined_rows":
                float(spark.read.parquet(self.out).where("_corrupt_payload IS NOT NULL").count()),
        }
        # the decode layer alone, as a batch call over each timed delta
        times = []
        n = self.staged_ticks()
        for tick in range(n - len(ops), n):
            files = os.path.join(self.ticks[tick], "files")
            env = spark.read.schema(gen.ENVELOPE_DDL).parquet(files)
            a = time.perf_counter()
            decode_payload(env, json_schema=gen.EVENT_DDL).write.format("noop") \
                .mode("overwrite").save()
            times.append(time.perf_counter() - a)
        out["streaming.ingest.decode_payload_s"] = _median(times)
        return out


class StreamStateful(_Ticks):
    def _tick_op(self, spark, tick):
        from kafka_hadoop_consumer_spark.streaming.ingest import decode_payload, load_stream
        from kafka_hadoop_consumer_spark.streaming.ops import run_continuous_rollup

        def run():
            stream = load_stream(spark, self._spec())
            events = decode_payload(stream, json_schema=gen.EVENT_DDL)
            # undecodable payloads go to quarantine in ingest_cron; here
            # they are simply not part of the rollup
            events = events.where(events["_corrupt_payload"].isNull())
            with self.tracer.span("streaming.ops.run_continuous_rollup"):
                run_continuous_rollup(events, self.out, self.ckpt)
            if self.tracer.enabled:
                self.snapshot_bytes += _du(self.out)[1]
        return Op(float(gen.TICK_ROWS), run)

    def prepare(self):
        super().prepare()
        self.snapshot_bytes = 0

    def begin_trace(self, listener):
        super().begin_trace(listener)
        self.snapshot_bytes = 0

    def check(self, spark, ops):
        """The final rollup equals the batch group-by of every clean event."""
        import pandas as pd

        n = self.staged_ticks()
        ev = pd.concat([pq.read_table(os.path.join(self.ticks[t], "truth", "events.parquet"))
                        .to_pandas() for t in range(n)])
        ev["bucket"] = pd.to_datetime(ev["ts_us"] - ev["ts_us"] % 3_600_000_000, unit="us")
        want = (ev.groupby(["bucket", "event_type"])
                .agg(n_events=("value", "size"), total_value=("value", "sum"))
                .reset_index())
        want["total_value"] = want["total_value"].round(2)
        got = spark.read.parquet(self.out).toPandas()
        ok, why = same_rows(got, want)
        self.notes["rollup"] = {"buckets": len(got), "ok": ok, **({"why": why} if why else {})}
        return set() if ok else set(range(len(ops)))

    def layer_metrics(self, spark, ops):
        prog = self.timed_progress()
        state = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
        return {
            "streaming.ops.run_s": _median(self.tracer.durations("streaming.ops.run_continuous_rollup")),
            "streaming.ops.add_batch_ms": _median(p["durationMs"].get("addBatch", 0) for p in prog),
            "streaming.ops.state_commit_ms": _median(s.get("commitTimeMs", 0) for s in state),
            "streaming.ops.state_rows_total": float(state[-1]["numRowsTotal"]) if state else 0.0,
            "streaming.ops.state_memory_bytes": float(state[-1]["memoryUsedBytes"]) if state else 0.0,
            "streaming.ops.rows_dropped_by_watermark":
                float(sum(s.get("numRowsDroppedByWatermark", 0) for s in state)),
            "streaming.ops.snapshot_bytes_written": float(self.snapshot_bytes),
        }


WORKLOADS = {
    "ingest_cron": IngestCron,
    "query_mix": QueryMix,
    "stream_stateful": StreamStateful,
}


# --------------------------------------------------------------------------
# helpers

def _median(xs) -> float:
    xs = sorted(xs)
    if not xs:
        return 0.0
    m = len(xs) // 2
    return float(xs[m]) if len(xs) % 2 else (xs[m - 1] + xs[m]) / 2.0


def dedup_scores(pairs, planted: set) -> tuple[float, float]:
    """Recall and precision of q_dedup_minhash's pairs against the planted ones."""
    found = {(int(a), int(b)) for a, b in zip(pairs["doc1"], pairs["doc2"])}
    hit = len(found & planted)
    return hit / len(planted), (hit / len(found) if found else 0.0)


def _du(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping Spark's metadata."""
    files = size = 0
    for root, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def _duckdb_views(data_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    for name in sorted(os.listdir(data_dir)):
        if name.endswith(".parquet"):
            path = os.path.join(data_dir, name).replace("'", "''")
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM read_parquet('{path}')")
    return con


def _columns(df, cols):
    """Each column as a numpy array: numbers as float64 (NULL as NaN),
    timestamps as int64, everything else as strings."""
    import pandas as pd

    out = []
    for c in cols:
        col = df[c]
        if pd.api.types.is_bool_dtype(col) or pd.api.types.is_numeric_dtype(col):
            out.append(pd.to_numeric(col, errors="coerce").astype("float64").to_numpy())
        elif pd.api.types.is_datetime64_any_dtype(col):
            out.append(col.astype("int64").to_numpy())
        else:
            out.append(np.array([None if v is None or (isinstance(v, float) and math.isnan(v))
                                 else str(list(v) if isinstance(v, np.ndarray) else v)
                                 for v in col], dtype=object))
    return out


def same_rows(got, want) -> tuple[bool, str]:
    """Order-insensitive equality of two pandas frames: same row count,
    same column names, and equal rows after sorting both the same way.

    Floats compare within 0.011 absolute or 1e-9 relative: both engines
    round money sums to 2 dp after summing in different orders, so a
    last-ulp difference can flip the final cent."""
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    if cols != sorted(want.columns):
        return False, f"columns {cols} != {sorted(want.columns)}"
    a, b = _columns(got, cols), _columns(want, cols)
    kinds = [x.dtype == np.float64 for x in a]
    if [y.dtype == np.float64 for y in b] != kinds:
        return False, "column types differ"

    def order(arrs):
        # exact columns first; floats rounded so last-ulp noise cannot reorder
        keys = [np.round(x, 4) if f else
                (np.array(["" if v is None else v for v in x]) if x.dtype == object else x)
                for x, f in zip(arrs, kinds)]
        keys = ([k for k, f in zip(keys, kinds) if not f]
                + [k for k, f in zip(keys, kinds) if f])
        return np.lexsort(keys[::-1]) if keys else np.arange(len(got))

    ia, ib = order(a), order(b)
    for c, x, y, f in zip(cols, a, b, kinds):
        x, y = x[ia], y[ib]
        if f:
            ok = np.isclose(x, y, rtol=1e-9, atol=0.011, equal_nan=True)
        else:
            ok = x == y
        if not np.all(ok):
            i = int(np.argmin(ok))
            return False, f"column {c} row {i}: {x[i]!r} != {y[i]!r}"
    return True, ""
