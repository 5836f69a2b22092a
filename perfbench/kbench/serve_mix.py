"""``serve_mix``: many short reads beside a writer and a change feed.

- ``READERS`` reader threads run a closed loop, each cycling through the
  read kinds: a short TPC-H-shaped ``queries.relational`` entry over
  read-only generated tables, or a ``Stream.read_manifest(...).filter(...)``
  id-range or point lookup on a live manifest table.
- One writer runs an open loop, one commit due every ``COMMIT_PERIOD_S``:
  ``Stream.write_manifest`` appends alternate with ``manifest_merge``
  upserts+deletes on the same table.  Write latency counts from each
  commit's due time; how late the generator started a commit is reported.
- One change-feed client drains the writer's commits every
  ``FEED_PERIOD_S`` with ``SStream.from_manifest`` (availableNow); lag
  runs from a commit's acknowledgement to the end of the drain that
  delivered it.

Reads are checked against DuckDB: relational entries against their
oracle, manifest lookups against a replay of the writer's commit log after
some whole commit between the last commit acknowledged before the read
started and the last commit started before it ended (see ``replay``).  The
live table and the feed (inserts minus deletes) are checked against the
replay of every commit.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd

from . import datagen, env
from .core import Ctx, Op, Result, timed_op
from .oracle import RegistryOracle, multiset
from .stats import median, percentile

RELATIONAL = ("q1_pricing_summary", "q6_forecast_revenue")
#: read kinds, served round-robin
KINDS = (*RELATIONAL, "range", "point")
READERS = 2
COMMIT_PERIOD_S = 4.0
FEED_PERIOD_S = 4.0
SF_MILLI, SMOKE_SF_MILLI = 10, 1
BOOT_ROWS = 2000
APPEND_ROWS = 500
MERGE_UPSERTS, MERGE_DELETES = 100, 25
RANGE_WIDTH = 200
STATS_COLS = ["id", "k"]
COLS = ["id", "k", "v", "c"]
SCHEMA = "id long, k long, v double, c long"


class Table:
    """The manifest table's directories plus the writer's commit log and
    its in-memory model (live ids), shared by the threads."""

    def __init__(self, root: str, seed: int) -> None:
        self.data, self.man = f"{root}/data", f"{root}/manifest"
        self.seed = seed
        self.log: list[tuple[str, pd.DataFrame]] = []
        self.live: set[int] = set()
        self.next_id = 0
        self.started = 0  # commits begun
        self.acked = 0  # commits acknowledged
        self.ack_time: dict[int, float] = {}
        self.ops: list[Op] = []
        self.lock = threading.Lock()

    def payload(self, kind: str) -> pd.DataFrame:
        c = len(self.log)
        rng = np.random.default_rng([self.seed, c])
        if kind == "append":
            n = BOOT_ROWS if c == 0 else APPEND_ROWS
            ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
            dead = np.zeros(n, dtype=bool)
        else:
            pick = rng.choice(np.array(sorted(self.live), dtype=np.int64), MERGE_UPSERTS + MERGE_DELETES, replace=False)
            ids, dead = pick, np.arange(len(pick)) >= MERGE_UPSERTS
        pdf = pd.DataFrame(
            {
                "id": ids,
                "k": rng.integers(0, 10_000, len(ids)).astype(np.int64),
                "v": np.round(rng.uniform(0, 1000, len(ids)), 2),
                "c": np.full(len(ids), c, dtype=np.int64),
            }
        )
        if kind == "merge":
            pdf["dead"] = dead
        return pdf

    def commit(self, spark, kind: str, tracer) -> Op:
        from kioss_spark.operators.skew import manifest_merge
        from kioss_spark.stream import Stream

        with self.lock:
            pdf = self.payload(kind)
            c = len(self.log)
            self.started += 1
        op = Op(kind, info={"c": c})
        with tracer.span("manifest.commit", kind=kind), timed_op(op):
            if kind == "append":
                df = spark.createDataFrame(pdf, schema=SCHEMA)
                Stream.from_df(df, seq="id").write_manifest(self.data, self.man, STATS_COLS, batch_id=c)
            else:
                df = spark.createDataFrame(pdf, schema=SCHEMA + ", dead boolean")
                manifest_merge(
                    spark, self.data, self.man, df, key="id", batch_id=c, cols=STATS_COLS, tombstone="dead"
                ).collect()
        with self.lock:
            self.ops.append(op)
            self.log.append((kind, pdf))
            if op.error is None:
                self.acked += 1
                self.ack_time[c] = op.end
            if kind == "append":
                self.live.update(pdf["id"].tolist())
                self.next_id += len(pdf)
            else:
                self.live.difference_update(pdf["id"].tolist())
                self.live.update(pdf.loc[~pdf["dead"], "id"].tolist())
        return op


def _manifest_read(spark, table: Table, kind: str, lo: int, hi: int, span) -> list:
    from pyspark.sql import functions as F

    from kioss_spark.stream import Stream

    with span("manifest.open"):
        s = Stream.read_manifest(spark, table.man)
    pred = F.col("id").between(lo, hi) if kind == "range" else F.col("id") == lo
    with span("plans.prune"):
        s = s.filter(pred)
    with span("manifest.scan"):
        return [tuple(r) for r in s.to_df(ordered=False).select(*COLS).collect()]


class Inputs:
    """Read-only inputs of the reads: the TPC-H tables and the registry."""

    def __init__(self, tpch: str, reg: dict) -> None:
        self.tpch, self.reg = tpch, reg


def _read(spark, table: Table, inputs: Inputs, kind: str, rng, span) -> Op:
    with table.lock:
        top = max(table.next_id, 1)
        before = table.acked
    op = Op(kind)
    with span("serve.read", kind=kind) as sp, timed_op(op):
        if kind in RELATIONAL:
            with span("queries.build", entry=kind):
                df = inputs.reg[kind].fn(spark, inputs.tpch)
            with span("queries.exec", entry=kind):
                op.out = (df.columns, [tuple(r) for r in df.collect()])
            rows_out = len(op.out[1])
        else:
            lo = int(rng.integers(0, top))
            op.info.update(lo=lo, hi=lo + RANGE_WIDTH if kind == "range" else lo)
            op.out = _manifest_read(spark, table, kind, lo, op.info["hi"], span)
            rows_out = len(op.out)
        if sp is not None:
            sp.attrs["rows_out"] = rows_out
    with table.lock:
        op.info.update(state_lo=before, state_hi=table.started)
    return op


class Feed:
    """availableNow drains of ``SStream.from_manifest`` into driver memory."""

    def __init__(self, spark, table: Table, checkpoint: str, tracer) -> None:
        self.spark, self.table, self.checkpoint, self.tracer = spark, table, checkpoint, tracer
        self.rows: list[tuple] = []
        self.seen: set[int] = set()
        self.lags: list[float] = []
        self.input_rows = 0
        self.busy_s = 0.0
        #: lag is measured for commits acknowledged after this instant
        self.since = float("inf")
        #: table versions the last drain may have ended at (see ``_read``)
        self.state = (0, 0)

    def drain(self) -> Op:
        from kioss_spark.streaming.dialect import SStream

        got: list[tuple] = []

        def batch(df, _batch_id) -> None:
            got.extend(tuple(r) for r in df.select(*COLS, "change").collect())

        with self.table.lock:
            lo = self.table.acked
        op = Op("drain")
        with self.tracer.span("streaming.drain") as sp, timed_op(op):
            q = (
                SStream.from_manifest(self.spark, self.table.man, emit_deletes=True)
                ._df.writeStream.foreachBatch(batch)
                .option("checkpointLocation", self.checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            if sp is not None:
                sp.extra_groups.append(str(q.runId))
            if not q.awaitTermination(120):
                q.stop()
                raise TimeoutError("change-feed drain did not finish in 120 s")
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            for p in q.recentProgress:
                self.input_rows += int(p.numInputRows)
                self.busy_s += p.durationMs.get("triggerExecution", 0) / 1000.0
        self.rows.extend(got)
        with self.table.lock:
            self.state = (lo, self.table.started)
            for c in sorted({r[3] for r in got if r[4] == "insert"} - self.seen):
                self.seen.add(c)
                if self.table.ack_time.get(c, -1.0) >= self.since:
                    self.lags.append(op.end - self.table.ack_time[c])
        return op


def run(ctx: Ctx) -> Result:
    tpch = datagen.tpch(ctx.seed, SMOKE_SF_MILLI if ctx.smoke else SF_MILLI)
    tracer, span = ctx.tracer, ctx.tracer.span

    def bootstrap(spark) -> Table:
        table = Table(ctx.run.path("table"), ctx.seed)
        table.commit(spark, "append", tracer)
        return table

    table = ctx.session.setup(bootstrap)
    spark = ctx.session.spark
    from kioss_spark.queries import load_all

    inputs = Inputs(tpch, load_all())
    feed = Feed(spark, table, ctx.run.path("feed-checkpoint"), tracer)
    # warm-up, outside every metric: each read kind once, one drain, one
    # merge (the bootstrap only appended), so no path compiles in the window
    tw = time.perf_counter()
    with ThreadPoolExecutor(READERS + 1) as pool:
        drain0 = pool.submit(feed.drain)
        warm = list(
            pool.map(
                lambda ik: _read(spark, table, inputs, ik[1], np.random.default_rng([ctx.seed, 99, ik[0]]), span),
                enumerate(KINDS),
            )
        )
        drain0.result()
    table.commit(spark, "merge", tracer)
    extra = list(table.ops) + warm + [drain0.result()]
    warmup_s = time.perf_counter() - tw

    reads: list[Op] = []
    commits: list[Op] = []
    lateness: list[float] = []
    lock = threading.Lock()
    t0, cpu0 = time.perf_counter(), env.tree_cpu_s()
    t_end = t0 + ctx.seconds
    feed.since = t0
    stop_feed = threading.Event()
    errors: list[BaseException] = []

    def guarded(fn):
        def body(*a):
            try:
                fn(*a)
            except BaseException as e:  # noqa: BLE001 - re-raised on the main thread
                errors.append(e)

        return body

    def reader(rid: int) -> None:
        # round-robin over the kinds, readers offset: every kind gets the
        # same share of reads whatever the timing
        rng = np.random.default_rng([ctx.seed, rid])
        for i in itertools.count(rid * len(KINDS) // READERS):
            if time.perf_counter() >= t_end:
                break
            kind = KINDS[i % len(KINDS)]
            op = _read(spark, table, inputs, kind, rng, span)
            with lock:
                reads.append(op)

    def writer() -> None:
        j = 1
        while (due := t0 + j * COMMIT_PERIOD_S) < t_end:
            time.sleep(max(0.0, due - time.perf_counter()))
            lateness.append(time.perf_counter() - due)
            op = table.commit(spark, "append" if j % 2 else "merge", tracer)
            op.info["due"] = due
            commits.append(op)
            j += 1

    def feeder() -> None:
        while not stop_feed.wait(FEED_PERIOD_S):
            extra.append(feed.drain())

    threads = [threading.Thread(target=guarded(reader), args=(r,), name=f"reader-{r}") for r in range(READERS)]
    threads += [threading.Thread(target=guarded(writer), name="writer")]
    feed_thread = threading.Thread(target=guarded(feeder), name="feed")
    for t in threads + [feed_thread]:
        t.start()
    for t in threads:
        t.join()
    window = time.perf_counter() - t0
    cpu_s = env.tree_cpu_s() - cpu0
    stop_feed.set()
    feed_thread.join()
    if errors:
        raise errors[0]
    tp = time.perf_counter()

    from kioss_spark.stream import Stream

    final = Op("final_table")
    with timed_op(final):
        final.out = [tuple(r) for r in Stream.read_manifest(spark, table.man).to_df(ordered=False).select(*COLS).collect()]
    feed_op = Op("change_feed")
    extra += commits + [final, feed_op]
    write_lat = [op.end - op.info["due"] for op in commits if op.error is None]
    detail = _detail(reads, window, write_lat, lateness, feed, commits)
    detail["warmup_s"] = (warmup_s, "s")
    detail["post_window_s"] = (time.perf_counter() - tp, "s")
    return Result(
        ops=reads,
        window_s=window,
        t0=t0,
        extra_ops=extra,
        detail=detail,
        layer={"feed_rows_per_s": feed.input_rows / feed.busy_s if feed.busy_s else 0.0},
        cpu_s=cpu_s,
        check=lambda: _check(inputs, table, reads + warm, final, feed, feed_op, detail),
    )


TORN = "torn read: matches only the table between the two commits of a manifest_merge (keys deleted, upserts not yet visible)"


def replay(log: list, lookups: list, feed_rows: list, feed_state: tuple) -> tuple[Counter, str | None]:
    """Replay the writer's commit ``log`` in DuckDB and check each lookup op
    and the change feed (inserts minus deletes) against it.

    One is correct when it equals the table after some whole commit ``s``
    it could have seen, ``state_lo <= s <= state_hi``.  ``manifest_merge``
    commits its deletes and its upserted rows as two snapshots; one that
    equals only the table between those two is a torn read and fails like
    any other wrong output (error ``TORN``).  Marks the failing lookups and
    returns the table after every commit and the feed's error, if any."""
    import duckdb

    feed_ms = multiset([r[:4] for r in feed_rows if r[4] == "insert"], COLS)
    feed_ms.subtract(multiset([r[:4] for r in feed_rows if r[4] == "delete"], COLS))
    subjects = {
        i: (op.info["state_lo"], op.info["state_hi"], multiset(op.out, COLS), (op.info["lo"], op.info["hi"]))
        for i, op in enumerate(lookups)
    }
    # a feed that deleted rows it never inserted matches no version
    subjects["feed"] = (*feed_state, +feed_ms if not -feed_ms else None, None)
    ok, torn = set(), set()
    con = duckdb.connect()
    con.execute(f"CREATE TABLE m ({SCHEMA.replace('long', 'BIGINT')})")

    def table(ids) -> Counter:
        if ids is None:
            return multiset(con.execute("SELECT id, k, v, c FROM m").fetchall(), COLS)
        return multiset(con.execute("SELECT id, k, v, c FROM m WHERE id BETWEEN ? AND ?", list(ids)).fetchall(), COLS)

    def match(s: int, whole: bool) -> None:
        for key, (lo, hi, got, ids) in subjects.items():
            visible = lo <= s <= hi if whole else lo < s <= hi
            if key not in ok and visible and got == table(ids):
                (ok if whole else torn).add(key)

    try:
        for s in range(len(log) + 1):
            if s:
                kind, pdf = log[s - 1]
                con.register("p", pdf)
                if kind == "merge":
                    con.execute("DELETE FROM m WHERE id IN (SELECT id FROM p)")
                    match(s, whole=False)
                    con.execute("INSERT INTO m SELECT id, k, v, c FROM p WHERE NOT dead")
                else:
                    con.execute("INSERT INTO m SELECT id, k, v, c FROM p")
                con.unregister("p")
            match(s, whole=True)
        live = table(None)
    finally:
        con.close()
    for i, op in enumerate(lookups):
        if i not in ok:
            op.correct, op.error = False, TORN if i in torn else "lookup matches no table version current during the read"
    if "feed" in ok:
        return live, None
    if "feed" in torn:
        return live, TORN
    return live, "change feed (inserts minus deletes) matches no table version current during its last drain"


def _check(inputs: Inputs, table: Table, reads: list, final: Op, feed: Feed, feed_op: Op, detail: dict) -> None:
    oracle = RegistryOracle(inputs.tpch)
    try:
        for op in reads:
            if op.error is None and op.kind in RELATIONAL:
                reason = oracle.check(op.kind, *op.out)
                if reason is not None:
                    op.correct, op.error = False, reason
    finally:
        oracle.close()
    lookups = [op for op in reads if op.error is None and op.kind in ("range", "point")]
    live, feed_error = replay(table.log, lookups, feed.rows, feed.state)
    if final.error is None and multiset(final.out, COLS) != live:
        final.correct, final.error = False, "live table differs from the replay of the commit log"
    final.out = None
    if feed_error is not None:
        feed_op.correct, feed_op.error = False, feed_error
    detail["torn_reads"] = (sum(1 for op in lookups + [feed_op] if op.error == TORN), "count")
    for op in reads:
        op.out = None


def _detail(reads, window, write_lat, lateness, feed: Feed, commits) -> dict:
    lat = [op.seconds for op in reads]
    d = {"read_qps": (len(reads) / window, "ops/s")}
    p50, n = percentile(lat, 50)
    d["read_p50_s"], d["read_p90_s"], d["read_samples"] = (p50, "s"), (percentile(lat, 90)[0], "s"), (n, "count")
    if write_lat:
        d["write_p50_s"] = (percentile(write_lat, 50)[0], "s")
        d["write_p90_s"] = (percentile(write_lat, 90)[0], "s")
    d["write_samples"] = (len(write_lat), "count")
    d["writer_lateness_max_s"] = (max(lateness, default=0.0), "s")
    if feed.lags:
        d["feed_lag_s"] = (median(feed.lags), "s")
    d["feed_lag_samples"] = (len(feed.lags), "count")
    d["commits"] = (len(commits), "count")
    return d
