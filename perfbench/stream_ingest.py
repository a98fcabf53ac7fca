"""`stream-ingest`: an open loop of small event files into Structured Streaming.

The benchmark writes slices of the generated `events` table into a
watched directory on a fixed schedule (10 files/s; 2,000 events/s at
sf0.1, in proportion at other scales), whatever the stream is doing.
`streaming.events.read_event_stream` feeds `windowed_event_weights`, which
appends closed windows to a parquet file sink; aggregation state is kept
across micro-batches. Lag runs from a file's scheduled write time to the
commit of the micro-batch that read it (the checkpoint's source log maps
files to batches), so a read-side gain that costs freshness shows here.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np
import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import datagen
import reference
from common import SETUP_REPEATS, Context, Result, median, peak_rss_mb, percentile, timed
from graph_database_spark.streaming.events import (
    read_event_stream, windowed_event_weights,
)

DEFAULT_SF = 0.1
FILE_EVERY_S = 0.1
EVENTS_PER_S_PER_SF = 20_000  # 2,000 events/s offered at sf0.1
MIN_FILES = 100  # so the lag p90 has ten samples beyond it
START_TIMEOUT_S = 120
GLOB = "events-*.parquet"


def place_inputs(ctx: Context):
    """Generate the events (untimed), cut them into the files the
    generator will write, and place the first one so the stream can read
    its schema."""
    events = datagen.generate_tables(ctx.sf, ctx.seed)["events"]
    root = os.path.join(ctx.work, "stream")
    os.makedirs(os.path.join(root, "in"))
    per_file = max(1, round(EVENTS_PER_S_PER_SF * ctx.sf * FILE_EVERY_S))
    files = [events.slice(k, per_file) for k in range(0, events.num_rows, per_file)]
    pq.write_table(files[0], os.path.join(root, "in", "events-000000.parquet"))
    return root, files


def define_query(spark, src: str):
    """The timed set-up: the streaming scan (its batch probe of the placed
    file's schema) and the windowed aggregation over it."""
    return windowed_event_weights(read_event_stream(spark, src, glob=GLOB))


def run(ctx: Context) -> Result:
    root, files = place_inputs(ctx)
    src, sink, ckpt = (os.path.join(root, d) for d in ("in", "out", "ckpt"))
    setups = [timed(define_query, ctx.spark, src) for _ in range(SETUP_REPEATS)]
    stream = setups[-1][0]
    spark, tracer = ctx.spark, ctx.tracer
    if tracer.enabled:
        spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")

    watcher = CommitWatcher(ckpt)
    committed = watcher.times
    query = None
    try:
        t0 = time.time()
        query = (stream.writeStream.format("parquet").outputMode("append")
                 .option("checkpointLocation", ckpt).start(sink))
        while 0 not in committed:
            if query.exception() is not None or time.time() > t0 + START_TIMEOUT_S:
                raise RuntimeError(f"stream did not commit its first batch: {query.exception()}")
            time.sleep(0.01)
        ready_s = committed[0] - t0

        schedule = _generate(src, files[1:], max(ctx.seconds, MIN_FILES * FILE_EVERY_S))
        loop_start = schedule[0]["due"] if schedule else time.time()
        query.processAllAvailable()
        loop_s = time.time() - loop_start
        progress = list(query.recentProgress)
        run_id = str(query.runId)
    finally:
        if query is not None:
            query.stop()
        watcher.close()
    rss = peak_rss_mb()

    lags, missing = _lags(ckpt, schedule, committed)
    n_written = sum(len(files[k]) for k in range(len(schedule) + 1))
    checked, wrong = _check(sink, files[:len(schedule) + 1], progress)
    late = [(s["written"] - s["due"]) * 1000 for s in schedule]
    e2e = {
        "setup_s": median([s for _, s in setups]),
        "ready_s": ready_s,
        # None (no number, so a failed run) when files went unread
        "op_ms": median(lags) if lags else None,
        "tail_ms": percentile(lags, 0.9),
    }
    report = {
        "peak_rss_mb": rss,
        "ingest_lag_p50_ms": e2e["op_ms"],
        "ingest_lag_p90_ms": e2e["tail_ms"],
        "failed_share": (missing + wrong) / (len(schedule) + checked),
        "samples": {"files": len(schedule), "events": n_written, "windows_checked": checked},
        "generator_late_p50_ms": median(late),
        "generator_late_max_ms": max(late),
    }
    layers, ops = {}, []
    if tracer.enabled:
        batches = [p for p in progress if p["batchId"] > 0]
        ops = ["stream"]
        tracer.finish_op("stream", groups=[run_id])
        data = [p for p in batches if p["numInputRows"] > 0]
        layers = {
            "streaming.batches": float(len(batches)),
            "streaming.batch_p50_ms": median([p["durationMs"]["triggerExecution"] for p in data]),
            "streaming.add_batch_ms": median([p["durationMs"].get("addBatch", 0) for p in data]),
            "streaming.rows_per_batch": sum(p["numInputRows"] for p in data) / len(data),
            "streaming.state_rows": float(max(
                (op["numRowsTotal"] for p in batches for op in p["stateOperators"]), default=0)),
            "streaming.empty_batch_share": 1 - len(data) / len(batches),
            **tracer.session_metrics(ops, n=len(batches)),
        }
    return Result(e2e, layers, attempted=len(schedule) + checked,
                  failed=missing + wrong, report=report, ops=ops, loop_s=loop_s)


def _generate(src: str, files, seconds: float) -> list[dict]:
    """Open loop: file k is due at start + k·FILE_EVERY_S and is written
    then (atomically, by rename), however far the stream has got; the
    stream runs in the JVM meanwhile."""
    schedule = []
    start = time.time()
    for k, table in enumerate(files):
        due = start + k * FILE_EVERY_S
        if due >= start + seconds:
            break
        time.sleep(max(0.0, due - time.time()))
        name = f"events-{k + 1:06d}.parquet"
        tmp = os.path.join(src, "." + name)
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(src, name))
        schedule.append({"name": name, "due": due, "written": time.time()})
    return schedule


class CommitWatcher:
    """Polls the checkpoint's commit log from a thread, recording each
    batch's commit time before the query's log retention deletes it."""

    def __init__(self, ckpt: str):
        self.dir = os.path.join(ckpt, "commits")
        self.times: dict[int, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, name="commit-watcher")
        self._thread.start()

    def _poll(self):
        while True:
            done = self._stop.is_set()
            for entry in os.listdir(self.dir) if os.path.isdir(self.dir) else []:
                if entry.isdigit() and int(entry) not in self.times:
                    try:
                        self.times[int(entry)] = os.path.getmtime(os.path.join(self.dir, entry))
                    except FileNotFoundError:
                        pass
            if done:
                return
            time.sleep(0.02)

    def close(self):
        self._stop.set()
        self._thread.join()


def _lags(ckpt: str, schedule: list[dict], committed: dict[int, float]) -> tuple[list[float], int]:
    """Lag per generated file, from the checkpoint's source log (file →
    batch, compacted files included) and the commit times; plus the number
    of files no committed batch read."""
    batch_of = {}
    log_dir = os.path.join(ckpt, "sources", "0")
    for entry in os.listdir(log_dir):
        if entry.startswith("."):
            continue
        with open(os.path.join(log_dir, entry)) as fh:
            for line in fh.read().splitlines()[1:]:
                rec = json.loads(line)
                batch_of[os.path.basename(rec["path"])] = rec["batchId"]
    lags, missing = [], 0
    for s in schedule:
        commit = committed.get(batch_of.get(s["name"], -1))
        if commit is None:
            missing += 1
        else:
            lags.append((commit - s["due"]) * 1000)
    return lags, missing


def _check(sink: str, files, progress: list[dict]) -> tuple[int, int]:
    """Every window the sink holds, and every window the final watermark
    has closed, against a pandas aggregation of the events written."""
    events = pd.concat([t.to_pandas() for t in files])
    events["w"] = events["event_type"].map(reference.EVENT_WEIGHTS).fillna(0.0)
    events["window_start"] = events["ts"].dt.floor("h")
    want = events.groupby(["window_start", "user_id"])["w"].sum()
    marks = [p["eventTime"].get("watermark") for p in progress if p.get("eventTime")]
    watermark = _naive(pd.Series(pd.to_datetime(marks, utc=True))).max() if marks else None
    if watermark is not None:
        closed = want.index.get_level_values(0) + pd.Timedelta(hours=1) <= watermark
        want = want[closed]
    got = ds.dataset(sink, format="parquet").to_table().to_pandas()
    got["window_start"] = _naive(got["window_start"])
    want.index = want.index.set_levels(_naive(want.index.levels[0].to_series()), level=0)
    got = got.set_index(["window_start", "user_id"])["weight"]
    wrong = len(want.index.symmetric_difference(got.index))
    both = want.index.intersection(got.index)
    wrong += int((~np.isclose(got.loc[both].to_numpy(), want.loc[both].to_numpy())).sum())
    return max(len(want), len(got)), wrong


def _naive(ts: pd.Series) -> pd.Series:
    """UTC wall time without a zone, at nanosecond precision."""
    if getattr(ts.dt, "tz", None) is not None:
        ts = ts.dt.tz_convert(None)
    return ts.astype("datetime64[ns]")
