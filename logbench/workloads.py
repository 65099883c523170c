"""The benchmark workloads.

Each workload drives the engine only through its public API, as a closed
loop with one client: ``op(i)`` returns only after operation ``i`` has
completed, and the harness starts the next operation after that.

- ``setup()`` builds the workload's state and runs every operation shape
  on separate warm-up paths;
- ``prepare(i)`` generates operation ``i``'s inputs and their pandas
  reference, outside the timed region;
- ``op(i)`` is the timed operation and returns the items it processed;
- ``check(i)`` compares operation ``i``'s output with the reference,
  outside the timed region; ``final_check()`` runs once after the loop.

Every call into a layer goes through the module attribute
(``topics.produce``, not a from-import), so the tracer's wrappers see
the benchmark's calls and the engine's internal ones alike.
"""

from __future__ import annotations

import datetime
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import inputs
from pulsar_spark.operators import compaction, dedup, seek, tableview, windows
from pulsar_spark.sources import topics
from pulsar_spark.streaming import curation


def count_files(path: str) -> int:
    return sum(len(files) for _, _, files in os.walk(path))


def parquet_bytes_and_rows(path: str) -> tuple[int, int]:
    size = rows = 0
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, f))
                rows += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return size, rows


def _dense(stored: pd.DataFrame) -> pd.DataFrame | None:
    """Per-partition offset stats of a topic read with pyarrow; None when
    some partition's offsets are not exactly 0..n-1."""
    g = stored.groupby(stored["partition"].astype(int))["offset"].agg(
        ["count", "min", "max", "nunique"])
    ok = (g["min"] == 0) & (g["max"] == g["count"] - 1) & (g["nunique"] == g["count"])
    return g if ok.all() else None


def _drain(tracer, start) -> None:
    """Start an availableNow subscription query with ``start()`` and wait
    until it has drained the topic. Jobs the streaming thread runs
    outside the batch callback carry the query's run id as their job
    group, so the drain span claims them."""
    with tracer.span("streaming.drain") as sp:
        q = start()
        q.awaitTermination()
        if sp is not None:
            sp["extra_groups"].append(str(q.runId))
            sp["triggers"] = len(q.recentProgress)


QUERY_KINDS = ("compact", "table_view", "dedup", "window", "seek", "backlog", "scan")


def _checksum_cols(F):
    key_id = F.substring("key", 2, 6).cast("long")
    return [F.count("*").alias("n"), F.sum("value").alias("s"),
            F.sum(key_id * F.col("value")).alias("kv")]


def _checksum(frame: pd.DataFrame) -> tuple:
    key_id = frame["key"].str[1:].astype(np.int64)
    return (len(frame), int(frame["value"].sum()), int((key_id * frame["value"]).sum()))


class LogQuery:
    """A read-only rotation of log-relational queries over a topic that
    setup builds with many ``produce`` appends."""

    name = "log_query"
    item = "queries"
    cycle = len(QUERY_KINDS)
    APPENDS = 6
    ROWS = 10_000
    PARTITIONS = 16
    WINDOW, SLIDE = "10 minutes", "5 minutes"
    LOOKUP_KEYS = 20
    SCAN = 1000
    WARMUP_ROTATIONS = 3

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark, self.root, self.seed, self.tracer = spark, root, seed, tracer
        self.params: dict[int, dict] = {}
        self.results: dict[int, object] = {}

    def setup(self) -> None:
        self.topic = os.path.join(self.root, "timed", "topic")
        topics.create_topic(self.topic, num_partitions=self.PARTITIONS)
        frames, self.stamps = [], []
        for producer, frame in inputs.log_query_appends(self.seed, inputs.TIMED, self.APPENDS, self.ROWS):
            # the instant before each append, for timestamp seeks
            self.stamps.append(datetime.datetime.now(datetime.timezone.utc))
            topics.produce(self.spark.createDataFrame(frame), self.topic, key_col="key",
                           event_time_col="event_time", num_partitions=self.PARTITIONS,
                           producer_name=producer)
            frames.append(frame.assign(producer=producer))
        self._references(pd.concat(frames, ignore_index=True), [len(f) for f in frames])
        # Warm up on a byte-for-byte copy at another path: the JIT warms on
        # data of the timed topic's size, and no query touches the timed
        # path before the timed phase.
        warm = os.path.join(self.root, "warmup", "topic")
        shutil.copytree(self.topic, warm)
        for i in range(self.WARMUP_ROTATIONS * len(QUERY_KINDS)):
            self._query(warm, i, self._draw(inputs.WARMUP, i))

    def _references(self, log: pd.DataFrame, append_rows: list[int]) -> None:
        self.rows_before = np.cumsum([0] + append_rows).tolist()
        # a key always routes to one partition, so send order is offset order
        latest = log.drop_duplicates("key", keep="last")
        live = latest[~latest["tombstone"]]
        self.live = dict(zip(live["key"], live["value"].tolist()))
        self.live_keys = sorted(self.live)
        self.ref_compact = _checksum(live)
        self.ref_dedup = _checksum(log.drop_duplicates(["producer", "client_seq"]))
        # sliding windows start on multiples of the slide: a row at t lies
        # in the windows starting at floor(t / slide) * slide - k * slide
        slide_us = pd.Timedelta(self.SLIDE).value // 1000
        per_row = pd.Timedelta(self.WINDOW).value // 1000 // slide_us
        t = log["event_time"].astype("int64").to_numpy() // 1000
        starts = np.concatenate([t - t % slide_us - k * slide_us for k in range(per_row)])
        g = (pd.DataFrame({"start": starts, "value": np.tile(log["value"].to_numpy(), per_row)})
             .groupby("start")["value"].agg(["count", "sum"]))
        self.ref_window = {(int(s), int(c), int(v)) for s, c, v in zip(g.index, g["count"], g["sum"])}
        # Per-partition sizes depend on the engine's key routing, so they
        # are read back from the stored topic (with pyarrow, not Spark);
        # the backlog and scan references follow from them once the
        # stored offsets are known to be dense and complete.
        stored = pq.read_table(self.topic, columns=["partition", "offset"]).to_pandas()
        g = _dense(stored)
        self.sizes = {} if g is None else g["count"].to_dict()
        self.setup_errors = [] if g is not None and len(stored) == len(log) else [
            "built topic: offsets not dense per partition or rows missing"]

    def span_name(self, i: int) -> str:
        return f"operators.{QUERY_KINDS[i % len(QUERY_KINDS)]}"

    def _draw(self, stream: int, i: int) -> dict:
        """Query ``i``'s parameters, drawn from the seed."""
        rng = np.random.default_rng([self.seed, 7, stream, i])
        picks = rng.integers(0, len(self.live_keys), self.LOOKUP_KEYS)
        return {"k": int(rng.integers(1, self.APPENDS)), "cursor": int(rng.integers(0, 1000)),
                "start": int(rng.integers(0, 1000)), "keys": [self.live_keys[j] for j in picks]}

    def prepare(self, i: int) -> None:
        self.params[i] = self._draw(inputs.TIMED, i)

    def op(self, i: int) -> int:
        self.results[i] = self._query(self.topic, i, self.params[i])
        return 1

    def _query(self, topic: str, i: int, prm: dict):
        from pyspark.sql import functions as F

        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        spark = self.spark
        if kind == "scan":
            a = prm["start"]
            return topics.read_topic(spark, topic, start_offset=a, end_offset=a + self.SCAN - 1).count()
        msgs = topics.read_topic(spark, topic)
        if kind == "compact":
            return tuple(compaction.compact_publish_order(msgs).agg(*_checksum_cols(F)).first())
        if kind == "table_view":
            rows = (tableview.table_view(msgs, value_cols=["value"])
                    .where(F.col("key").isin(prm["keys"])).collect())
            return {r["key"]: r["value"] for r in rows}
        if kind == "dedup":
            return tuple(dedup.dedup_messages(msgs, seq_col="client_seq").agg(*_checksum_cols(F)).first())
        if kind == "window":
            aggs = [F.count("*").alias("n"), F.sum("value").alias("s")]
            rows = windows.sliding_window(msgs, self.WINDOW, self.SLIDE, aggs).collect()
            return {(int(r["window_start"].timestamp()) * 1_000_000, r["n"], r["s"]) for r in rows}
        if kind == "seek":
            ts = self.stamps[prm["k"]].strftime("%Y-%m-%d %H:%M:%S.%f")
            rows = seek.seek_offsets_by_timestamp(msgs, ts).collect()
            return len(rows), sum(r["seek_offset"] for r in rows)
        cursors = spark.createDataFrame([(p, prm["cursor"]) for p in range(self.PARTITIONS)],
                                        "partition INT, cursor_offset LONG")
        return {r["partition"]: r["backlog"] for r in seek.backlog(msgs, cursors).collect()}

    def check(self, i: int) -> list[str]:
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        prm = self.params.pop(i)
        got = self.results.pop(i)
        if kind == "compact":
            want = self.ref_compact
        elif kind == "dedup":
            want = self.ref_dedup
        elif kind == "table_view":
            want = {k: self.live[k] for k in prm["keys"]}
        elif kind == "window":
            want = self.ref_window
        elif kind == "seek":
            # a partition's first offset at append k counts its rows stored
            # before append k, so the offsets sum to all rows before it
            want = (self.PARTITIONS, self.rows_before[prm["k"]])
        elif kind == "backlog":
            c = prm["cursor"]
            want = {p: n - c - 1 for p, n in self.sizes.items() if n > c + 1}
        else:
            a = prm["start"]
            want = sum(max(0, min(a + self.SCAN, n) - a) for n in self.sizes.values())
        errors = list(self.setup_errors) if i == 0 else []
        if got != want:
            errors.append(f"query {i} ({kind}): result differs from the reference: {got!r:.200}")
        return errors

    def final_check(self) -> list[str]:
        return []

    def state(self) -> dict:
        return {"topic": self.topic}


class _Crawl:
    def __init__(self, w: CrawlCurate, root: str, stream: int):
        self.w = w
        self.inputs = inputs.CrawlInputs(w.seed, stream, w.DOCS)
        self.topic = os.path.join(root, "topic")
        self.store = os.path.join(root, "fingerprints")
        self.output = os.path.join(root, "shards")
        self.checkpoint = os.path.join(root, "checkpoint")
        self.seen: set[str] = set()
        self.expected: dict[int, list[str]] = {}
        self.docs = 0
        topics.create_topic(self.topic, num_partitions=w.PARTITIONS)

    def prepare(self, e: int) -> None:
        """Generate epoch ``e`` and its exact-dedup reference: a document
        survives when its fingerprint was never seen in an earlier epoch
        and no smaller id in this epoch carries it."""
        self.frame = self.inputs.epoch(e)
        keep, mine = [], set()
        for text, fp in zip(self.frame["text"], inputs.exact_fingerprint(self.frame["text"])):
            if fp not in self.seen and fp not in mine:
                keep.append(text)
                mine.add(fp)
        self.seen |= mine
        self.expected[e] = keep
        self.docs += len(self.frame)

    def run(self, e: int) -> int:
        w = self.w
        docs = w.spark.createDataFrame(self.frame.drop(columns="kind"))
        topics.produce(docs, self.topic, num_partitions=w.PARTITIONS)
        _drain(w.tracer, lambda: curation.streaming_curate(
            w.spark, self.topic, self.store, self.output, self.checkpoint))
        return len(self.frame)

    def check(self, e: int) -> list[str]:
        """The epoch's committed fingerprints and packed shard texts equal
        the reference survivors, so no planted exact copy survives."""
        expected = self.expected[e]
        errors = []
        fps = pq.read_table(f"{self.store}/batch_id={e}", columns=["_fp"]).column("_fp").to_pylist()
        if sorted(fps) != sorted(inputs.exact_fingerprint(expected)):
            errors.append(f"epoch {e}: committed fingerprints differ from the reference survivors")
        shards = pq.read_table(f"{self.output}/batch_id={e}", columns=["shard_text", "n_docs"]).to_pandas()
        texts = [t for blob in shards["shard_text"] for t in blob.split("\n")]
        if int(shards["n_docs"].sum()) != len(expected) or sorted(texts) != sorted(expected):
            errors.append(f"epoch {e}: packed shards differ from the reference survivors")
        return errors


class CrawlCurate:
    """Produce one epoch of crawled documents, drain it through
    ``streaming_curate``: exact dedup against the all-time fingerprint
    store, sequence packing, then the two-phase store commit. Warm-up
    drives a second pipeline, with its own inputs, on its own paths."""

    name = "crawl_curate"
    item = "docs"
    cycle = 1
    DOCS = 200
    PARTITIONS = 4
    WARMUP_OPS = 4

    def __init__(self, spark, root: str, seed: int, tracer):
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.warm = _Crawl(self, os.path.join(root, "warmup"), inputs.WARMUP)
        self.timed = _Crawl(self, os.path.join(root, "timed"), inputs.TIMED)

    def setup(self) -> None:
        for e in range(self.WARMUP_OPS):
            self.warm.prepare(e)
            self.warm.run(e)

    def span_name(self, e: int) -> str:
        return f"op.{self.name}"

    def prepare(self, e: int) -> None:
        self.timed.prepare(e)

    def op(self, e: int) -> int:
        return self.timed.run(e)

    def check(self, e: int) -> list[str]:
        return self.timed.check(e)

    def final_check(self) -> list[str]:
        fps = pq.read_table(self.timed.store, columns=["_fp"]).column("_fp").to_pylist()
        return [] if len(fps) == len(set(fps)) else ["two survivors share a fingerprint"]

    def state(self) -> dict:
        t = self.timed
        return {"topic": t.topic, "checkpoint_files": count_files(t.checkpoint),
                "store_files": count_files(t.store),
                "survivor_ratio": sum(map(len, t.expected.values())) / t.docs}


WORKLOADS = {w.name: w for w in (LogQuery, CrawlCurate)}
