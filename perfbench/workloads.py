"""The two workloads and the metrics they report.

Each workload has a set-up step (table, priming batch, one pass over
the read path; not measured) and a measured step. Both write through
the same path (Debezium frames -> decode -> merge_microbatch ->
SnapshotTable commit) and read the table they wrote (point lookups,
change feeds, one full resolved read checked against the oracle), so
every metric exists on both; what differs is the shape of the load.

- tail_debezium: open loop. Small frame files are renamed into a
  directory that ``run_stream`` tails, one every ``interval_s``.
- bulk_backfill: closed loop, one client. A few large batches of
  large pages merge back to back; then point lookups and change feeds
  over the deltas they left (no compaction).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import threading
import time

import fixtures
from gate import compare
from spans import Tracer, p50


class Run:
    """State of one workload run: inputs, the table, raw samples."""

    def __init__(self, spark, dirs, fixture_dir: str, meta: dict,
                 tracer: Tracer | None):
        self.spark = spark
        self.dirs = dirs
        self.fixture_dir = fixture_dir
        self.meta = meta
        self.spec = meta["spec"]
        self.tracer = tracer
        self.table = None
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.start_sid = 0
        # samples
        self.events = 0
        self.commit_s: list[float] = []
        self.freshness_s: list[float] = []
        self.drain_s = 0.0
        self.lookup_ms: list[float] = []
        self.cdf_s: list[float] = []
        self.scan_s = 0.0
        self.final_compact_s = 0.0
        self.gen_lag_s: list[float] = []
        self.epoch_s: list[float] = []  # streaming trigger durations
        # traced-only samples
        self.jobs_per_batch: list[int] = []
        self.jobs_per_lookup: list[int] = []
        self.files_per_lookup: list[int] = []
        self.changes_rows: list[int] = []

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def batch_path(self, k: int) -> str:
        return os.path.join(self.fixture_dir, "batches", f"b{k:05d}.parquet")

    def head(self) -> int:
        return self.table.io.head_snapshot_id()

    def jobs(self, group: str, fn):
        """Run ``fn`` under a Spark job group; return (result, job count).
        The job-group calls are charged to the tracer's overhead."""
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobGroup(group, group)
        t1 = time.perf_counter()
        try:
            out = fn()
        finally:
            t2 = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
        n = len(sc.statusTracker().getJobIdsForGroup(group))
        self.tracer.charge((t1 - t0) + (time.perf_counter() - t2))
        return out, n


# ------------------------------------------------------------- operations --
def _frames(run: Run, k: int):
    from montandon_etl_spark.sources.kafka import KAFKA_FRAME_SCHEMA

    return run.spark.read.schema(KAFKA_FRAME_SCHEMA).parquet(run.batch_path(k))


def _merge_batch(run: Run, k: int) -> None:
    """Decode batch ``k``'s frames and merge it as epoch ``k``."""
    from montandon_etl_spark.sources.kafka import decode_debezium, split_quarantine
    from montandon_etl_spark.streaming import pipeline

    good, _ = split_quarantine(decode_debezium(_frames(run, k)))
    if run.tracer is None:
        pipeline.merge_microbatch(run.spark, run.table, good, k)
    else:
        _, n = run.jobs(f"batch-{k}", lambda: pipeline.merge_microbatch(
            run.spark, run.table, good, k))
        run.jobs_per_batch.append(n)


def _timed_merge(run: Run, k: int, due: float) -> None:
    t = time.perf_counter()
    try:
        _merge_batch(run, k)
        ok = True
    except Exception as e:  # a failed commit is counted, not fatal
        ok = False
        run.problems.append(f"merge of batch {k}: {e!r}"[:300])
    end = time.perf_counter()
    run.check(ok, f"merge batch {k}")
    run.commit_s.append(end - t)
    run.freshness_s.append(end - due)
    run.events += run.meta["batches"][k]["events"]


def _lookup(run: Run, url: str, lid: str) -> list[int]:
    """Point lookup of ``url`` at HEAD; returns the winning seqs found,
    for the caller to check."""
    def go():
        return run.table.read(run.spark, point_lookup=url).collect()

    t = time.perf_counter()
    if run.tracer is None:
        rows = go()
    else:
        with run.tracer.span("lake.table.read", lookup=lid):
            rows, n = run.jobs(f"lookup-{lid}", go)
        run.jobs_per_lookup.append(n)
        t_files = time.perf_counter()
        run.files_per_lookup.append(len(run.table.manifest_entries(point_lookup=url)))
        run.tracer.charge(time.perf_counter() - t_files)
    run.lookup_ms.append((time.perf_counter() - t) * 1000.0)
    return [int(r["seq"]) for r in rows]


def _cdf(run: Run, from_sid: int, cid: str) -> int:
    """Row count of the change feed from ``from_sid`` to HEAD."""
    def go():
        return run.table.changes(run.spark, from_sid).count()

    t = time.perf_counter()
    if run.tracer is None:
        n = go()
    else:
        with run.tracer.span("lake.table.changes", lookup=cid):
            n = go()
        run.changes_rows.append(n)
    run.cdf_s.append(time.perf_counter() - t)
    return n


def _check_lookup(run: Run, url: str, got: list[int], want: int | None) -> None:
    run.check(got == ([] if want is None else [want]),
              f"lookup {url}: got seqs {got}, want {want}")


def _gate(run: Run) -> None:
    """Full resolved read of HEAD (timed as scan_s), checked against
    the oracle."""
    t = time.perf_counter()
    got = run.table.read(run.spark).toPandas()
    run.scan_s = time.perf_counter() - t
    problems = compare(got, fixtures.load_oracle(run.fixture_dir),
                       run.meta["columns"], run.meta["lang_col"])
    run.check(not problems, "; ".join(problems))


def _warm_reads(run: Run) -> None:
    """Run the read path once during set-up (a point lookup and a change
    feed) so measured reads do not pay its JIT and first-use costs."""
    t = run.table
    url = t.read(run.spark).select("url").first()["url"]
    t.read(run.spark, point_lookup=url).collect()
    t.changes(run.spark, 0).count()


def _create_table(run: Run, **props):
    from montandon_etl_spark.lake.table import SnapshotTable

    run.table = SnapshotTable.create(run.dirs.path("pages"),
                                     n_buckets=run.spec["n_buckets"], **props)


# ------------------------------------------------------------- workloads --
class TailDebezium:
    """Open loop over ``run_stream``: small frame files become due every
    ``interval_s`` seconds whether or not the stream kept up, and each
    epoch takes the oldest file present. Freshness counts from a file's
    due time to the commit of its epoch, so a stall is charged to every
    file queued behind it. One file per epoch keeps the commit sequence,
    and so the compactions, the same in every run. Once the last file
    has committed, the table is compacted (how many superseded versions
    the delta files hold varies with the seed on inputs this small) and
    one reader runs point lookups and change feeds over it."""

    def __init__(self, run: Run):
        self.run = run
        # epoch -> (commit time, head snapshot, committed max seq, jobs so far)
        self.stamps: dict[int, tuple[float, int, int, int]] = {}
        self.cond = threading.Condition()
        self.query = None

    def _stamp(self, spark, df, epoch_id: int) -> None:
        # derived_updaters run after the epoch's merge has committed
        t = time.perf_counter()
        snap = self.run.table.snapshot()
        jobs = 0
        if self.run.tracer is not None and self.query is not None:
            t_poll = time.perf_counter()
            jobs = len(spark.sparkContext.statusTracker()
                       .getJobIdsForGroup(str(self.query.runId)))
            self.run.tracer.charge(time.perf_counter() - t_poll)
        with self.cond:
            self.stamps[epoch_id] = (t, snap["snapshot_id"],
                                     int((snap["offsets"] or {}).get("max_seq") or -1), jobs)
            self.cond.notify_all()

    def _wait(self, pred, timeout: float) -> bool:
        deadline = time.perf_counter() + timeout
        with self.cond:
            while not pred():
                left = deadline - time.perf_counter()
                if left <= 0 or (self.query is not None and not self.query.isActive):
                    return False
                self.cond.wait(min(left, 1.0))
        return True

    def _covered(self, max_seq: int) -> int:
        """Index of the last file whose events are all at or below
        ``max_seq`` (files hold ascending seq ranges)."""
        k = -1
        for i, b in enumerate(self.run.meta["batches"]):
            if b["max_seq"] <= max_seq:
                k = i
        return k

    def _progress(self, last: int) -> list[dict]:
        """The query's progress reports, once the one for epoch ``last``
        is out (it follows the epoch's commit)."""
        deadline = time.perf_counter() + 30
        while True:
            progress = [json.loads(p.json) if hasattr(p, "json") else p
                        for p in self.query.recentProgress]
            if any(p["batchId"] == last for p in progress) or time.perf_counter() > deadline:
                return progress
            time.sleep(0.05)

    def _release(self, k: int) -> None:
        src = os.path.join(self.staging, f"b{k:05d}.parquet")
        os.utime(src)  # the file source orders new files by mtime
        os.rename(src, os.path.join(self.incoming, f"b{k:05d}.parquet"))

    def setup(self) -> None:
        from montandon_etl_spark.sources.kafka import kafka_frames_dir_source
        from montandon_etl_spark.streaming.pipeline import run_stream

        run = self.run
        _create_table(run, compact_threshold=run.spec["compact_threshold"])
        self.staging = run.dirs.path("staging")
        self.incoming = run.dirs.path("incoming")
        self.qdir = run.dirs.path("quarantine")
        os.makedirs(self.staging)
        os.makedirs(self.incoming)
        for k in range(len(run.meta["batches"])):
            shutil.copy(run.batch_path(k), self.staging)
        # file 0 primes the stream: query start-up is set-up, not load
        self._release(0)
        self.query = run_stream(
            run.spark, run.table, None, run.dirs.path("ckpt"),
            source=kafka_frames_dir_source(
                self.incoming, max_files_per_trigger=1,
                schema_change_topic=fixtures.SCHEMA_TOPIC),
            quarantine_dir=self.qdir, available_now=False,
            derived_updaters=[self._stamp])
        if not self._wait(lambda: 0 in self.stamps, 300):
            raise RuntimeError(f"stream did not commit its priming file: "
                               f"{self.query.exception()}")
        _warm_reads(run)
        run.start_sid = run.head()

    def measure(self) -> None:
        run = self.run
        n = len(run.meta["batches"]) - 1
        last_seq = run.meta["batches"][-1]["max_seq"]
        gap = run.spec["interval_s"]
        t0 = time.perf_counter() + 0.05
        due = {k: t0 + (k - 1) * gap for k in range(1, n + 1)}

        def generator():
            for k in range(1, n + 1):
                wait = due[k] - time.perf_counter()
                if wait > 0:
                    time.sleep(wait)
                run.gen_lag_s.append(time.perf_counter() - due[k])
                self._release(k)

        gen = threading.Thread(target=generator, name="perfbench-generator")
        gen.start()
        try:
            done = self._wait(lambda: any(s[2] >= last_seq for s in self.stamps.values()),
                              n * gap + 150)
        finally:
            gen.join()
        epochs = sorted(e for e in self.stamps if e > 0)
        progress = self._progress(epochs[-1] if epochs else 0)
        self.query.stop()
        run.check(done, "stream did not commit every file")

        add_batch = {p["batchId"]: p["durationMs"].get("addBatch", 0) / 1000.0
                     for p in progress}
        run.epoch_s = [p["durationMs"].get("triggerExecution", 0) / 1000.0
                       for p in progress if p["batchId"] in epochs]
        covered = {e: self._covered(self.stamps[e][2]) for e in [0] + epochs}
        for e in epochs:
            if e in add_batch:
                run.commit_s.append(add_batch[e])
            if run.tracer is not None and e - 1 in self.stamps:
                run.jobs_per_batch.append(self.stamps[e][3] - self.stamps[e - 1][3])
        for k in range(1, n + 1):
            e = next((e for e in epochs if covered[e] >= k), None)
            if e is not None:
                run.events += run.meta["batches"][k]["events"]
                run.freshness_s.append(self.stamps[e][0] - due[k])
        run.drain_s = run.freshness_s[-1] if run.freshness_s else float("nan")

        # the reader, over the compacted table: point lookups at HEAD,
        # then the change feed over the whole measured tail, checked
        # against the oracle state after the last committed file
        t = time.perf_counter()
        run.table.compact(run.spark)
        run.final_compact_s = time.perf_counter() - t
        states = fixtures.load_states(run.fixture_dir)
        final = states[covered[epochs[-1]]] if epochs else {}
        for i, url in enumerate(run.meta["lookup_pool"]):
            _check_lookup(run, url, _lookup(run, url, f"probe.{i}"), final.get(url))
        want = fixtures.cdf_count(states[0], final)
        for i in range(run.spec["cdf_probes"]):
            got = _cdf(run, run.start_sid, f"tail.{i}")
            run.check(got == want, f"changes since the priming file: {got} rows, "
                                   f"want {want}")
        bad = glob.glob(os.path.join(self.qdir, "epoch=*"))
        quarantined = run.spark.read.parquet(*bad).count() if bad else 0
        run.check(quarantined == run.meta["n_poison"],
                  f"quarantined {quarantined} frames, injected {run.meta['n_poison']}")
        _gate(run)

    def close(self) -> None:
        if self.query is not None and self.query.isActive:
            self.query.stop()


class BulkBackfill:
    """Closed-loop catch-up replay: the whole backlog is due at the
    start and each large batch merges as soon as the previous one has
    committed. Then one client runs point lookups of urls from every
    batch and change feeds since each of the last batches'
    predecessors, checked against the oracle's final state. Nothing is
    compacted: the table keeps one delta file per batch and bucket."""

    def __init__(self, run: Run):
        self.run = run

    def setup(self) -> None:
        run = self.run
        _create_table(run)
        _merge_batch(run, 0)  # priming batch: warms the merge path
        _warm_reads(run)
        run.start_sid = run.head()

    def measure(self) -> None:
        run = self.run
        t0 = time.perf_counter()
        sids = [run.head()]
        for k in range(1, len(run.meta["batches"])):
            _timed_merge(run, k, t0)
            sids.append(run.head())
        run.drain_s = run.freshness_s[-1]
        for i, (url, seq) in enumerate(run.meta["lookups"]):
            _check_lookup(run, url, _lookup(run, url, f"probe.{i}"), seq)
        for k, want in run.meta["cdf_probes"]:
            got = _cdf(run, sids[k], f"b{k}")
            run.check(got == want, f"changes since batch {k}: {got} rows, want {want}")
        _gate(run)

    def close(self) -> None:
        pass


WORKLOADS = {"tail_debezium": TailDebezium, "bulk_backfill": BulkBackfill}


# ----------------------------------------------------------------- metrics --
def _table_files(run: Run) -> dict:
    """Byte and file counts of the table on disk. ``delta_max`` is the
    most data files any bucket held at any snapshot of the run."""
    t = run.table
    snap = t.snapshot()
    manifest = t.io.load_manifest(snap)
    delta_max = 0
    for s in t.history():
        if s["snapshot_id"] >= run.start_sid:
            per_bucket: dict[int, int] = {}
            for m in t.io.load_manifest(s):
                per_bucket[m["bucket"]] = per_bucket.get(m["bucket"], 0) + 1
            delta_max = max(delta_max, *per_bucket.values(), 0)
    head_bytes = sum(os.path.getsize(os.path.join(t.path, m["path"])) for m in manifest)
    written = sum(os.path.getsize(p) for p in glob.glob(
        os.path.join(t.path, "data", "*", "*", "*.parquet")))
    meta_bytes, commits = 0, 0
    for sid in range(run.start_sid + 1, snap["snapshot_id"] + 1):
        commits += 1
        meta_bytes += os.path.getsize(t.io.snapshot_path(sid))
        meta_bytes += sum(os.path.getsize(p) for p in glob.glob(
            os.path.join(t.io.manifests_dir(), f"m-{sid:08d}*.json")))
    compactions = sum(1 for s in t.history()
                      if s["snapshot_id"] > run.start_sid and s["type"] == "compact")
    return {"head_bytes": head_bytes, "written": written,
            "delta_max": delta_max,
            "meta_bytes": meta_bytes, "commits": max(commits, 1),
            "compactions": compactions}


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> dict:
    files = _table_files(run)
    return {
        "setup_s": (setup_s, "s"),
        "ingest_events_per_s": (run.events / sum(run.commit_s), "events/s"),
        "freshness_p50_s": (p50(run.freshness_s), "s"),
        "lookup_p50_ms": (p50(run.lookup_ms), "ms"),
        "cdf_p50_s": (p50(run.cdf_s), "s"),
        "space_amp": (files["head_bytes"] / run.meta["live_payload_bytes"], "ratio"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def materialise_lazy_layers(run: Run, k: int) -> dict:
    """Self times of the lazy layers on batch ``k``: each layer's output
    is written to Spark's noop sink, and its self time is the difference
    from the same materialisation of its input."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from montandon_etl_spark.operators.lww import lww_latest
    from montandon_etl_spark.sources.kafka import decode_debezium, split_quarantine
    from montandon_etl_spark.streaming.pipeline import enrich_batch

    tr = run.tracer

    def noop(df, name: str, parent_s: float | None, **attrs) -> tuple[float, dict]:
        obs = Observation(name)
        t = time.perf_counter()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop") \
            .mode("overwrite").save()
        end = time.perf_counter()
        dur = end - t
        rec = tr.add(name, t, end, batch=k, rows=obs.get["n"],
                     self_s=dur - (parent_s or 0.0), **attrs)
        return dur, rec

    frames = _frames(run, k)
    t_scan, _ = noop(frames, "trace.frames_scan", None)
    decoded = decode_debezium(frames, keep_raw=True,
                              schema_change_topic=fixtures.SCHEMA_TOPIC)
    t_dec, dec = noop(decoded, "sources.kafka.decode_debezium", t_scan,
                      input="trace.frames_scan")
    good, _ = split_quarantine(decoded)
    good = good.filter(F.col("ddl").isNull()).drop("ddl")
    winners = lww_latest(good, keys="url", order_cols=["warc_ts", "seq"])
    t_lww, lww = noop(winners, "operators.lww.lww_latest", t_dec,
                      input="sources.kafka.decode_debezium")
    _, enr = noop(enrich_batch(winners), "functions.extract.enrich_batch", t_lww,
                  input="operators.lww.lww_latest")
    events = run.meta["batches"][k]["events"]
    return {"decode_s": dec["self_s"], "lww_s": lww["self_s"],
            "lww_rows": lww["rows"], "extract_s": enr["self_s"],
            "extract_rows_per_event": enr["rows"] / max(events, 1)}


def per_layer(run: Run, lazy: list[dict], measured_s: float) -> dict:
    tr = run.tracer
    files = _table_files(run)
    batches = tr.named("streaming.pipeline.merge_microbatch", top_only=True)
    merges = tr.named("lake.table.merge")
    compacts = tr.named("lake.table.compact")
    fmt_per_batch = [
        sum(d["end"] - d["start"] for d in tr.descendants(b["id"])
            if d["name"].startswith("lake.format."))
        for b in batches]
    reads = tr.named("lake.table.read")
    changes = tr.named("lake.table.changes")

    def med(key: str) -> float:
        return p50([x[key] for x in lazy])

    return {
        "streaming.pipeline.spark_jobs_per_batch": (p50(run.jobs_per_batch), "count"),
        "streaming.pipeline.batch_s": (p50([b["end"] - b["start"] for b in batches]), "s"),
        "streaming.pipeline.self_s": (p50([tr.self_time(b) for b in batches]), "s"),
        "sources.kafka.decode_s": (med("decode_s"), "s"),
        "functions.extract.s": (med("extract_s"), "s"),
        "functions.extract.rows_per_event": (med("extract_rows_per_event"), "ratio"),
        "operators.lww.s": (med("lww_s"), "s"),
        "operators.lww.rows_out": (med("lww_rows"), "count"),
        "lake.table.merge_self_s": (p50([tr.self_time(m) for m in merges]), "s"),
        "lake.table.compact_s": (sum(c["end"] - c["start"] for c in compacts), "s"),
        "lake.table.compactions": (files["compactions"], "count"),
        "lake.table.write_amp": (files["written"] / run.meta["ingested_bytes"], "ratio"),
        "lake.table.bytes_written": (files["written"], "bytes"),
        "lake.table.delta_files_per_bucket_max": (files["delta_max"], "count"),
        "lake.table.read_s": (p50([r["end"] - r["start"] for r in reads]), "s"),
        "lake.table.files_per_lookup": (p50(run.files_per_lookup), "count"),
        "lake.table.spark_jobs_per_lookup": (p50(run.jobs_per_lookup), "count"),
        "lake.table.scan_s": (run.scan_s, "s"),
        "lake.table.changes_s": (p50([c["end"] - c["start"] for c in changes]), "s"),
        "lake.table.changes_rows": (p50(run.changes_rows), "count"),
        "lake.format.commit_s": (p50(fmt_per_batch), "s"),
        "lake.format.metadata_bytes_per_commit":
            (files["meta_bytes"] / files["commits"], "bytes"),
        "trace.overhead_pct": (100.0 * tr.overhead_s / measured_s, "%"),
        "trace.spans": (len(tr.spans), "count"),
    }
