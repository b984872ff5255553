"""Seeded fixtures for the three workloads, with their expected results.

Everything here happens during set-up. A workload's inputs are Debezium
frame files (Kafka's fixed frame columns, stored as parquet) that the
program reads; the expected results come from
``montandon_etl_spark.oracle.replay_oracle`` and stay on this side.

Fixtures are cached under ``.perfbench/cache/<workload>-<key>`` where
the key hashes the workload spec, the seed and the sources of the
generator, the extractor and the oracle, so a change to any of them
regenerates the fixtures.
"""

from __future__ import annotations

import base64
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from env import CACHE_DIR, ROOT

KEY_SOURCES = (
    "montandon_etl_spark/sources/changelog.py",
    "montandon_etl_spark/functions/extract.py",
    "montandon_etl_spark/oracle.py",
)

KAFKA_PA_SCHEMA = pa.schema([
    pa.field("key", pa.binary()),
    pa.field("value", pa.binary()),
    pa.field("topic", pa.string()),
    pa.field("partition", pa.int32()),
    pa.field("offset", pa.int64()),
    pa.field("timestamp", pa.timestamp("us")),
])
DATA_TOPIC = "pages"
SCHEMA_TOPIC = "schemachanges"


def spec_for(workload: str, seconds: int) -> dict:
    """Input sizes, scaled so the measured phase lasts about ``seconds``
    on a 4-vCPU host (a small ``seconds`` gives the smoke run's sizes)."""
    f = seconds / 20.0
    if workload == "tail_debezium":
        return {"page_scale": 1, "prime_events": 40, "files": max(3, round(4 * f)),
                "frames_per_file": 40, "interval_s": 5.0, "poison_every": 200,
                "compact_threshold": 3, "lookup_pool": max(2, round(8 * f)),
                "cdf_probes": 5, "n_buckets": 4}
    if workload == "bulk_backfill":
        return {"page_scale": 8, "prime_events": 300, "batches": 4,
                "batch_events": max(100, round(800 * f)),
                "new_url_frac": 0.8, "lookups": 2, "cdf_probes": 3, "n_buckets": 8}
    raise ValueError(f"unknown workload {workload!r}")


def cache_key(workload: str, spec: dict, seed: int) -> str:
    h = hashlib.sha256()
    h.update(json.dumps({"w": workload, "spec": spec, "seed": seed},
                        sort_keys=True).encode())
    for rel in KEY_SOURCES:
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    with open(os.path.abspath(__file__), "rb") as f:
        h.update(f.read())
    return h.hexdigest()[:16]


def load_or_build(workload: str, spec: dict, seed: int) -> tuple[str, dict, bool]:
    """(fixture dir, meta, cache hit)."""
    out = os.path.join(CACHE_DIR, f"{workload}-{cache_key(workload, spec, seed)}")
    meta_path = os.path.join(out, "meta.json")
    if os.path.exists(meta_path):
        with open(meta_path, encoding="utf-8") as f:
            return out, json.load(f), True
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "batches"))
    meta = _MAKERS[workload](tmp, spec, seed)
    meta.update({"workload": workload, "seed": seed, "spec": spec})
    with open(os.path.join(tmp, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, meta, False


def load_oracle(fixture_dir: str) -> pd.DataFrame:
    return pd.read_parquet(os.path.join(fixture_dir, "oracle.parquet"))


# ------------------------------------------------------------------ frames --
def _ts_us(ts) -> int:
    return int(pd.Timestamp(ts).value // 1000)


def _dml_frame(row, offset: int, first_touch: bool) -> tuple:
    ts_us = _ts_us(row.warc_ts)
    source = {"seq": int(row.seq), "ts_us": ts_us}
    if row.op == "delete":
        body = {"op": "d", "ts_ms": ts_us // 1000, "source": source,
                "before": {"url": row.url}}
    else:
        # "r" is Debezium's initial-snapshot read; later versions are "u"
        body = {"op": "r" if first_touch else "u", "ts_ms": ts_us // 1000,
                "source": source,
                "after": {"url": row.url, "warc_ts_us": ts_us,
                          "html_b64": base64.b64encode(row.html).decode()}}
    return (row.url.encode(), json.dumps(body).encode(), DATA_TOPIC, 0, offset,
            pd.Timestamp(row.warc_ts))


_DDL_SQL = {
    "add_column": lambda r: f"ALTER TABLE pages ADD COLUMN {r.field} varchar(255)",
    "rename_column": lambda r: f"ALTER TABLE pages RENAME COLUMN {r.field} TO {r.new_name}",
}


def _ddl_frame(r, offset: int) -> tuple:
    body = {"source": {"seq": int(r.seq), "ts_us": 0}, "databaseName": "crawl",
            "ddl": _DDL_SQL[r.op](r)}
    return (b"ddl", json.dumps(body).encode(), SCHEMA_TOPIC, 0, offset,
            pd.Timestamp("2024-01-01"))


def _poison_frame(kind: int, i: int) -> tuple:
    bad = (b"not json at all" if kind == 0
           else json.dumps({"op": "weird"}).encode() if kind == 1
           else json.dumps({"op": "u", "ts_ms": 0,
                            "source": {"seq": 50_000_000 + i, "ts_us": 0},
                            "after": {"url": f"https://poison/{i}", "warc_ts_us": 0,
                                      "html_b64": "%%not base64%%"}}).encode())
    return (b"poison", bad, DATA_TOPIC, 0, 90_000_000 + i, pd.Timestamp("2024-01-01"))


def _write_frames(path: str, frames: list[tuple]) -> None:
    cols = list(zip(*frames))
    t = pa.Table.from_arrays([pa.array(c, type=f.type)
                              for c, f in zip(cols, KAFKA_PA_SCHEMA)],
                             schema=KAFKA_PA_SCHEMA)
    pq.write_table(t, path, row_group_size=4096)


def _encode(log: pd.DataFrame) -> list[tuple]:
    seen: set[str] = set()
    frames = []
    for i, row in enumerate(log.itertuples()):
        frames.append(_dml_frame(row, i, row.url not in seen))
        seen.add(row.url)
    return frames


# ---------------------------------------------------------------- expected --
def _live_seqs(log: pd.DataFrame) -> dict[str, int]:
    """url -> winning seq of every live url after ``log``: the oracle's
    LWW replay with payloads dropped (keys and order only, so it skips
    the extractor)."""
    from montandon_etl_spark.oracle import replay_oracle

    keys = log.assign(html=None)
    st = replay_oracle(keys)
    return {u: int(s) for u, s in zip(st["url"], st["seq"])}


def cdf_count(before: dict[str, int], after: dict[str, int]) -> int:
    """Rows SnapshotTable.changes reports between two states: inserts,
    deletes and updates (live in both with a different winning seq)."""
    ins = sum(1 for u in after if u not in before)
    dele = sum(1 for u in before if u not in after)
    upd = sum(1 for u, s in after.items() if u in before and before[u] != s)
    return ins + dele + upd


def _pick_lookups(rng: np.random.Generator, recent: pd.DataFrame,
                  state: dict[str, int], n: int) -> list[list]:
    """Point lookups on urls touched by one batch: [url, expected seq
    in ``state`` or None for a deleted url]."""
    urls = sorted(set(recent["url"]))
    pick = rng.choice(len(urls), size=min(n, len(urls)), replace=False)
    return [[urls[int(i)], state.get(urls[int(i)])] for i in sorted(pick)]


def _finish(out_dir: str, log: pd.DataFrame, ddl: pd.DataFrame | None,
            meta: dict) -> dict:
    """Oracle of the whole log, plus the byte counts space_amp and
    write_amp divide by."""
    from montandon_etl_spark.oracle import replay_oracle

    want = replay_oracle(log, ddl)
    lang_col = "language" if "language" in want.columns else "lang"
    keep = ["url", "warc_ts", "seq", "text", lang_col]
    want[keep].to_parquet(os.path.join(out_dir, "oracle.parquet"), index=False)
    live = (want["url"].str.len().sum()
            + want["html"].map(len).sum()
            + want["text"].map(lambda s: len(s.encode())).sum())
    ingested = (log["url"].str.len().sum()
                + log["html"].map(lambda h: 0 if h is None else len(h)).sum())
    meta.update({"columns": list(want.columns), "lang_col": lang_col,
                 "live_payload_bytes": int(live),
                 "ingested_bytes": int(ingested)})
    return meta


# ------------------------------------------------------------------ makers --
def _build_tail(out_dir: str, spec: dict, seed: int) -> dict:
    """Small pages in many small frame files; ~0.5% poison frames; an
    ADD COLUMN and a RENAME COLUMN travel in-band on the schema topic,
    in the priming file. The live state after every file is kept, so a
    read made at any committed epoch can be checked."""
    from montandon_etl_spark.sources.changelog import gen_changelog, gen_ddl_events

    rng = np.random.default_rng(seed + 7)
    n_dml = spec["prime_events"] + spec["files"] * spec["frames_per_file"]
    log = gen_changelog(n_dml + 2, max(20, n_dml // 2), seed=seed, n_domains=200,
                        page_scale=spec["page_scale"])
    # the two DDL events take over the first two seqs, at the head of the
    # priming file: an epoch that applies DDL takes three to four plain
    # epochs, and on the open-loop schedule the files queued behind it
    # would carry that stall into every freshness sample of the run
    lo = spec["prime_events"]
    ddl = gen_ddl_events(start_seq=0)
    dml = log[~log.seq.isin(ddl.seq)].reset_index(drop=True)

    frames = _encode(dml)
    for j, r in enumerate(ddl.itertuples()):
        frames.append(_ddl_frame(r, 10_000_000 + j))
    frames.sort(key=lambda fr: json.loads(fr[1])["source"]["seq"])
    with_poison, n_poison = [], 0
    for i, fr in enumerate(frames):
        with_poison.append(fr)
        if i % spec["poison_every"] == spec["poison_every"] - 1:
            with_poison.append(_poison_frame(n_poison % 3, i))
            n_poison += 1

    # file 0 primes the stream during set-up; 1..files are the schedule
    bounds = [0] + [int(x) for x in np.linspace(lo, len(with_poison), spec["files"] + 1)]
    batches, states = [], []
    for k in range(len(bounds) - 1):
        part = with_poison[bounds[k]:bounds[k + 1]]
        _write_frames(os.path.join(out_dir, "batches", f"b{k:05d}.parquet"), part)
        seqs = [json.loads(fr[1])["source"]["seq"] for fr in part
                if fr[0] not in (b"poison", b"ddl")]
        batches.append({"events": len(seqs), "max_seq": max(seqs)})
        st = _live_seqs(dml[dml.seq <= max(seqs)])
        states.append(pd.DataFrame({"after": k, "url": list(st), "seq": list(st.values())}))
    pd.concat(states).to_parquet(os.path.join(out_dir, "states.parquet"), index=False)
    measured = dml[dml.seq >= lo]
    pool = sorted(set(measured["url"]))
    pick = rng.choice(len(pool), size=min(spec["lookup_pool"], len(pool)), replace=False)
    meta = {"batches": batches, "n_poison": n_poison,
            "lookup_pool": [pool[int(i)] for i in sorted(pick)]}
    return _finish(out_dir, dml, ddl, meta)


def load_states(fixture_dir: str) -> list[dict[str, int]]:
    """Live url -> seq after each file of the tail workload."""
    df = pd.read_parquet(os.path.join(fixture_dir, "states.parquet"))
    out: list[dict[str, int]] = []
    for k, g in df.groupby("after", sort=True):
        out.append(dict(zip(g["url"], g["seq"].astype(int).tolist())))
    return out


def _build_bulk(out_dir: str, spec: dict, seed: int) -> dict:
    """Large pages (page_scale 8), mostly first-touch urls: a Debezium
    initial-snapshot backfill replayed in a few large batches. The reads
    that follow are point lookups of urls from every batch and change
    feeds since each of the last batches' predecessors, with the
    oracle's answers at the final state."""
    from montandon_etl_spark.sources.changelog import gen_changelog

    rng = np.random.default_rng(seed + 11)
    n = spec["prime_events"] + spec["batches"] * spec["batch_events"]
    log = gen_changelog(n, max(20, int(n * spec["new_url_frac"])), seed=seed,
                        n_domains=500, page_scale=spec["page_scale"])
    frames = _encode(log)
    sizes = [spec["prime_events"]] + [spec["batch_events"]] * spec["batches"]
    bounds = np.cumsum([0] + sizes)
    batches, states = [], []
    for k in range(len(sizes)):
        _write_frames(os.path.join(out_dir, "batches", f"b{k:05d}.parquet"),
                      frames[bounds[k]:bounds[k + 1]])
        batches.append({"events": sizes[k]})
        states.append(_live_seqs(log.iloc[:bounds[k + 1]]))
    final = states[-1]
    lookups = []
    for k in range(1, len(sizes)):
        lookups += _pick_lookups(rng, log.iloc[bounds[k]:bounds[k + 1]], final,
                                 spec["lookups"])
    since = list(range(len(sizes) - 1 - spec["cdf_probes"], len(sizes) - 1))
    meta = {"batches": batches, "lookups": lookups,
            "cdf_probes": [[k, cdf_count(states[k], final)] for k in since]}
    return _finish(out_dir, log, None, meta)


_MAKERS = {"tail_debezium": _build_tail, "bulk_backfill": _build_bulk}


def main(argv=None) -> int:
    """Build (or find in the cache) one run's fixtures. The benchmark
    runs this as its own process, so the fixture work stays out of the
    driver's peak RSS."""
    import argparse

    ap = argparse.ArgumentParser(description=main.__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(_MAKERS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    args = ap.parse_args(argv)
    t = time.perf_counter()
    out, _, hit = load_or_build(args.workload, spec_for(args.workload, args.seconds),
                                args.seed)
    print(json.dumps({"dir": out, "cache_hit": hit, "s": time.perf_counter() - t}))
    return 0


if __name__ == "__main__":
    import sys

    sys.path.insert(0, ROOT)
    sys.exit(main())
