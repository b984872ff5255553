"""Small-size smoke run of the benchmark.

    python3 perfbench/smoke.py

1. Runs every workload of BENCHMARK.json at a small input size, untraced
   and traced, and checks that each prints every named metric with its
   unit and passes its oracle gate. It prints the tracing overhead: the
   traced run's ingest rate against the untraced run's on the same seed.
2. Builds a small table, checks that the gate passes on it, corrupts
   one text value in a copy of the table's data, and checks that the
   gate reports the copy.
3. Runs the benchmark from a directory that holds only BENCHMARK.json
   and the benchmark's own files, where it must fail without a result.

Exits 0 when every check holds.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True

import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import env  # noqa: E402

SECONDS = 4  # measured-phase length that sizes the smoke inputs


def _bench() -> dict:
    with open(os.path.join(env.ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        return json.load(f)


def _run(cmd: list[str], cwd: str) -> tuple[int, str]:
    p = subprocess.run(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=600)
    return p.returncode, p.stdout


def check_metrics(bench: dict) -> list[str]:
    problems = []
    for w in bench["workloads"]:
        ingest = {}
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            cmd = bench["command"] + ["--workload", w["name"], "--seed", "1",
                                      "--seconds", str(SECONDS), "--trace", str(trace)]
            code, out = _run(cmd, env.ROOT)
            tag = f"{w['name']} trace={trace}"
            if code != 0 or not out.strip():
                problems.append(f"{tag}: exit {code}")
                continue
            res = json.loads(out.strip().splitlines()[-1])
            diag = json.loads(out.strip().splitlines()[-2])["diagnostics"]
            if not res["correct"]:
                problems.append(f"{tag}: gate failed: {diag['problems']}")
            ingest[trace] = (res["metrics"]["ingest_events_per_s"]["value"] if trace == 0
                             else diag["traced_ingest_events_per_s"])
            got = res["metrics"]
            for m in bench[key]:
                if m["name"] not in got:
                    problems.append(f"{tag}: metric {m['name']} missing")
                elif got[m["name"]]["unit"] != m["unit"]:
                    problems.append(f"{tag}: {m['name']} unit {got[m['name']]['unit']}"
                                    f" != {m['unit']}")
            extra = set(got) - {m["name"] for m in bench[key]}
            if extra:
                problems.append(f"{tag}: unlisted metrics {sorted(extra)}")
            print(f"smoke: {tag}: {len(got)} metrics, correct={res['correct']}",
                  flush=True)
        if len(ingest) == 2:
            print(f"smoke: {w['name']}: tracing overhead vs the untraced run: "
                  f"{100.0 * (ingest[0] / ingest[1] - 1):+.1f}% ingest time", flush=True)
    return problems


def check_gate_trips() -> list[str]:
    """The gate must pass on a correct table and report a copy of it
    with one text value changed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    sys.path.insert(0, env.ROOT)
    import fixtures
    import workloads
    from gate import compare

    dirs = env.RunDirs("smoke-gate")
    env.export_env(dirs)
    spec = fixtures.spec_for("bulk_backfill", SECONDS)
    fixture_dir, meta, _ = fixtures.load_or_build("bulk_backfill", spec, 1)
    spark = env.start_spark(dirs)
    problems = []
    try:
        run = workloads.Run(spark, dirs, fixture_dir, meta, None)
        workloads._create_table(run)
        for k in range(len(meta["batches"])):
            workloads._merge_batch(run, k)
        want = fixtures.load_oracle(fixture_dir)

        def gate(table) -> list[str]:
            return compare(table.read(spark).toPandas(), want, meta["columns"],
                           meta["lang_col"])

        if gate(run.table):
            problems.append("gate rejects a correct table")
        copy = dirs.path("pages-corrupted")
        shutil.copytree(run.table.path, copy)
        from montandon_etl_spark.lake.table import SnapshotTable

        bad = SnapshotTable(copy)
        entry = bad.io.load_manifest(bad.snapshot())[0]
        path = os.path.join(copy, entry["path"])
        t = pq.read_table(path)
        texts = t.column("text").to_pylist()
        texts[0] = (texts[0] or "") + "?"
        t = t.set_column(t.schema.get_field_index("text"), "text",
                         pa.array(texts, type=t.schema.field("text").type))
        pq.write_table(t, path)
        # Hadoop's local file system checks a .crc sidecar; a rewritten
        # file without one is read as is
        crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
        if os.path.exists(crc):
            os.remove(crc)
        found = gate(bad)
        if not found:
            problems.append("gate passes a corrupted table")
        print(f"smoke: gate on corrupted copy reports: {found}", flush=True)
    finally:
        env.stop_spark(spark)
        dirs.remove()
    return problems


def check_bare_directory(bench: dict) -> list[str]:
    """Without the program beside it the benchmark must fail, print no
    result, and do so quickly."""
    bare = os.path.join(env.STATE, "work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(env.ROOT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(os.path.join(env.ROOT, p), os.path.join(bare, p),
                        ignore=shutil.ignore_patterns("__pycache__"))
    cmd = bench["command"] + ["--workload", bench["workloads"][0]["name"], "--seed", "1",
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    try:
        code, out = _run(cmd, bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or out.strip():
        return [f"bare directory: exit {code}, stdout {out[:200]!r}"]
    print(f"smoke: bare directory exits {code} without a result", flush=True)
    return []


def main() -> int:
    bench = _bench()
    problems = check_bare_directory(bench) + check_gate_trips() + check_metrics(bench)
    for p in problems:
        print(f"smoke: FAIL {p}", flush=True)
    print("smoke: " + ("ok" if not problems else f"{len(problems)} problems"))
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
