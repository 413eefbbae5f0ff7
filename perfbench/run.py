#!/usr/bin/env python3
"""The repository's benchmark: one workload, one closed-loop client, one
JSON result line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and the
harness (perfbench/harness, an sbt build depending on the engine) and keeps
the classpath in perfbench/.work; later runs reuse it while no source is
newer. The harness runs the workload at local[<cores>] on the sf0.1 test
data ($PERFBENCH_SF_DIR, default ~/testdata/sf0.1) and writes a raw record;
this script checks the outputs, computes the metrics (stats.py) and prints
the run's record and, as the last line, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of an untraced run. --trace 1
then alternates untraced and traced rounds (listeners attached) and
reports the per-layer metrics, the tracing overhead among them.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
import stats  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
HARNESS = HERE / "harness"
SPEC = json.loads((HERE / "workloads.json").read_text())
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
SETUP_REPS = 3
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# what spark-submit would pass to a JDK 17 driver
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads."""
    yield ROOT / "build.sbt"
    yield HARNESS / "build.sbt"
    for d in (ROOT / "project", ROOT / "src" / "main", HARNESS / "src",
              HARNESS / "project"):
        if d.is_dir():
            yield from (p for p in d.rglob("*")
                        if p.is_file() and "target" not in p.parts)


def classpath():
    """The harness classpath, building first when a source is newer."""
    cp_file = WORK / "classpath.txt"
    if cp_file.exists():
        built = cp_file.stat().st_mtime
        if all(p.stat().st_mtime < built for p in sources()):
            return cp_file.read_text().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=HARNESS, env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=BUILD_TIMEOUT_S)
    lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines or "scala-library" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    return lines[-1].strip()


def harness(workload, seed, seconds, trace, sf_dir, cores, out):
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = ["java", "-Xmx4g", f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.stream.error.file={WORK / 'derby.log'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath(), "perfbench.Harness",
            f"workload={workload}", f"seed={seed}", f"seconds={seconds}",
            f"trace={trace}", f"sf={sf_dir}", f"work={WORK}", f"out={out}",
            f"reps={SETUP_REPS}", f"cores={cores}",
            "queries=" + ",".join(SPEC["workloads"][workload].get("queries", []))]
    log = WORK / "harness.log"
    with open(log, "w") as f:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=f, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; see {log}")
    if code != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness exited with {code}")
    return json.loads(out.read_text())


def oracle_hashes(rec, sf_dir):
    """The DuckDB oracle's result hash per query. The oracle is the
    reference, not the program under test, so its hashes are kept per
    checkout, keyed by the SQL text and the data directory."""
    import duckdb
    cache_file = WORK / "oracle.json"
    cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
    con = None
    out = {}
    for name, sql in rec["oracle_sql"].items():
        key = hashlib.md5(f"{sf_dir}\0{sql}".encode()).hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                con.execute("SET TimeZone='UTC'")
                for p in sorted(Path(sf_dir).glob("*.parquet")):
                    con.execute(f"CREATE VIEW {p.stem} AS "
                                f"SELECT * FROM read_parquet('{p}')")
            cur = con.execute(sql)
            cache[key] = stats.result_hash(
                [d[0] for d in cur.description], cur.fetchall())
        out[name] = tuple(cache[key])
    cache_file.write_text(json.dumps(cache))
    return out


def check_queries(rec, sf_dir):
    """Names of the queries whose check-pass output differs from the
    oracle's, or that have no oracle."""
    import duckdb
    expected = oracle_hashes(rec, sf_dir)
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    bad = []
    for op in rec["cold"]:
        name = op["op"]
        if not op["ok"] or name not in expected:
            bad.append(name)
            continue
        cur = con.execute(
            f"SELECT * FROM read_parquet('{rec['check_dir']}/{name}/*.parquet')")
        got = stats.result_hash([d[0] for d in cur.description], cur.fetchall())
        if got != expected[name]:
            bad.append(name)
    return bad


def check_migrations(rec, ops):
    """Migrations whose target differs from the source parquet."""
    return [i for i, op in enumerate(ops)
            if not op["ok"] or stats.checksum_mismatches(rec["source"], op["target"])]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SPEC["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not ((ROOT / "build.sbt").is_file() and (ROOT / "src" / "main").is_dir()):
        fail(f"no engine sources at {ROOT}: run from the root of a checkout")
    sf_dir = Path(os.environ.get("PERFBENCH_SF_DIR",
                                 Path.home() / "testdata" / SPEC["sf"]))
    if not (sf_dir / "lineitem.parquet").exists():
        fail(f"no test data at {sf_dir} (set PERFBENCH_SF_DIR)")
    cores = os.cpu_count()
    WORK.mkdir(exist_ok=True)
    out = WORK / f"{a.workload}-{a.seed}-{a.trace}.json"
    t0 = time.time()
    rec = harness(a.workload, a.seed, a.seconds, a.trace, sf_dir, cores, out)

    migrate = a.workload == "migrate_accdb"
    tr = rec["traced"]
    ops = rec["timed"] + (tr["ops"] + tr["baseline"] if tr else [])
    if migrate:
        wrong = check_migrations(rec, ops)  # a migration that raised included
        attempted, failed = len(ops), len(wrong)
    else:
        wrong = check_queries(rec, sf_dir)  # check-pass calls that raised included
        ops += rec["warmup"]
        attempted = len(rec["cold"]) + len(ops)
        failed = len(wrong) + sum(1 for op in ops if not op["ok"])

    e2e, dist = stats.end_to_end(rec)
    facts = {
        "workload": a.workload, "seed": a.seed, "cores": cores,
        "mem_gb": round(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30, 1),
        "sf": SPEC["sf"], "derby_durability": rec["derby_durability"],
        "timed_host": rec["timed_host"], "run_host": rec["run_host"],
        "setup_reps_s": rec["setup_reps_s"], "fail_rate": failed / attempted,
        "wrong": wrong, "run_s": time.time() - t0, **dist,
    }
    if migrate:
        rows = sum(t["rows"] for t in rec["source"].values())
        facts["rows_per_s"] = rows / e2e["wall_s"]
    if a.trace:
        if migrate:
            layers, walls = stats.migrate_layers(tr, rows, cores)
        else:
            layers, walls = stats.query_layers(tr, cores)
        base = [sum(stats.op_wall(op) for op in p) for p in stats.passes(tr["baseline"])]
        layers["sources.store_mb"] = tr["store_mb"]
        layers["trace.wall_s"] = statistics.median(walls)
        layers["trace.overhead_pct"] = 100.0 * (layers["trace.wall_s"] / statistics.median(base) - 1)
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in BENCH["per_layer"]}
        facts["traced_host"] = tr["hosts"]
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in BENCH["end_to_end"]}
    print(json.dumps({"facts": facts, "end_to_end": e2e}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
