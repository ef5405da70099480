#!/usr/bin/env python3
"""graft benchmark: closed-loop workloads over the public query and operator API.

Usage (from the repository root):
    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads: cohort-tail and curate-10x (see perfbench/README.md). The first run
in a checkout compiles `src/main/scala` and the harness with the Scala compiler
shipped in Spark's jars, generates the input tables and computes the DuckDB
oracle results; later runs reuse them.
Everything is written under $CARGO_TARGET_DIR (default `.bench_build`).

The last line of standard output is one JSON object:
{"correct": bool, "attempted": int, "failed": int, "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer ones for
--trace 1. The full per-operation record goes to <build>/results/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SRC = ROOT / "src" / "main"
HARNESS = HERE / "harness"
EXPECTED = HERE / "expected.tsv"  # lines: scale factor, operation, fingerprint
WORKLOADS = ["cohort-tail", "curate-10x"]
# cohort-tail: one query per module of the paper's reference surface (cohort,
# top-N, privacy, wrangling, date DSL, tables) plus the TPC-H pricing scan.
# The list is kept short so that several warm-up and timed passes fit one
# run: a fresh JVM's first pass over the 44 reference and TPC-H queries takes
# about a minute.
COHORT_TAIL = ["q_inclusion", "q_first_row", "q_redact_string", "q_clean_names",
               "q_date_dsl", "q_archive_retention", "q1_pricing"]
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
RUN_LIMIT_S = 170

JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(*paths: Path) -> str:
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()[:16]


def spark_jars() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home or not (Path(home) / "jars").is_dir():
        fail("SPARK_HOME must name a Spark distribution with a jars/ directory")
    return Path(home) / "jars"


def classpath(classes: Path) -> str:
    jars = sorted(spark_jars().glob("*.jar"))
    return ":".join(str(p) for p in [classes / "harness", classes / "main", *jars])


def build(out: Path) -> Path:
    """Compiles the library and the harness once per source state."""
    if not (SRC / "scala").is_dir():
        fail(f"no library sources at {SRC / 'scala'}")
    classes = out / "classes" / tree_hash(SRC, HARNESS)
    if (classes / "DONE").exists():
        return classes
    jars = spark_jars()
    compiler = [str(next(jars.glob(f"{n}-2.13*.jar")))
                for n in ("scala-compiler", "scala-library", "scala-reflect")]
    spark_cp = ":".join(str(p) for p in sorted(jars.glob("*.jar")))
    shutil.rmtree(classes, ignore_errors=True)
    for name, sources, cp in (
        ("main", sorted((SRC / "scala").rglob("*.scala")), spark_cp),
        ("harness", sorted(HARNESS.glob("*.scala")), f"{classes / 'main'}:{spark_cp}"),
    ):
        (classes / name).mkdir(parents=True)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", ":".join(compiler),
               "scala.tools.nsc.Main", "-nowarn", "-classpath", cp,
               "-d", str(classes / name)] + [str(s) for s in sources]
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            fail(f"compiling {name} failed")
    if (SRC / "resources").is_dir():
        shutil.copytree(SRC / "resources", classes / "main", dirs_exist_ok=True)
    (classes / "DONE").write_text("")
    return classes


def java_cmd(classes: Path, out: Path, main: str, *args: str, heap: str = "4g") -> list:
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", *JAVA_OPENS, "-XX:-UsePerfData", f"-Xmx{heap}",
             f"-Djava.io.tmpdir={tmp}", f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
             "-cp", classpath(classes), main] + list(args))


def data(out: Path, sf: str) -> Path:
    gen = HERE / "gen_data.py"
    d = out / "data" / f"sf{sf}-{tree_hash(gen)[:8]}"
    if not (d / "DONE").exists():
        tmp = d.with_name(d.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, str(gen), str(tmp), sf], check=True)
        (tmp / "DONE").write_text("")
        shutil.rmtree(d, ignore_errors=True)
        tmp.rename(d)
    return d


def table_rows(data_dir: Path) -> str:
    """Row count of each input table, from its parquet footer."""
    import pyarrow.parquet as pq

    return ",".join(f"{t}={pq.ParquetFile(data_dir / (t + '.parquet')).metadata.num_rows}"
                    for t in TABLES)


def oracle(out: Path, classes: Path, data_dir: Path) -> Path:
    """DuckDB results of the queries' oracle SQL, one parquet per query. The
    SQL comes from the `oracle_sql.json` that `graft.Verify` writes."""
    d = out / "oracle" / f"{classes.name}-{data_dir.name}"
    if (d / "DONE").exists():
        return d
    import duckdb

    shutil.rmtree(d, ignore_errors=True)
    verify = d / "verify"
    verify.mkdir(parents=True)
    subprocess.run(java_cmd(classes, out, "graft.Verify", str(data_dir), str(verify),
                            *COHORT_TAIL, heap="2g"),
                   check=True, cwd=verify, stdout=sys.stderr,
                   env={**os.environ, "SPARK_GRAFT_CPUS": "2"})
    oracle_sql = json.loads((verify / "oracle_sql.json").read_text())
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir / (t + '.parquet')}')")
    for name in COHORT_TAIL:
        con.execute(f"COPY ({oracle_sql[name]}) TO '{d / (name + '.parquet')}' (FORMAT PARQUET)")
    shutil.rmtree(verify)
    (d / "DONE").write_text("")
    return d


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--sf", default="0.01", help="scale factor of the input tables")
    a = ap.parse_args()

    out = ROOT / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    classes = build(out)
    data_dir = data(out, a.sf)
    oracle_dir = oracle(out, classes, data_dir)

    run_dir = out / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "local").mkdir(parents=True)
    result = run_dir / "result.json"
    expected = run_dir / "expected.tsv"
    expected.write_text("".join(
        line.split("\t", 1)[1] + "\n" for line in EXPECTED.read_text().splitlines()
        if line.split("\t", 1)[0] == a.sf))
    cpus = str(min(4, os.cpu_count() or 1))
    cmd = java_cmd(
        classes, out, "perfbench.Harness",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", str(data_dir), "--table-rows", table_rows(data_dir),
        "--queries", ",".join(COHORT_TAIL), "--oracle", str(oracle_dir),
        "--expected", str(expected), "--out", str(result), "--cpus", cpus,
        "--local-dir", str(run_dir / "local"),
        "--launch-ms", str(int(time.time() * 1000)))
    log = run_dir / "harness.log"
    with open(log, "w") as lf:
        try:
            rc = subprocess.run(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                timeout=RUN_LIMIT_S).returncode
        except subprocess.TimeoutExpired:
            rc = "timeout"
    if rc != 0 or not result.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"harness exited with {rc}; log at {log}")

    rep = json.loads(result.read_text())
    results = out / "results"
    results.mkdir(exist_ok=True)
    shutil.copy(result, results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    shutil.rmtree(run_dir / "local", ignore_errors=True)
    for name, why in rep["failures"]:
        print(f"FAILED {name}: {why}")
    tail = rep["tail"]
    print(f"{a.workload}: {rep['passes']} timed passes, {rep['attempted']} operations; "
          f"op_tail_s is p{tail['percentile']:.1f} of {tail['samples']} samples "
          f"({tail['samples_above']} above)")
    print(json.dumps({
        "correct": rep["failed"] == 0,
        "attempted": rep["attempted"],
        "failed": rep["failed"],
        "metrics": rep["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
