#!/usr/bin/env python3
"""Lake benchmark launcher.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the benchmark
client from source with sbt (once per source state; the classpath and the
class-data archive every run maps are kept in .bench_build/), runs one
workload in a fresh JVM on a local[n] Spark session (n = min(4, cpus)),
checks the answers, prints a readable report and, as its last line, one
JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of the traced run. Inputs are generated into .bench_data/
with the build, before any run; every run writes its tables under a fresh
directory in .bench_work/ and removes it at the end. Run records
(result.json, spans, the per-layer table) stay in .bench_out/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import zipfile
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ARCHIVE = BUILD / "classes.jsa"
# -Xshare:on makes a JVM that cannot map the archive fail, not run unshared
SHARE = [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xshare:on"]
OUT = ROOT / ".bench_out"
WORK = ROOT / ".bench_work"

WORKLOADS = ("lake_commits", "lake_queries", "curate_batch")
CORES = max(1, min(4, os.cpu_count() or 1))
DOCS = 1000
DATA = ROOT / ".bench_data" / f"v1-docs{DOCS}"
SETUPS = 3
HEAP = "3g"
RUN_LIMIT_S = 170

END_TO_END = [
    ("op_geomean_ms", "ms"),
    ("op_p90_ms", "ms"),
    ("ops_per_s", "1/s"),
    ("setup_s", "s"),
    ("live_heap_mb", "MB"),
    ("bytes_stored_per_user_byte", "ratio"),
]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes() if p.exists() else b"-")
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the group."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode


def build():
    """Compiles library and client, packs the class trees into jars and
    records the class-data archive; returns the runtime classpath."""
    stamp = source_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and ARCHIVE.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    ARCHIVE.unlink(missing_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log("building library and benchmark client with sbt")
    out_path = BUILD / "sbt.log"
    with open(out_path, "w") as out:
        rc = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true",
                        "-Dsbt.server.forcestart=false",
                        "export Runtime/fullClasspath"],
                       timeout=840, cwd=HERE, env=env, stdout=out,
                       stderr=subprocess.STDOUT)
    lines = [l.strip() for l in out_path.read_text().splitlines() if l.strip()]
    cp = next((l for l in reversed(lines)
               if "perfbench" in l and "classes" in l and not l.startswith("[")),
              None)
    if rc != 0 or cp is None:
        sys.exit(f"build failed (sbt exit {rc}); see {out_path}")
    # the archive maps classes from jars only
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if Path(e).is_dir():
            jar = BUILD / f"classes{i}.jar"
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for f in sorted(Path(e).rglob("*")):
                    if f.is_file():
                        z.write(f, f.relative_to(e).as_posix())
            e = str(jar)
        entries.append(e)
    cp = os.pathsep.join(entries)
    make_inputs(cp)
    # the oracle answers need only the inputs, so DuckDB computes them
    # while the training JVM runs
    with ThreadPoolExecutor(1) as pool:
        oracles = pool.submit(oracle_answers, cp)
        train(cp)
        oracles.result()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp


def make_inputs(cp):
    """Generates the inputs into DATA once, in a JVM of its own."""
    if (DATA / "_READY").exists():
        return
    log("generating the inputs")
    work = WORK / f"inputs-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        rc = jvm(cp, client_args("inputs", 1, 1, 0, work),
                 BUILD / "inputs.log", RUN_LIMIT_S * 2, share=[])
        if rc != 0 or not (DATA / "_READY").exists():
            sys.exit(f"input generation failed (exit {rc}); see {BUILD / 'inputs.log'}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def train(cp):
    """Runs one untimed set-up and cycle of every workload in one JVM; the
    classes it loaded become the class-data archive every measured run
    maps. Without the archive each run pays 4-8 s more JVM warm-up
    (DESIGN.md, *Build*)."""
    log("recording the class-data archive")
    work = WORK / f"train-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    dump = work / "classes.jsa"
    try:
        rc = jvm(cp, client_args("train", 1, 1, 0, work) | {"--setups": 1},
                 BUILD / "train.log", RUN_LIMIT_S * 3,
                 [f"-XX:ArchiveClassesAtExit={dump}"])
        if rc != 0 or not dump.exists():
            sys.exit(f"no class-data archive (exit {rc}); see {BUILD / 'train.log'}")
        os.replace(dump, ARCHIVE)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def client_args(workload, seed, seconds, trace, work):
    DATA.parent.mkdir(parents=True, exist_ok=True)
    return {"--workload": workload, "--seed": seed, "--seconds": seconds,
            "--trace": trace, "--data": DATA, "--work": work,
            "--out": work / "out", "--cores": CORES, "--setups": SETUPS,
            "--docs": DOCS}


def java_bin():
    home = os.environ.get("JAVA_HOME")
    return str(Path(home, "bin", "java")) if home else "java"


def jvm(cp, args, log_path, timeout, share=None):
    """Runs the client in a JVM that maps the class-data archive, or with
    the given class-sharing flags instead."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = Path(args["--work"]) / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    share = SHARE if share is None else share
    cmd = [java_bin(), f"-Xmx{HEAP}", *opens, *share, "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={tmp}",
           "-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [k, str(v)]
    with open(log_path, "w") as out:
        return run_group(cmd, timeout=timeout, cwd=args["--work"],
                         stdout=out, stderr=subprocess.STDOUT)


def canon_hash(df):
    """Columns sorted by name, rows sorted, CSV md5: the repo's oracle
    comparison (tools/check.py)."""
    df = df[sorted(df.columns)]
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return hashlib.md5(df.to_csv(index=False).encode()).hexdigest(), len(df)


def oracle_answers(cp):
    """Runs the curation operators' DuckDB oracle SQL (from the client)
    over the raw corpus once per build and keeps the canonical hashes."""
    import duckdb
    log("computing the curation oracle answers with DuckDB")
    out = subprocess.run([java_bin(), "-Duser.timezone=UTC", "-cp", cp,
                          "perfbench.Main", "--list-oracles"],
                         capture_output=True, text=True, timeout=120, check=True)
    oracles = json.loads(out.stdout.strip().splitlines()[-1])
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{DATA}/documents.parquet/*.parquet')")
    answers = {k: canon_hash(con.execute(sql).fetchdf())
               for k, sql in sorted(oracles.items())}
    (BUILD / "oracles.json").write_text(json.dumps(answers))


def oracle_checks(rec):
    """Compares each operator's first output with its oracle answer.
    Returns (wrong kinds, messages)."""
    import duckdb
    answers = json.loads((BUILD / "oracles.json").read_text())
    con = duckdb.connect()
    wrong, msgs = [], []
    for kind, path in sorted(rec["outputs"].items()):
        got = canon_hash(con.execute(
            f"SELECT * FROM read_parquet('{path}/*.parquet')").fetchdf())
        exp = tuple(answers[kind])
        if got != exp:
            wrong.append(kind)
            msgs.append(f"{kind}: {got[1]} rows, oracle {exp[1]} rows, hashes differ")
        else:
            msgs.append(f"{kind}: {got[1]} rows match the DuckDB oracle")
    return wrong, msgs


def fmt(v):
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="'all' runs every workload untraced, then traced, "
                         "and prints one table")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala").is_dir():
        sys.exit(f"no library sources under {ROOT / 'src'}: run from a full checkout")
    if a.workload == "all":
        sys.exit(run_all(a))

    cp = build()
    started = time.time()
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = WORK / f"{name}-{os.getpid()}"
    out_dir = OUT / name
    shutil.rmtree(work, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    work.mkdir(parents=True)
    out_dir.mkdir(parents=True)
    try:
        args = client_args(a.workload, a.seed, a.seconds, a.trace, work)
        try:
            rc = jvm(cp, args, out_dir / "jvm.log", RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"run exceeded {RUN_LIMIT_S} s; see {out_dir / 'jvm.log'}")
        res_path = work / "out" / "result.json"
        if rc != 0 or not res_path.exists():
            sys.exit(f"benchmark client failed (exit {rc}); see {out_dir / 'jvm.log'}")
        rec = json.loads(res_path.read_text())
        attempted, failed = rec["attempted"], rec["failed"]
        notes = list(rec["failures"])
        if a.workload == "curate_batch":
            wrong, msgs = oracle_checks(rec)
            notes += msgs
            failed += sum(rec["ops_by_kind"].get(k, 0) for k in wrong)
            failed = min(failed, attempted)
        shutil.copy(res_path, out_dir / "result.json")
        if (work / "out" / "spans.jsonl").exists():
            shutil.copy(work / "out" / "spans.jsonl", out_dir / "spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = rec["end_to_end"]
    print(f"== {a.workload} seed={a.seed} trace={a.trace} cores={CORES} "
          f"cycles={rec['cycles']} timed={rec['timed_s']:.1f}s "
          f"wall={time.time() - started:.1f}s")
    for n, u in END_TO_END:
        print(f"  {n:30s} {fmt(e2e[n]):>12s} {u}")
    for k, v in rec["summary"].items():
        print(f"  {'view.' + k:30s} {fmt(v):>12s}")
    print(f"  {'failed_ratio':30s} {fmt(failed / attempted):>12s} "
          f"({failed} of {attempted} ops)")
    for n in notes:
        print(f"  check: {n}")
    verdict = failed == 0
    print(f"  verdict: {'correct' if verdict else 'WRONG'}")

    untraced = OUT / f"{a.workload}-last-untraced.json"
    if a.trace == 0:
        untraced.write_text(json.dumps({"op_p50_ms": rec["summary"]["op_p50_ms"]}))
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    else:
        layers = rec["per_layer"]
        table = out_dir / "layers.tsv"
        with open(table, "w") as f:
            f.write("op_kind\tmetric\trun_sum\tper_op_median\tops\n")
            for row in rec["layer_table"]:
                f.write("\t".join(fmt(x) for x in row) + "\n")
        print(f"  per-layer table: {table}")
        print(f"  spans: {out_dir / 'spans.jsonl'}")
        if untraced.exists():
            base = json.loads(untraced.read_text())["op_p50_ms"]
            print(f"  tracing overhead: op p50 {layers['trace.op_p50_ms']:.1f} ms "
                  f"traced vs {base:.1f} ms untraced "
                  f"({100 * (layers['trace.op_p50_ms'] / base - 1):+.1f}%)")
        print(f"  unattributed share of op time: "
              f"{100 * layers['trace.unattributed_share']:.2f}%")
        metrics = {n: {"value": layers[n], "unit": u}
                   for n, u in rec["per_layer_units"].items()}
    spec = ROOT / "BENCHMARK.json"
    if spec.exists():
        key = "per_layer" if a.trace else "end_to_end"
        want = [m["name"] for m in json.loads(spec.read_text())[key]]
        if sorted(want) != sorted(metrics):
            sys.exit(f"metrics {sorted(metrics)} differ from BENCHMARK.json's {key}")
    print(json.dumps({"correct": verdict, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def run_all(a):
    """Every workload, untraced then traced; returns 0 when all are correct."""
    rows, ok = [], True
    for w in WORKLOADS:
        for trace in (0, 1):
            out = subprocess.run([sys.executable, __file__, "--workload", w,
                                  "--seed", str(a.seed), "--seconds", str(a.seconds),
                                  "--trace", str(trace)], capture_output=True, text=True)
            lines = out.stdout.strip().splitlines()
            print(out.stdout, end="")
            if out.returncode != 0 or not lines:
                print(out.stderr, file=sys.stderr)
                ok = False
                continue
            res = json.loads(lines[-1])
            ok = ok and res["correct"]
            if trace == 0:
                rows += [(w, n, m["value"], m["unit"]) for n, m in res["metrics"].items()]
            rows.append((w, f"failed_ratio (trace {trace})",
                         res["failed"] / res["attempted"], "ratio"))
    print("\n== end-to-end metrics (untraced) and failed ratios (both runs)")
    for w, n, v, u in rows:
        print(f"  {w:14s} {n:28s} {fmt(v):>12s} {u}")
    print(f"  verdict: {'correct' if ok else 'WRONG'}")
    return 0 if ok else 1


if __name__ == "__main__":
    main()
