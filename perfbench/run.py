#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-check

Run from the repository root. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt) and caches the
classpath in perfbench/.build; inputs are generated from the seed under
perfbench/.work. The JVM runs the workload (perfbench.Main) and writes its
measurements; this script finishes the DuckDB checks and prints, as its
last stdout line, {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics of BENCHMARK.json (--trace 0) or its per-layer metrics
(--trace 1). See perfbench/workloads.json for what each workload measures.
"""
import argparse
import contextlib
import glob
import hashlib
import io
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # imports (gen, tools/check.py) leave no caches behind
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
REGISTRY_DATA_SEED = 42  # registry tables are fixed; the run seed shuffles the order

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# input sizes: normal runs, and the tiny self-check
SIZES = {
    False: {"corpus_files_per_lang": 2, "corpus_lines_per_file": 1500,
            "annotate_batches_per_slice": 8, "stream_files": 1, "stream_rows_per_file": 2000},
    True: {"corpus_files_per_lang": 1, "corpus_lines_per_file": 60,
           "annotate_batches_per_slice": 2, "stream_files": 1, "stream_rows_per_file": 100},
}
# layers only one workload calls; every other layer is measured on all
LAYER_OWNER = {"construct": "registry", "stream": "registry", "ingest": "corpus_pipeline",
               "dash": "corpus_pipeline", "report": "corpus_pipeline", "annotate": "corpus_pipeline"}
ANNOTATE_BATCH = 16
# outputs the self-check spoils per workload, one per check: registry a
# query result and the stream gate's good sink; corpus_pipeline a dashboard
# aggregate and the enrichment's tags
CORRUPTED = 2


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def nproc():
    """CPUs this process may run on (the JVM sizes local[N] from it)."""
    try:
        return len(os.sched_getaffinity(0))
    except (AttributeError, OSError):
        return os.cpu_count()


def sources_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness (if sources changed) and return the classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) not found; "
                         "run from the repository root")
    stamp = sources_stamp()
    cp_file, stamp_file = os.path.join(BUILD, "classpath.txt"), os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    log("perfbench: building (sbt compile) ...")
    p = subprocess.run(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, capture_output=True,
                       text=True, timeout=BUILD_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "classes" not in lines[-1]:
        log(p.stdout[-4000:], p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1].strip()


def generate(workload, seed, tiny, data):
    """Write the workload's inputs under `data`; return their description."""
    import gen
    import pyarrow as pa
    import pyarrow.parquet as pq
    sz = SIZES[tiny]
    if workload == "registry":
        tables = os.path.join(WORK, f"tables-{REGISTRY_DATA_SEED}")
        if not os.path.exists(os.path.join(tables, "_done")):
            shutil.rmtree(tables, ignore_errors=True)
            gen.tables(tables, REGISTRY_DATA_SEED)
            open(os.path.join(tables, "_done"), "w").close()
        os.symlink(tables, os.path.join(data, "tables"))
        os.makedirs(os.path.join(data, "stream"))
        for k, t in enumerate(gen.stream_events(seed, sz["stream_files"], sz["stream_rows_per_file"])):
            pq.write_table(t, os.path.join(data, "stream", f"f{k:05d}.parquet"))
        return {"tables": dict(gen.ROWS), "data_seed": REGISTRY_DATA_SEED,
                "stream_files": sz["stream_files"], "stream_rows_per_file": sz["stream_rows_per_file"]}
    if workload == "corpus_pipeline":
        n = gen.corpus(data, seed, sz["corpus_files_per_lang"], sz["corpus_lines_per_file"])
        size = sum(os.path.getsize(f) for f in glob.glob(os.path.join(data, "input", "*", "*.csv")))
        # the enrichment sample, posted to the loopback De-bias stub
        docs, fail_keys = gen.annotate_docs(seed, nproc(), sz["annotate_batches_per_slice"],
                                            ANNOTATE_BATCH)
        os.makedirs(os.path.join(data, "annotate"))
        pq.write_table(pa.Table.from_pylist(docs, schema=pa.schema([
            ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
            ("source", pa.string()), ("n_chars", pa.int64())])),
            os.path.join(data, "annotate", "docs.parquet"))
        with open(os.path.join(data, "annotate", "fail_keys.json"), "w") as f:
            json.dump(fail_keys, f)
        return {"records": n, "bytes": size, "languages": len(gen.CORPUS_LANGS),
                "files": len(gen.CORPUS_LANGS) * sz["corpus_files_per_lang"],
                "annotate_docs": len(docs), "annotate_failing_batches": len(fail_keys)}
    raise SystemExit(f"perfbench: unknown workload {workload}")


def check_registry(checks, res):
    """tools/check.py's compare over the dumped sample of queries."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check.main(checks["registry_tables_dir"], checks["registry_verify_dir"])
    for line in out.getvalue().splitlines():
        if ": " not in line:  # the summary line
            continue
        flag, (name, status) = line[:2], line[3:].split(": ", 1)
        res["attempted"] += 1
        if flag == "!!":
            res["failed"] += 1
            res["failures"].append(f"registry oracle {name}: {status[:200]}")


def check_corpus(checks, res):
    """Recompute ingest + the dashboard views with DuckDB from the files."""
    import duckdb
    import pyarrow as pa
    root = checks["corpus_input"]
    white = set(checks["whitelist"])
    docs = {"doc_id": [], "text": [], "lang": [], "source": [], "n_chars": []}
    for path in sorted(glob.glob(os.path.join(root, "*", "*.csv"))):
        lang = os.path.basename(os.path.dirname(path))
        if lang not in white:
            continue
        with open(path, encoding="utf-8") as f:
            for line in f.read().split("\n"):
                if not line.strip():
                    continue
                docs["doc_id"].append(int(line.split(",", 1)[0]))
                docs["text"].append(line)
                docs["lang"].append(lang)
                docs["source"].append(os.path.basename(path)[:-4])
                docs["n_chars"].append(len(line))
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.register("documents", pa.table(docs))
    got = checks["corpus"]

    def same(name, expect):
        res["attempted"] += 1
        if name not in got:  # its interaction failed (already counted)
            res["failed"] += 1
            res["failures"].append(f"corpus {name}: no engine result")
        elif sorted(map(tuple, got[name])) != sorted(map(tuple, expect)):
            res["failed"] += 1
            res["failures"].append(f"corpus {name}: engine {got[name][:5]} != duckdb {expect[:5]}")

    for k in ("issue_distribution", "record_distribution", "languages"):
        same(k, [list(r) for r in con.execute(checks[f"oracle_{k}"]).fetchall()])
    tag_rows, sources = con.execute(
        f"WITH {checks['flat_sql']} SELECT count(*), count(DISTINCT source) FROM doc_tags").fetchone()
    res["attempted"] += 1
    report_dir = os.path.join(got["dir"], "report_txt")
    lines = 0
    for p in glob.glob(os.path.join(report_dir, "source=*", "*.txt")):
        with open(p, encoding="utf-8") as f:
            lines += sum(1 for _ in f)
    pdfs = len(glob.glob(os.path.join(got["dir"], "report_pdf", "*.pdf")))
    if got["report_lines"] != tag_rows or lines != tag_rows + sources or pdfs != sources:
        res["failed"] += 1
        res["failures"].append(f"corpus report: engine {got['report_lines']} rows / {lines} lines / "
                               f"{pdfs} pdfs, duckdb {tag_rows} rows over {sources} sources")


def run_jvm(cp, args, data, corrupt):
    out = os.path.join(data, "result.json")
    tmp = os.path.join(data, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", *ADD_OPENS, "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--out", out, "--cores", str(nproc()),
            "--corrupt", "1" if corrupt else "0"])
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        stdout, _ = p.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("perfbench: workload timed out")
    finally:
        if p.poll() is None:  # timed out, or this script was interrupted
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    if stdout:
        sys.stdout.write(stdout)
    if p.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: workload exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def bench(args, tiny=False, corrupt=False):
    """One run; `tiny` and `corrupt` (CORRUPTED outputs spoiled before the
    checks) are for the self-check."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.workload not in names:
        raise SystemExit(f"perfbench: workload must be one of {names}")
    cp = build()
    sys.path.insert(0, HERE)
    data = os.path.join(WORK, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(data, ignore_errors=True)
    os.makedirs(data)
    try:
        t0 = time.monotonic()
        inputs = generate(args.workload, args.seed, tiny, data)
        t1 = time.monotonic()
        res = run_jvm(cp, args, data, corrupt)
        t2 = time.monotonic()
        checks = res.pop("checks")
        if args.workload == "registry":
            check_registry(checks, res)
        elif args.workload == "corpus_pipeline":
            check_corpus(checks, res)
        res["context"].update(generate_s=t1 - t0, jvm_s=t2 - t1, duckdb_check_s=time.monotonic() - t2)
        res["metrics"]["failed_frac"] = res["failed"] / max(res["attempted"], 1)
        traces = glob.glob(os.path.join(data, "trace-*.json"))
        if traces:
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            shutil.copy(traces[0], os.path.join(WORK, "traces", os.path.basename(traces[0])))
    finally:
        shutil.rmtree(data, ignore_errors=True)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if args.trace:
        # a layer the workload never calls reads zero
        for m in wanted:
            layer = m["name"].split(".")[0]
            if LAYER_OWNER.get(layer, args.workload) != args.workload:
                res["metrics"].setdefault(m["name"], 0.0)
    missing = [m["name"] for m in wanted if m["name"] not in res["metrics"]]
    if missing:
        raise SystemExit(f"perfbench: metrics not measured: {missing}")
    ctx = dict(res["context"], inputs=inputs, failures=res["failures"])
    print("context " + json.dumps(ctx, sort_keys=True))
    for cause in res["failures"]:
        log("perfbench: failure: " + cause)
    return {"correct": res["failed"] == 0 and res["attempted"] > 0,
            "attempted": int(res["attempted"]), "failed": int(res["failed"]),
            "metrics": {m["name"]: {"value": res["metrics"][m["name"]], "unit": m["unit"]}
                        for m in wanted}}


def self_check():
    """Every workload on tiny inputs, both modes: all metrics print with
    their units; every corrupted output must come back as a failure."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    problems = []
    for w in (w["name"] for w in spec["workloads"]):
        for trace, corrupt in ((0, False), (1, False), (0, True)):
            a = argparse.Namespace(workload=w, seed=1, seconds=2, trace=trace)
            with contextlib.redirect_stdout(io.StringIO()):
                r = bench(a, tiny=True, corrupt=corrupt)
            want = spec["per_layer"] if trace else spec["end_to_end"]
            units = {m["name"]: m["unit"] for m in want}
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != units:
                problems.append(f"{w} trace={trace}: metrics {sorted(got)} != {sorted(units)}")
            if corrupt and (r["correct"] or r["failed"] < CORRUPTED):
                problems.append(f"{w}: {CORRUPTED} corrupted outputs, {r['failed']} failures reported")
            if not corrupt and not r["correct"]:
                problems.append(f"{w} trace={trace}: incorrect on tiny input ({r['failed']} failed)")
            log(f"self-check {w} trace={trace} corrupt={corrupt}: correct={r['correct']} "
                f"attempted={r['attempted']} failed={r['failed']}")
    for p in problems:
        log("self-check: " + p)
    print(json.dumps({"self_check": "ok" if not problems else "failed", "problems": problems}))
    return 0 if not problems else 1


def main():
    # SIGTERM unwinds like an exception, so the JVM's process group is killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()
    if args.self_check:
        return self_check()
    if not args.workload:
        ap.error("--workload is required")
    print(json.dumps(bench(args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
