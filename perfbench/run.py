#!/usr/bin/env python3
"""perfbench: the engine's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see README.md):
  etl_bulk     400k seeded devices through the projection extractor; traced
               runs add 10k devices through the HTTP extractor while the
               endpoint refuses a content-chosen quarter of load batches,
               which are spilled and replayed
  catalog_mix  a fixed list of oracle-checked catalog queries at sf0.1

The engine and the benchmark are compiled from source when they changed
(build.py). Each run then starts the benchmark's endpoint JVM (etl_bulk)
and one engine JVM, works in its own temporary directory under
the build directory, checks every output against a computation made apart
from the engine, and prints one JSON object as its last line: the metrics
BENCHMARK.json lists (end-to-end ones with --trace 0, per-layer ones with
--trace 1) and the operations attempted and failed.
"""
import argparse
import json
import os
import pathlib
import shutil
import subprocess
import sys
import time

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

# etl_bulk input: devices through the projection path, devices through the
# HTTP extractor (traced runs), and untimed warm passes (the JIT keeps
# speeding the pipeline up for about that many passes)
BULK_DEVICES, OUTAGE_DEVICES, WARM_PASSES = 400_000, 10_000, 3
WORKLOADS = ["etl_bulk", "catalog_mix"]
FAULTS = ["wrong_value", "drop_record", "dup_record", "reject_count", "catalog_row"]
HEAP = "4g"
TIME_LIMIT_S = 170


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def wait_for(path, proc, timeout):
    t0 = time.time()
    while not path.is_file():
        if proc.poll() is not None or time.time() - t0 > timeout:
            raise SystemExit(f"endpoint did not start (exit {proc.poll()})")
        time.sleep(0.01)


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--fault", choices=FAULTS, help="checker self-test: inject one fault")
    ap.add_argument("--devices", type=int, help="override the bulk input size (outage: a tenth)")
    ap.add_argument("--queries", help="override the catalog query list (comma-separated)")
    args = ap.parse_args()
    root = pathlib.Path.cwd()
    spec = json.loads((root / "BENCHMARK.json").read_text())
    classes, bench, jars = build.build(root)
    t_start = time.time()  # the time limit counts from here: a first build may be slow
    out = build.out_root(root)
    cores = os.cpu_count()
    run_dir = out / "runs" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ["tmp", "local", "frame", "sketch", "index", "input", "spill", "results"]:
        (run_dir / d).mkdir(parents=True)
    cp = f"{classes}:{bench}:{jars}/*"
    procs = []
    load_start = loadavg()
    try:
        engine_args = ["--workload", args.workload, "--seed", str(args.seed),
                       "--seconds", str(args.seconds), "--trace", str(args.trace),
                       "--run-dir", str(run_dir), "--out", str(run_dir / "result.json")]
        if args.workload == "etl_bulk":
            bulk = args.devices or BULK_DEVICES
            outage = args.devices // 10 if args.devices else OUTAGE_DEVICES
            port_file = run_dir / "endpoint.port"
            ep_fault = [args.fault] if args.fault in ("wrong_value", "drop_record", "dup_record") else []
            # the endpoint needs only the Scala library and Jackson
            ep_cp = ":".join([str(bench)] + [str(next(jars.glob(g))) for g in (
                "scala-library-*.jar", "jackson-databind-*.jar", "jackson-core-2*.jar",
                "jackson-annotations-*.jar")])
            procs.append(subprocess.Popen(
                ["java", "-Xmx1g", "-Dsun.net.httpserver.nodelay=true", "-cp", ep_cp, "perfbench.Endpoint",
                 str(port_file), str(args.seed), str(bulk), str(outage), str(cores)] + ep_fault,
                cwd=run_dir, stdout=open(run_dir / "endpoint.log", "w"), stderr=subprocess.STDOUT))
            wait_for(port_file, procs[0], 60)
            engine_args += ["--port", port_file.read_text().strip(), "--bulk-devices", str(bulk),
                            "--outage-devices", str(outage), "--warm-passes", str(WARM_PASSES)]
            if args.fault == "reject_count":
                engine_args += ["--fault", "reject_count"]
        else:
            import oracle
            queries = args.queries.split(",") if args.queries else oracle.QUERIES
            engine_args += ["--data", str(oracle.DATA), "--queries", ",".join(queries),
                            "--stores", ",".join(oracle.STORES[q] for q in queries if q in oracle.STORES)]
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"),
                   SPARK_GRAFT_FRAME_DIR=str(run_dir / "frame"),
                   SPARK_GRAFT_SKETCH_DIR=str(run_dir / "sketch"),
                   SPARK_GRAFT_INDEX_DIR=str(run_dir / "index"))
        # fixed JIT and GC thread counts: the CPU figures leave those threads
        # out, and a thread that exits would take its time with it
        jvm = ["java", f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
               "-XX:-UseDynamicNumberOfGCThreads"] + build.jvm_opens(root) + [
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}", "-cp", cp, "perfbench.BenchMain"]
        log = open(run_dir / "engine.log", "w")
        engine = subprocess.Popen(jvm + engine_args, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        procs.append(engine)
        try:
            code = engine.wait(timeout=max(10, TIME_LIMIT_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            code = "timeout"
        if code != 0:
            sys.stderr.write((run_dir / "engine.log").read_text()[-6000:])
            raise SystemExit(f"engine run failed ({code})")
        res = json.loads((run_dir / "result.json").read_text())
        attempted, failed = int(res["attempted"]), int(res["failed"])

        if args.workload == "catalog_mix":
            import oracle
            orc = oracle.Oracle(root, out / "oracle")
            sqls = json.loads((run_dir / "oracle_sql.json").read_text())
            # timed passes whose result hash differs from the checked result's
            # are failed already; the others repeat the checked result
            mismatches = dict(kv.split("=") for kv in res["mismatches"].split())
            for i, (name, sql) in enumerate(sqls.items()):
                why = orc.check(name, sql, run_dir / "results" / name,
                                fault=(args.fault == "catalog_row" and i == 0))
                if why:
                    sys.stderr.write(f"[perfbench] oracle mismatch: {why}\n")
                    failed += int(res["passes"]) - int(mismatches[name])

        wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
        metrics = {m["name"]: {"value": float(res.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted}
        load_end = loadavg()
        sys.stderr.write(f"[perfbench] {args.workload} seed={args.seed} passes={res['passes']} "
                         f"info={ {k: v for k, v in res.items() if isinstance(v, str)} }\n")
        print(f"loadavg_1m start={load_start:.2f} end={load_end:.2f}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    finally:
        for p in procs:
            if p.poll() is None:
                p.terminate()
                try:
                    p.wait(timeout=10)
                except subprocess.TimeoutExpired:
                    p.kill()
                    p.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
