"""perfbench: the repository's end-to-end and per-layer benchmark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload etl_dashboard --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` runs the same workload
with layer wrappers and Spark's event log on and reports the per-layer
metrics instead. ``perfbench/README.md`` defines every metric.

Everything the run writes goes under ``perfbench/.work/`` in the
checkout, which is emptied before each run.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PKG = "end_to_end_data_engineering_job_listings_etl_spark"
DATA = HERE / "data" / "sf0.001"
WORK = HERE / ".work"


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="minimum length of the timed phase")
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args(argv)


def prepare(trace: bool, cores: int) -> dict[str, Path]:
    """Empty the run's scratch, copy the input tables into it and point
    every temp, local, warehouse and event-log directory there. Must run
    before pyspark is imported."""
    shutil.rmtree(WORK, ignore_errors=True)
    dirs = {k: WORK / k for k in ("tmp", "local", "cwd", "warehouse", "eventlog", "duckdb")}
    for d in dirs.values():
        d.mkdir(parents=True)
    dirs["data"] = WORK / "data"
    shutil.copytree(DATA, dirs["data"])
    for f in dirs["data"].iterdir():
        f.chmod(0o444)
    os.environ["TMPDIR"] = str(dirs["tmp"])
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(dirs["local"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]  # the package's knobs stay at their defaults
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    java = f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['cwd']}"
    conf = [f"spark.sql.warehouse.dir={dirs['warehouse']}", f"spark.driver.defaultJavaOptions={java}"]
    if trace:
        conf += [
            "spark.eventLog.enabled=true",
            f"spark.eventLog.dir=file://{dirs['eventlog']}",
            "spark.eventLog.compress=false",
            "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(f"--conf {shlex.quote(c)}" for c in conf) + " pyspark-shell"
    os.chdir(dirs["cwd"])
    return dirs


def duck_conn(data: Path, spill: Path):
    import duckdb
    from tests.oracle_check import TABLES

    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{spill}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data / (t + '.parquet')}'")
    return con


def shutdown(runner) -> None:
    """Stop the session and the JVM this process launched, and wait for
    it to exit."""
    from pyspark import SparkContext

    if runner is not None and runner.spark is not None:
        runner.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    if not (ROOT / PKG).is_dir() or not (ROOT / "tests" / "oracle_check.py").is_file() or not DATA.is_dir():
        print(f"perfbench: {ROOT} is not a checkout of the engine (no {PKG}/ or tests/oracle_check.py)", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    dirs = prepare(bool(args.trace), cores)
    sys.path.insert(0, str(ROOT))

    tracer = None
    if args.trace:
        from tracer import Tracer

        tracer = Tracer()
        tracer.install()  # before registry is imported
    from workloads import Runner, end_to_end

    runner = None
    try:
        runner = Runner(str(dirs["data"]), cores, lambda: duck_conn(dirs["data"], dirs["duckdb"]), tracer)
        res = runner.run(args.workload, args.seed, args.seconds)
    finally:
        shutdown(runner)

    (WORK / "ops.json").write_text(json.dumps([vars(op) for op in res.ops], indent=0))
    errors = [op for op in res.ops if op.failed]
    for op in errors:
        print(f"FAILED {op.phase} {op.name}: {op.error or op.mismatch}", file=sys.stderr)
    attempted, failed = len(res.ops), len(errors)
    samples = sum(op.phase != "etl" for op in res.timed)
    if args.trace:
        from eventlog import parse
        from layers import UNITS, layer_metrics

        log = parse(str(dirs["eventlog"] / res.app_id))
        values = layer_metrics(res, tracer.dump(), log, cores, samples, attempted, failed)
        values["trace.overhead_s"] = tracer.overhead_s + res.pinned_probe_s
        (WORK / "spans.json").write_text(json.dumps(tracer.dump()))
        metrics = {k: {"value": values[k], "unit": u} for k, u in UNITS.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(res).items()}
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cycles": len(res.cycles),
        "samples": samples,
        "start_warm_s": (res.start_s, res.warm_s),
        "jvm_heap_nonheap_py_mb": (*res.jvm_split_mb, res.py_rss_mb),
        "gc_probe_s": res.gc_probe_s,
        "verify_s": res.verify_s,
        "failed_ops": sorted({op.name for op in errors}),
    }
    print(json.dumps(summary))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
