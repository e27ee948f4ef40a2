"""Self-test of the benchmark harness: two queries per workload, traced
and untraced, at sf0.001.

    python3 perfbench/selftest.py

Each workload runs in a child process of its own (one SparkSession per
process, as in a real run), shrunk to two queries. The test asserts:

- every end-to-end metric of ``BENCHMARK.json`` is in the untraced
  result, and every per-layer metric in the traced one, each with its
  declared unit;
- for each query, build plus action time is within 5% of the wall time
  of the whole step, tagging and tracing included;
- every Spark job of the timed phase is attributed to an operation;
- the layers each workload exercises report work: dims and catalog on
  etl_dashboard, streaming, sources and sinks on ingest_write;
- failures are charged where they happen: a traced run of three
  injected tiles, one whose registry call raises, one whose write
  raises and one whose output differs from its oracle, reads
  plans.failed 1, action.failed 1 and five failed operations of six
  (each tile also fails its untimed check).

Exit code 0 when every check passes.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())

SHRUNK = {
    "etl_dashboard": {"ETL": ("fact_orders",), "TILES": ("bi_top15_employers",), "TILES_PER_CYCLE": 1},
    "ingest_write": {"INGEST": ("stream_dedup", "sink_csv_roundtrip")},
}
# metric -> workload on which it must be above zero in the traced run
MUST_MOVE = {
    "etl_dashboard": ("operators.dims_s", "catalog.load_calls", "plans.build_s", "action.run_s", "spark.jobs", "spark.tasks"),
    "ingest_write": ("streaming.jobs", "streaming.batches", "sources.read_s", "sinks.write_s", "sinks.write_mb", "spark.executor_run_s"),
}


def _fault_build(spark, sf_dir):
    raise RuntimeError("injected build failure")


def _fault_action(spark, sf_dir):
    return spark.range(1).selectExpr("raise_error('injected action failure') AS x")


def _fault_mismatch(spark, sf_dir):
    return spark.range(1).selectExpr("CAST(-1 AS BIGINT) AS total_postings")


FAULTS = {"fault_build": _fault_build, "fault_action": _fault_action, "fault_mismatch": _fault_mismatch}


def child(workload: str, trace: int) -> int:
    """Run one shrunk workload through the real entry point. The
    ``faults`` workload is etl_dashboard with no ETL and the injected
    tiles of FAULTS as its whole stream."""
    sys.path.insert(0, str(HERE))
    import run
    import workloads

    if workload == "faults":
        init = workloads.Runner.__init__

        def with_faults(self, *args, **kwargs):
            init(self, *args, **kwargs)
            self.queries.update(FAULTS)
            self.oracles["fault_mismatch"] = self.oracles["bi_total_postings"]

        workloads.Runner.__init__ = with_faults
        workloads.ETL, workloads.TILES = (), tuple(FAULTS)
        workloads.tile_stream = lambda seed: list(FAULTS)
        workload = "etl_dashboard"
    else:
        for k, v in SHRUNK[workload].items():
            setattr(workloads, k, v)
    return run.main(["--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace)])


def run_child(workload: str, trace: int):
    return subprocess.run(
        [sys.executable, __file__, "--child", workload, str(trace)],
        capture_output=True,
        text=True,
        timeout=600,
    )


def check_faults() -> list[str]:
    out = run_child("faults", 1)
    if out.returncode != 0:
        return [f"faults: exit {out.returncode}\n{out.stderr[-2000:]}"]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    got = {k: result["metrics"][k]["value"] for k in ("plans.failed", "action.failed", "failed_frac")}
    got["attempted"], got["failed"], got["correct"] = result["attempted"], result["failed"], result["correct"]
    want = {"plans.failed": 1, "action.failed": 1, "failed_frac": 5 / 6, "attempted": 6, "failed": 5, "correct": False}
    errors = [f"faults: {k} is {got[k]}, expected {v}" for k, v in want.items() if got[k] != v]
    for name in FAULTS:
        if f" {name}: " not in out.stderr:
            errors.append(f"faults: {name} is not reported on standard error")
    return errors


def check(workload: str, trace: int) -> list[str]:
    out = run_child(workload, trace)
    if out.returncode != 0:
        return [f"{workload} trace={trace}: exit {out.returncode}\n{out.stderr[-2000:]}"]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    errors = []
    if not result["correct"] or result["failed"]:
        errors.append(f"{workload}: {result['failed']} of {result['attempted']} operations failed")
    declared = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    metrics = result["metrics"]
    if set(metrics) != {m["name"] for m in declared}:
        errors.append(f"{workload} trace={trace}: metric names differ: {sorted(set(metrics) ^ {m['name'] for m in declared})}")
    for m in declared:
        got = metrics.get(m["name"])
        if got is None or got["unit"] != m["unit"] or not isinstance(got["value"], (int, float)):
            errors.append(f"{workload} trace={trace}: {m['name']} missing or not in {m['unit']}: {got}")
    if trace:
        ops = json.loads((HERE / ".work" / "ops.json").read_text())
        for op in ops:
            if op["phase"] != "check" and abs(op["build_s"] + op["action_s"] - op["outer_s"]) > 0.05 * op["outer_s"]:
                errors.append(f"{workload}: {op['name']} build+action {op['build_s'] + op['action_s']:.4f}s vs step {op['outer_s']:.4f}s")
        if metrics["trace.unattributed_jobs"]["value"] != 0:
            errors.append(f"{workload}: {metrics['trace.unattributed_jobs']['value']} unattributed jobs")
        for name in MUST_MOVE[workload]:
            if not metrics[name]["value"] > 0:
                errors.append(f"{workload}: {name} is {metrics[name]['value']}, expected > 0")
    return errors


def main() -> int:
    if len(sys.argv) == 4 and sys.argv[1] == "--child":
        return child(sys.argv[2], int(sys.argv[3]))
    errors = []
    for workload in SHRUNK:
        for trace in (0, 1):
            errs = check(workload, trace)
            print(f"{workload} trace={trace}: {'ok' if not errs else 'FAIL'}")
            errors += errs
    errs = check_faults()
    print(f"faults trace=1: {'ok' if not errs else 'FAIL'}")
    errors += errs
    for e in errors:
        print(e, file=sys.stderr)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
