#!/usr/bin/env python3
"""The repository's benchmark: one workload per invocation.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. It builds the engine and the JVM harness
from source (perfbench/build.py), generates the workload's inputs from
the seed, sets up SETUPS times, each in a fresh JVM, runs the timed
window in the last of those JVMs, checks the outputs, and prints one JSON object as the last line of
stdout: `correct`, `attempted`, `failed` and `metrics`. With `--trace 0`
the metrics are the end-to-end ones; with `--trace 1` the window
alternates untraced and traced passes and the metrics are the per-layer
ones. Workloads and metrics are listed in BENCHMARK.json.

Every file it writes stays under the build directory (`.bench_build`,
or $CARGO_TARGET_DIR); each invocation's state lives in its own
directory there and is removed at exit.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import statistics
import subprocess
import sys
import time

import pyarrow.parquet as pq

HERE = pathlib.Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import build  # noqa: E402
import checks  # noqa: E402
import datagen  # noqa: E402
import workloads  # noqa: E402

ROOT = HERE.parent
CORES = min(4, os.cpu_count() or 1)
# set-ups per run, each in its own JVM so that each pays the cold JIT and
# codegen; `setup_s` is their median and the last one runs the window
SETUPS = 2
# A fixed heap and young generation: with G1 sizing them adaptively, the
# peak resident set of the same run moved by 20% from run to run.
HEAP = ["-Xms2g", "-Xmx2g", "-Xmn512m"]
DEADLINE_S = 175  # a run, after any build, ends within this many seconds

# per-layer metrics that are means per traced op
PER_OP = [
    "construct.ms", "construct.jobs", "catalyst.analysis_ms", "catalyst.optimize_ms",
    "catalyst.plan_ms", "codegen.compiles", "codegen.compile_ms", "exec.ms",
    "exec.driver_ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.cpu_ms", "exec.run_ms",
    "exec.scan_bytes", "exec.shuffle_read_bytes", "exec.shuffle_write_bytes",
    "exec.spill_bytes", "exec.output_bytes", "jvm.gc_ms", "fs.write_ops", "fs.read_ops",
    "fs.bytes_written", "fs.bytes_read",
]
# storage step times: means over the traced ops that take the step
STORAGE_STEPS = [
    "snapshot.backup_ms", "snapshot.backup_incremental_ms", "snapshot.restore_ms",
    "snapshot.export_ms", "snapshot.gc_ms", "backuploop.other_ms",
    "backuploop.read_latest_ms",
]
CLOSURE_TOLERANCE = 0.10


class BenchError(Exception):
    pass


def ratio(num: float, den: float) -> float:
    """num / den, with 0 / 0 read as 0 (nothing done, nothing failed)."""
    if den == 0:
        if num == 0:
            return 0.0
        raise ZeroDivisionError(f"{num} / 0")
    return num / den


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, type=int, choices=[0, 1])
    return p.parse_args(argv)


# ── inputs ───────────────────────────────────────────────────────────

def _input_key() -> str:
    h = hashlib.sha256((HERE / "datagen.py").read_bytes())
    h.update(repr((workloads.SCALE, workloads.BACKUP_TICKS, workloads.BACKUP_WINDOW_DAYS,
                   workloads.BACKUP_ROWS_PER_DAY, workloads.BACKUP_CHANGED_PER_TICK,
                   workloads.BACKUP_KEEP_DAYS)).encode())
    return h.hexdigest()[:16]


def prepare_inputs(build_dir: pathlib.Path, seed: int, workload: str) -> pathlib.Path:
    """Generated inputs for (seed, workload), cached by content key."""
    kind = "backup" if workload == "backup_cycle" else "tables"
    out = build_dir / "inputs" / _input_key() / f"{kind}-seed{seed}"
    if out.is_dir():
        return out
    tmp = out.with_name(out.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    if kind == "tables":
        datagen.write_tables(datagen.make_tables(seed, workloads.SCALE), tmp)
    else:
        versions, ticks = datagen.backup_ticks(
            seed, workloads.BACKUP_TICKS, workloads.BACKUP_WINDOW_DAYS,
            workloads.BACKUP_ROWS_PER_DAY, workloads.BACKUP_CHANGED_PER_TICK,
            workloads.BACKUP_KEEP_DAYS)
        datagen.write_tables(versions, tmp)
        (tmp / "ticks.json").write_text(json.dumps(ticks))
    try:
        tmp.rename(out)
    except OSError:  # another invocation made it first
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def plan_entries(args, inputs: pathlib.Path, state: pathlib.Path):
    entries = {
        "workload": args.workload, "data_dir": str(inputs), "state_dir": str(state),
        "seconds": str(args.seconds),
        "trace": str(args.trace), "cores": str(CORES),
        "warm_passes": str(workloads.WARM_PASSES[args.workload]),
    }
    if args.workload == "backup_cycle":
        ticks = json.loads((inputs / "ticks.json").read_text())
        routes = workloads.restore_routes(args.seed, len(ticks))
        entries.update({"ticks": str(len(ticks)), "keep_days": str(workloads.BACKUP_KEEP_DAYS),
                        "orders": "1", "order.0": "tick"})
        for t, keys in enumerate(ticks):
            entries[f"tick.{t}"] = ",".join(str(inputs / f"{k}.parquet") for k in keys)
            entries[f"tick.{t}.read"] = routes[t]
    else:
        names = workloads.QUERY_WORKLOADS[args.workload]
        orders = workloads.pass_orders(names, args.seed)
        entries["queries"] = ",".join(names)
        entries["orders"] = str(len(orders))
        for k, order in enumerate(orders):
            entries[f"order.{k}"] = ",".join(order)
    return entries


def write_plan(path: pathlib.Path, entries: dict) -> None:
    # java.util.Properties text: values here hold no backslashes or newlines
    for k, v in entries.items():
        if "\\" in v or "\n" in v:
            raise BenchError(f"plan value for {k} is not a plain line: {v!r}")
    path.write_text("".join(f"{k}={v}\n" for k, v in entries.items()))


# ── the JVM ──────────────────────────────────────────────────────────

def run_harness(java, plan: pathlib.Path, out: pathlib.Path, state: pathlib.Path,
                timeout: float):
    """Runs one harness JVM on `plan` and returns the records it wrote to `out`."""
    cmd = [*java, *HEAP, f"-Djava.io.tmpdir={state / 'tmp'}",
           "perfbench.Harness", str(plan)]
    (state / "tmp").mkdir(parents=True, exist_ok=True)
    log = state / "harness.log"
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=state, stdout=err, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise BenchError(f"harness exceeded {timeout:.0f} s")
    if code != 0:
        tail = log.read_text(errors="replace")[-3000:]
        raise BenchError(f"harness exited with {code}:\n{tail}")
    return [json.loads(line) for line in out.read_text().splitlines()]


def run_setups(java, entries: dict, state: pathlib.Path, deadline: float):
    """SETUPS harness JVMs in turn; the last one also runs the window.
    Each record is tagged with the index of the JVM that wrote it."""
    records = []
    for k in range(SETUPS):
        plan, out = state / f"plan{k}.properties", state / f"records{k}.jsonl"
        write_plan(plan, {**entries, "setup_index": str(k), "out": str(out),
                          "window": str(int(k == SETUPS - 1))})
        got = run_harness(java, plan, out, state, max(deadline - time.monotonic(), 30))
        records += [{**r, "jvm": k} for r in got]
    return records


# ── checks and metrics ───────────────────────────────────────────────

def run_checks(args, records, inputs: pathlib.Path):
    """{check name: failure or None}, and the op names whose check failed.
    The outputs checked are those of the set-up that ran the window."""
    last = max(r["jvm"] for r in records)
    records = [r for r in records if r["jvm"] == last]
    check_dir = pathlib.Path(next(r for r in records if r["kind"] == "setup")["check_dir"])
    if args.workload == "backup_cycle":
        ticks = json.loads((inputs / "ticks.json").read_text())
        tables = [pq.read_table(inputs / f"{k}.parquet") for k in ticks[1]]
        verdicts = checks.check_backup(check_dir, tables)
        # outputs the harness could not even compute
        verdicts.update({r["name"]: r["error"] for r in records if r["kind"] == "check_error"})
        bad_ops = set()
        if verdicts["restored"]:
            bad_ops |= {"backup_all", "backup_incremental", "restore"}
        if verdicts["latest"]:
            bad_ops |= {"backup_all", "read_latest"}
        return verdicts, bad_ops
    names = workloads.QUERY_WORKLOADS[args.workload]
    verdicts = checks.check_queries(names, check_dir, inputs)
    return verdicts, {n for n, why in verdicts.items() if why}


def window_ops(records, bad_ops):
    ops = [r for r in records if r["kind"] == "op" and r["pass"] >= 0]
    valid = [r for r in ops if r["ok"] and r["name"] not in bad_ops]
    return ops, valid


def op_p50(ops) -> float:
    """Median over op names of each name's median latency: every op of a
    workload weighs the same, and no single slow or fast sample between
    two ops' latency clusters sets the figure."""
    by_name = {}
    for r in ops:
        by_name.setdefault(r["name"], []).append(r["wall_s"])
    return statistics.median(statistics.median(v) for v in by_name.values())


def end_to_end(records, valid):
    window = next(r for r in records if r["kind"] == "window")
    untraced = [r for r in valid if not r["traced"]]
    if not untraced:
        raise BenchError("no op completed in the timed window")
    return {
        "ops_per_s": (len(untraced) / window["wall_s"], "1/s"),
        "op_p50_s": (op_p50(untraced), "s"),
        "rss_peak_mb": ([r for r in records if r["kind"] == "end"][-1]["rss_peak_mb"], "MB"),
        "setup_s": (statistics.median(r["setup_s"] for r in records if r["kind"] == "setup"), "s"),
    }


def storage_self_ms(layers: dict) -> float:
    """Wall time of an op's storage spans outside the Spark work in them:
    the storage modules' own driver-side file work."""
    return layers.get("storage.wall_ms", 0.0) - layers["storage.spark_ms"]


def closure(layers: dict, wall_ms: float) -> float:
    """Sum of an op's layer self-times over its traced wall time:
    construction (which holds the final DataFrame's analysis), the
    planning phases of the later executions, their jobs, their
    Spark-driver time outside jobs, and the storage modules' self-time.
    The named storage step times are a breakdown of the storage spans
    by step, so they are not added."""
    exec_analysis = layers["catalyst.analysis_ms"] - layers.get("construct.analysis_ms", 0.0)
    total = (layers.get("construct.ms", 0.0) + exec_analysis
             + layers["catalyst.optimize_ms"] + layers["catalyst.plan_ms"]
             + layers["exec.ms"] + layers["exec.driver_ms"] + storage_self_ms(layers))
    return ratio(total, wall_ms)


def per_layer(records, ops, valid):
    traced = [r for r in records if r["kind"] == "layers"]
    if not traced:
        raise BenchError("no traced op completed")
    m = {}
    for k in PER_OP:
        unit = "ms" if k.endswith("ms") else "bytes" if "bytes" in k else "count"
        m[k] = (sum(r["layers"].get(k, 0.0) for r in traced) / len(traced), unit)
    m["storage.self_ms"] = (sum(storage_self_ms(r["layers"]) for r in traced) / len(traced),
                            "ms")
    for k in STORAGE_STEPS:
        took = [r["layers"][k] for r in traced if k in r["layers"]]
        m[k] = (sum(took) / len(took) if took else 0.0, "ms")
    ratios = [r["layers"]["snapshot.incremental_rewrite_ratio"] for r in traced
              if "snapshot.incremental_rewrite_ratio" in r["layers"]]
    m["snapshot.incremental_rewrite_ratio"] = (
        sum(ratios) / len(ratios) if ratios else 0.0, "ratio")
    run_ms = sum(r["layers"]["exec.run_ms"] for r in traced)
    wall_ms = sum(r["wall_s"] * 1000 for r in traced)
    m["exec.slot_busy_ratio"] = (ratio(run_ms, wall_ms * CORES), "ratio")
    closures = [closure(r["layers"], r["wall_s"] * 1000) for r in traced]
    m["trace.closure_ok_ratio"] = (
        sum(abs(c - 1) <= CLOSURE_TOLERANCE for c in closures) / len(closures), "ratio")
    setups = [r for r in records if r["kind"] == "setup"]
    m["codegen.setup_compiles"] = (statistics.median(r["codegen_compiles"] for r in setups), "count")
    end = [r for r in records if r["kind"] == "end"][-1]
    m["storage.files"] = (end["storage_files"], "count")
    ticks = [r for r in records if r["kind"] == "tick" and r["pass"] >= 0]
    m["stored_bytes_per_input_byte"] = (
        statistics.median(r["snapshot_bytes"] / r["input_bytes"] for r in ticks) if ticks else 0.0,
        "ratio")
    untraced = [r for r in valid if not r["traced"]]
    for name, kind in (("write_p50_s", "write"), ("read_p50_s", "read")):
        of_kind = [r for r in untraced if r["op_kind"] == kind]
        m[name] = (op_p50(of_kind) if of_kind else 0.0, "s")
    m["failed_ratio"] = (ratio(len(ops) - len(valid), len(ops)), "ratio")
    window = next(r for r in records if r["kind"] == "window")
    m["host.other_cpu_ratio"] = (window["host_other_cpu_ratio"], "ratio")
    passes = [r for r in records if r["kind"] == "pass"]
    plain = [r["wall_s"] for r in passes if not r["traced"]]
    with_trace = [r["wall_s"] for r in passes if r["traced"]]
    pairs = min(len(plain), len(with_trace))
    m["trace.overhead_ratio"] = (ratio(sum(with_trace[:pairs]), sum(plain[:pairs])),
                                 "ratio")
    m["run.pass_drift_ratio"] = (ratio(plain[-1], plain[0]), "ratio")
    return m


def diagnostics(records) -> str:
    window = next(r for r in records if r["kind"] == "window")
    passes = [round(r["wall_s"], 3) for r in records if r["kind"] == "pass"]
    setups = [tuple(round(r[k], 2) for k in ("setup_s", "session_s", "stage_s", "warm_s"))
              for r in records if r["kind"] == "setup"]
    return (f"# window {window['wall_s']:.3f} s, passes {passes}, "
            f"setups (total, session, stage, warm) {setups}, "
            f"host.other_cpu_ratio {window['host_other_cpu_ratio']:.4f}")


def declared_metrics(trace: int):
    """{name: unit} of the metrics BENCHMARK.json declares for the mode."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv) -> int:
    args = parse_args(argv)
    try:
        java = build.java_command(ROOT)
        started = time.monotonic()  # a build may take longer than one run's deadline
        build_dir = build.build_dir(ROOT)
        inputs = prepare_inputs(build_dir, args.seed, args.workload)
        state = build_dir / "runs" / f"{args.workload}-{os.getpid()}-{time.time_ns()}"
        state.mkdir(parents=True)
        try:
            records = run_setups(java, plan_entries(args, inputs, state), state,
                                 started + DEADLINE_S)
            verdicts, bad_ops = run_checks(args, records, inputs)
        finally:
            shutil.rmtree(state, ignore_errors=True)
        ops, valid = window_ops(records, bad_ops)
        metrics = per_layer(records, ops, valid) if args.trace else end_to_end(records, valid)
        declared = declared_metrics(args.trace)
        if {k: u for k, (_, u) in metrics.items()} != declared:
            raise BenchError(f"metrics {sorted(metrics)} differ from BENCHMARK.json's {sorted(declared)}")
    except (BenchError, build.BuildError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    for name, why in sorted(verdicts.items()):
        if why:
            print(f"# check failed: {name}: {why}", file=sys.stderr)
    for r in ops:
        if not r["ok"]:
            print(f"# op failed: {r['name']}: {r['error']}", file=sys.stderr)
    print(diagnostics(records))
    print(json.dumps({
        "correct": not any(verdicts.values()),
        "attempted": len(ops),
        "failed": len(ops) - len(valid),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
