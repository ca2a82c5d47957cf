#!/usr/bin/env python3
"""graft benchmark runner.

Runs one workload of the engine in a fresh JVM on local[nproc] and prints,
as its last stdout line, one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads and their frozen inputs are in perfbench/workloads.json; metric
names, units and directions in BENCHMARK.json. `--trace 0` reports the
end-to-end metrics of an untraced run. `--trace 1` attaches a SparkListener,
a QueryExecutionListener and a StreamingQueryListener, reports the per-layer
metrics, and repeats the window untraced to report the tracing overhead.
Spans of a traced run are written next to the run record under
.bench_build/results/.

The engine is compiled from this checkout's sources on first use
(perfbench/build.py). Inputs are the read-only scale-factor tables named by
`sf_dir` in perfbench/workloads.json (--sf-dir overrides); everything the
run writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
BENCH = Path(__file__).resolve().parent
JVM_TIMEOUT_S = 170
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def steal_jiffies() -> int:
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) if len(cpu) > 8 else 0


def load_avg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def other_jvms() -> list:
    """Every java process alive now (recorded only; never acted on)."""
    found = []
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            cmd = (d / "cmdline").read_bytes().split(b"\0")
        except OSError:
            continue
        if cmd and cmd[0].endswith(b"java"):
            found.append({"pid": int(d.name), "cmd": b" ".join(cmd)[:160].decode(errors="replace")})
    return found


def java_version() -> str:
    r = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=60)
    return (r.stderr or r.stdout).splitlines()[0] if (r.stderr or r.stdout) else ""


def run_jvm(cp: str, work: Path, jvm_args: list, timeout: float) -> dict:
    """Runs the harness; returns its last stdout JSON line."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main"] + jvm_args)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"harness did not finish within {timeout} s")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        fail(f"harness exited with {proc.returncode}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if not lines:
        fail("harness printed no result")
    return json.loads(lines[-1])


def main() -> None:
    # Terminated, this process still stops and reaps the JVM (finally blocks run).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", help="scale-factor tables (default: sf_dir in workloads.json)")
    ap.add_argument("--mode", choices=("run", "classify", "record"), default="run",
                    help="classify: probe the whole board; record: expected outputs of "
                         "the workload's queries")
    ap.add_argument("--out", help="output file of classify/record modes")
    args = ap.parse_args()

    bench_file = ROOT / "BENCHMARK.json"
    if not bench_file.is_file():
        fail(f"{bench_file} not found")
    spec = json.loads((BENCH / "workloads.json").read_text())
    bench = json.loads(bench_file.read_text())
    if args.mode == "run" and args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}")
    sf_dir = Path(args.sf_dir or spec["sf_dir"])
    if not (sf_dir / "lineitem.parquet").exists():
        fail(f"scale-factor tables not found in {sf_dir}")

    cp = build.build()
    cores = len(os.sched_getaffinity(0))  # nproc
    wl = spec["workloads"].get(args.workload, {})
    queries = wl.get("queries", [])
    expected = BENCH / "expected" / f"{sf_dir.name}.tsv"
    runs = build.BUILD / "runs"
    work = runs / f"{args.workload}-{args.seed}-{os.getpid()}"
    results = build.BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    record = results / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)

    context = {"seed": args.seed, "workload": args.workload, "seconds": args.seconds,
               "trace": args.trace, "sf_dir": str(sf_dir), "nproc": cores,
               "java": java_version(), "other_jvms_at_start": other_jvms(),
               "load_avg_before": load_avg(), "steal_jiffies_before": steal_jiffies()}
    t0 = time.time()
    try:
        res = run_jvm(cp, work, [
            "--mode", args.mode, "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace), "--sf-dir", str(sf_dir),
            "--work", str(work), "--cores", str(cores), "--queries", ",".join(queries) or ",",
            "--per-query", ",".join(wl.get("per_query", [])) or ",",
            "--expected", str(expected), "--out", str(Path(args.out).resolve()) if args.out else str(record)],
            JVM_TIMEOUT_S if args.mode == "run" else 3600)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    context.update({"load_avg_after": load_avg(), "steal_jiffies_after": steal_jiffies(),
                    "jvm_wall_s": time.time() - t0, "spark_conf": res.pop("spark_conf", {})})
    if args.mode != "run":
        return

    # Units come from BENCHMARK.json. A per-layer metric of a layer this
    # workload does not exercise (per workloads.json) reads 0.
    kind = "per_layer" if args.trace else "end_to_end"
    got = res["metrics"]
    scope = {l["metric"]: l["workloads"] for l in spec["layers"]}
    metrics = {}
    for m in bench[kind]:
        name = m["name"]
        if name in got:
            metrics[name] = {"value": got[name], "unit": m["unit"]}
        elif kind == "per_layer" and args.workload not in scope.get(name, [args.workload]):
            metrics[name] = {"value": 0, "unit": m["unit"]}
        else:
            fail(f"metric {name} missing from the {args.workload} run")
    context["metrics"] = got
    context.update({k: res.get(k) for k in (
        "failures", "detail", "seconds_by_kind", "setup_each_s", "artifact_warm_each_s", "prepare_s")})
    record.with_suffix(".json").write_text(json.dumps(context, indent=1, sort_keys=True))
    print(f"perfbench: {args.workload} seed={args.seed} trace={args.trace} "
          f"record={record.with_suffix('.json')}", file=sys.stderr)
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
