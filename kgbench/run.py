#!/usr/bin/env python3
"""KG-construction benchmark: one command for every workload.

    python3 kgbench/run.py --workload batch_cold --seed 42 --seconds 10 --trace 0

Builds the program and the benchmark from source (kgbench/build.py), starts
one JVM with the pinned session config (kgbench/session.json) and relays its
per-op readings. The last line of stdout is the result record, holding the
end-to-end metrics of BENCHMARK.json with --trace 0 and the per-layer ones
with --trace 1. Exits non-zero when the build fails, the run fails or an
output check fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import threading

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
HERE = ROOT / "kgbench"
WORKLOADS = ("batch_cold", "resume_dense", "serve_closed")
# a run may take 180 s, a build included on the first run of a checkout
RUN_LIMIT_S = 170


def fail(msg: str) -> None:
    print(f"kgbench: {msg}", file=sys.stderr)
    print(f"kgbench: no result ({msg})")
    sys.exit(1)


def metric_specs(trace: int) -> dict:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    try:
        specs = metric_specs(a.trace)
        jar = build.build()
        jars = build.spark_jars()
        java = build.java()
    except (build.BuildError, OSError, ValueError, KeyError) as e:
        fail(str(e))

    cfg = json.loads((HERE / "session.json").read_text())
    work = build.BUILD / "work" / a.workload
    local = ROOT / cfg["local_dir"]
    for d in (work, local):
        shutil.rmtree(d, ignore_errors=True)
        d.mkdir(parents=True)
    cmd = [java]
    for p in cfg["add_opens"]:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += cfg["jvm"]
    # class-data sharing: the first run of a build dumps the classes it
    # loaded, later runs map them instead of loading Spark afresh
    jsa = jar.parent / "kgbench.jsa"
    dump = jar.parent / f"kgbench.jsa.{os.getpid()}"
    if jsa.is_file():
        cmd.append(f"-XX:SharedArchiveFile={jsa}")
    else:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump}")
    cmd += [f"-D{k}={v}" for k, v in cfg["spark"].items()]
    cmd += [f"-Dspark.local.dir={local}",
            f"-Dkgbench.master={cfg['master']}",
            f"-Dkgbench.single_core_master={cfg['single_core_master']}",
            "-cp", f"{jar}{os.pathsep}{jars}/*", "graftbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", str(work)]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)

    def kill() -> None:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()

    def stop(*_) -> None:
        kill()
        sys.exit(1)
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    # a JVM that hangs without printing must not hang the benchmark
    expired = threading.Event()

    def expire() -> None:
        expired.set()
        kill()
    watchdog = threading.Timer(RUN_LIMIT_S, expire)
    watchdog.start()
    last = None
    try:
        for line in proc.stdout:
            line = line.rstrip("\n")
            if line.startswith('{"correct"'):
                last = line
            elif line:
                print(line, flush=True)
        proc.wait()
    finally:
        watchdog.cancel()
        kill()
    if expired.is_set():
        fail(f"run exceeded {RUN_LIMIT_S} s")
    shutil.rmtree(local, ignore_errors=True)
    if dump.is_file():
        os.replace(dump, jsa)

    if last is None:
        fail(f"the JVM exited with {proc.returncode} without a result")
    res = json.loads(last)
    got = res["metrics"]
    missing = [k for k in specs if k not in got]
    if missing:
        fail(f"metrics missing from the run: {missing}")
    bad = [k for k, u in specs.items() if got[k]["unit"] != u
           or not isinstance(got[k]["value"], (int, float))]
    if bad:
        fail(f"metrics without a value or with another unit than in "
             f"BENCHMARK.json: {bad}")
    out = {"correct": bool(res["correct"]) and proc.returncode == 0,
           "attempted": int(res["attempted"]), "failed": int(res["failed"]),
           "metrics": {k: got[k] for k in specs}}
    print(json.dumps(out), flush=True)
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
