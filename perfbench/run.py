#!/usr/bin/env python3
"""Benchmark of the paper's experiment loop and the query surface.

Run from the root of a checkout:

    python3 perfbench/run.py --workload grid|sweep|queries --seed N \
        --seconds S --trace 0|1

The last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones (see perfbench/README.md).

The first run in a checkout compiles the program and the benchmark
(perfbench/build.py) and writes the input tables; both are cached under
.bench_build/perfbench/. `--pin` re-makes perfbench/pins.json from the
current program instead of running a workload (of one workload, with
--workload).
"""
import argparse
import json
import signal
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
PINS = HERE / "pins.json"
WORKLOADS = ["experiment", "queries"]
VARIANTS = 4           # must match perfbench.Main.Variants
SF = "0.01"            # scale factor of the input tables
HEAP = "4g"
JVM_TIMEOUT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def java(classes, args, log):
    cmd = ["java", *build.JVM_FLAGS(WORK), *build.JDK17_OPENS, f"-Xmx{HEAP}",
           "-cp", build.classpath(classes), "perfbench.Main", *args]
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, stdout=err, stderr=subprocess.STDOUT, cwd=WORK)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"timed out after {JVM_TIMEOUT_S}s: {' '.join(args[:3])}; log {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = log.read_text(errors="replace").splitlines()[-25:]
        fail(f"exit {rc}: {' '.join(args[:3])}\n" + "\n".join(tail))


def data_dir(classes):
    """Input tables at SF, generated once per generator version."""
    d = WORK / f"data-sf{SF}-{build.digest([HERE / 'src' / 'perfbench' / 'Gen.scala'])}"
    if not (d / "_DONE").exists():
        java(classes, ["gen", str(d), SF], WORK / "logs" / "gen.log")
        (d / "_DONE").write_text("")
    return d


def run_jvm(classes, data, workload, seed, seconds, trace, pins, tag):
    """Runs one workload in a fresh JVM; returns its result and output path."""
    out = WORK / "out" / f"{workload}-{seed}-{tag}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.unlink(missing_ok=True)
    java(classes, ["run", workload, str(seed), str(seconds), str(trace), str(data),
                   str(WORK / "jvm" / f"{workload}-{tag}"), str(pins), str(out)],
         WORK / "logs" / f"{workload}-{seed}-{tag}.log")
    return json.loads(out.read_text()), out


def pin(classes, data, workloads):
    """Pins the outputs of each variant of `workloads` from this program."""
    empty = WORK / "no-pins.json"
    empty.write_text("{}")
    pins = json.loads(PINS.read_text()) if PINS.exists() else {}
    for w in workloads:
        pins[w] = {}
        for v in range(VARIANTS):
            _, out = run_jvm(classes, data, w, v, 0, 0, empty, "pin")
            observed = json.loads(Path(str(out) + ".observed.json").read_text())
            pins[w][str(v)] = observed
            print(f"pinned {w} variant {v}: {len(observed)} outputs", file=sys.stderr)
    PINS.write_text(json.dumps(pins, indent=1, sort_keys=True) + "\n")


def main():
    # a terminated run stops its JVM too (see the finally in java())
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--pin", action="store_true")
    args = p.parse_args()
    if not args.pin and args.workload is None:
        p.error("--workload is required")
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").exists():
        fail(f"no program sources under {ROOT / 'src/main/scala'}; "
             "run from the root of a checkout")
    if not args.pin and not PINS.exists():
        fail(f"{PINS} is missing; make it with --pin")
    WORK.mkdir(parents=True, exist_ok=True)
    classes = build.build(ROOT, WORK)
    data = data_dir(classes)
    if args.pin:
        pin(classes, data, [args.workload] if args.workload else WORKLOADS)
    else:
        tag = "trace" if args.trace else "run"
        result, _ = run_jvm(classes, data, args.workload, args.seed, args.seconds,
                            args.trace, PINS, tag)
        print(json.dumps(result))


if __name__ == "__main__":
    main()
