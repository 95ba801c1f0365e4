#!/usr/bin/env python3
"""Benchmark entry point. Run from the root of a checkout:

    python3 perfbench/run.py --workload sql-events --seed 1 --seconds 10 --trace 0

It builds the library and the harness from source (once per checkout),
generates the input tables (once per checkout), runs one workload in one
JVM at local[<cores>], checks every output, and prints the metrics. The
last line of standard output is one JSON object: with `--trace 0` the
end-to-end metrics, with `--trace 1` the per-layer metrics of a traced run.
Build products, data and per-run files live under `.bench_build/` (or
`$CARGO_TARGET_DIR` when set)."""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import checks  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("sql-events", "iter-dedup", "causal-stream")
SCALE = "0.1"
DATA_SEED = 42
CORES = 4
HEAP = "4g"
END_TO_END = ("setup_s", "ops_per_s", "latency_ms.geomean")
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "latency_ms.geomean": "ms"}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def unit(name):
    if name in UNITS:
        return UNITS[name]
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_frac") or name == "exec.skew":
        return "ratio"
    return "count"


def run_bounded(cmd, cwd, log, timeout, env=None):
    """Runs `cmd` in its own process group and waits for it to end. The group
    is killed on timeout, or when this process is asked to stop. Returns the
    exit code (None on timeout)."""
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=fh, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)

        def stop(signum, _frame):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            sys.exit(128 + signum)
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            for s, h in old.items():
                signal.signal(s, h)


def source_stamp(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main", "perfbench/build.sbt",
            "perfbench/project/build.properties", "perfbench/src"]
    for top in tops:
        p = root / top
        files = [p] if p.is_file() else sorted(x for x in p.rglob("*") if x.is_file())
        for f in files:
            h.update(str(f.relative_to(root)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build(root, work, deadline):
    """Compiles the library and the harness with sbt; returns the classpath."""
    stamp = source_stamp(root)
    cp_file, stamp_file = work / "classpath.txt", work / "build.stamp"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-Dsbt.server.forcestart=false"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log = work / "build.log"
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export perfbench/Runtime/fullClasspath"],
                     root / "perfbench", log, deadline - time.time(), env)
    lines = log.read_text(errors="replace").splitlines()
    cps = [ln for ln in lines if "perfbench/target" in ln and ":" in ln and not ln.startswith("[")]
    if rc != 0 or not cps:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (exit {rc})")
    cp_file.write_text(cps[-1].strip())
    stamp_file.write_text(stamp)
    return cps[-1].strip()


def data(work):
    """Generates the input tables once per generator version."""
    gen = HERE / "gen_data.py"
    key = hashlib.sha256(gen.read_bytes()).hexdigest()[:12]
    d = work / "data" / f"sf{SCALE}-{DATA_SEED}-{key}"
    if not d.exists():
        tmp = d.with_suffix(".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run([sys.executable, str(gen), str(tmp), SCALE, str(DATA_SEED)], check=True)
        tmp.rename(d)
    return d


def run_jvm(cp, out, args, deadline):
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
              f"-Dspark.sql.warehouse.dir={out}/warehouse", f"-Dderby.system.home={out}",
              "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              # Hadoop's local file system without a `chmod` or `readlink`
              # process per file operation (NioLocalFileSystem.scala).
              "-Dspark.hadoop.fs.file.impl=perfbench.NioLocalFileSystem",
              "-Dspark.hadoop.fs.AbstractFileSystem.file.impl=perfbench.NioLocalFs",
              "-cp", cp, "perfbench.Main", "--t0", repr(time.time() * 1000.0)] + args)
    rc = run_bounded(cmd, out, out / "jvm.log", deadline - time.time())
    if rc != 0:
        lines = (out / "jvm.log").read_text(errors="replace").splitlines()
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("harness timed out" if rc is None else f"harness exited {rc}")
    return json.loads((out / "raw.json").read_text())


def batch_result(raw, bad):
    """Each item's fastest timed execution, as `graft.Bench` takes the min of
    interleaved passes: the code's cost rather than the host's worst moment."""
    timed = [e for e in raw["execs"] if e["mode"] == "untraced"]
    best = {}
    for e in timed:
        best[e["item"]] = min(best.get(e["item"], math.inf), e["end"] - e["start"])
    lat = list(best.values())
    failed = sum(1 for e in timed if not e["ok"] or e["item"] in bad)
    p, tail = metrics.tail(lat)
    m = {"ops_per_s": 1000.0 * len(lat) / sum(lat), "latency_ms.p50": metrics.median(lat),
         "latency_ms.geomean": metrics.geomean(lat), "latency_ms.tail": tail}
    passes = len(timed) // max(1, len(lat))
    notes = {"latency_ms.tail": f"p{p:g} of {len(lat)} items, best of {passes} passes",
             "ops_per_s": f"item executions per second, best of {passes} passes"}
    return m, len(timed), failed, notes


def stream_result(raw, names, mode="untraced"):
    """Closed-loop events per second: each maintainer's median over its
    batches, then the geometric mean over the maintainers (their rates
    differ, so a median pooled over both would sit between the two and
    jump from run to run). Latency: over every open-loop event."""
    rates, lat, grp = [], [], []
    attempted = failed = 0
    for k, name in enumerate(names):
        ph = raw[f"{mode}.{name}"]
        rates.append(metrics.median(1000.0 * n / (b - a) for a, b, n in ph["closed"]))
        o = ph["open"]
        lt, g = metrics.open_loop_latencies(o["t0"], o["rate"], o["batches"])
        lat += lt
        grp += [(k, x) for x in g]
        n = len(ph["closed"]) + len(o["batches"])
        attempted += n
        if not raw["check"][name]["ok"]:
            failed += n
    p, tail = metrics.tail(lat, grp)
    m = {"ops_per_s": metrics.geomean(rates), "latency_ms.p50": metrics.median(lat),
         "latency_ms.geomean": metrics.geomean(lat), "latency_ms.tail": tail}
    notes = {"latency_ms.tail": f"p{p:g} of {len(lat)} events in {len(set(grp))} micro-batches",
             "ops_per_s": f"closed-loop events per second, geometric mean over {len(names)} "
                          f"maintainers of each one's median batch"}
    return m, attempted, failed, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    started = time.time()
    root = Path.cwd()
    if not (root / "build.sbt").is_file() or not (root / "src" / "main" / "scala" / "graft").is_dir():
        fail("run from the root of a checkout of the library (build.sbt, src/main/scala/graft)", 2)
    work = root / os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    work.mkdir(parents=True, exist_ok=True)
    built_now = not (work / "classpath.txt").exists()
    cp = build(root, work, started + 840)
    data_dir = data(work)
    deadline = (started + 890) if built_now else (started + 175)

    out = work / "runs" / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", str(data_dir), "--out", str(out),
            "--cores", str(CORES)]
    t_jvm = time.time()
    raw = run_jvm(cp, out, args, deadline)
    t_check = time.time()

    setup_s = (raw["t_first_timed"] - raw["t0"]) / 1000.0
    if a.workload == "causal-stream":
        names = sorted(raw["check"])
        bad = {n: c for n, c in raw["check"].items() if not c["ok"]}
        m, attempted, failed, notes = stream_result(raw, names)
    else:
        bad = checks.check_items(raw, out, data_dir, work / "expected")
        m, attempted, failed, notes = batch_result(raw, bad)
    m["setup_s"] = setup_s
    print(f"perfbench: prepare {t_jvm - started:.1f} s, harness {t_check - t_jvm:.1f} s, "
          f"checks {time.time() - t_check:.1f} s", file=sys.stderr)
    for name, why in sorted(bad.items()):
        print(f"FAILED CHECK {name}: {why}")

    if a.trace:
        if a.workload == "causal-stream":
            layer = metrics.stream_layers(raw, names)
            def events_per_s(mode):
                return stream_result(raw, names, mode)[0]["ops_per_s"]
            untraced = (events_per_s("untraced") + events_per_s("after")) / 2
            layer["trace.overhead_frac"] = untraced / events_per_s("traced") - 1.0
        else:
            layer = metrics.batch_layers(raw)
        layer["LocalSession.build_ms"] = raw["session_build_ms"]
        layer["LocalSession.warmup_ms"] = raw["warmup_ms"]
        report = {k: float(layer.get(k, 0.0)) for k in metrics.PER_LAYER}
    else:
        report = {k: float(m[k]) for k in END_TO_END}
    for k, v in report.items():
        note = f"  ({notes[k]})" if k in notes and not a.trace else ""
        print(f"{a.workload} {k} = {v:.6g} {unit(k)}{note}")
    # A run holds tens of samples from a handful of items or micro-batches:
    # its median and tail jump between items from run to run, so they are
    # printed with their sample count but not reported.
    print(f"{a.workload} latency_ms.p50 = {m['latency_ms.p50']:.6g} ms")
    print(f"{a.workload} latency_ms.tail = {m['latency_ms.tail']:.6g} ms  ({notes['latency_ms.tail']})")
    print(f"{a.workload} failed_frac = {failed / max(attempted, 1):.6g} ({failed} of {attempted})")
    shutil.rmtree(out, ignore_errors=True)
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": unit(k)} for k, v in report.items()}}))


if __name__ == "__main__":
    main()
